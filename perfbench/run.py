#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload etl_upload --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. It starts the Spark session,
builds the inputs of the workload from ``--seed`` and warms the workload
up (``setup_s`` is the time from process start to the first timed
operation), runs the timed phase for ``--seconds``, checks the outputs
in an untimed pass, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the tracing of ``spans.py``
and reports the per-layer metrics instead. ``--out FILE`` also writes
the full run record (every latency, span summary and check) for
``report.py``.

Everything the run writes goes to a temporary directory under
``.perfbench_tmp/`` in the repository root, which is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from cpu import steal_s, stop_descendants  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "date_warehouse___airline_project_spark"
WORKLOADS = ("etl_upload", "eligibility_stream")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full run record to this JSON file")
    return ap.parse_args(argv)


def configure_environment(work: str, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and the Python workers
    into ``work``; must run before pyspark starts the JVM."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    # Python workers import the package (e.g. the kafkalog source)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, spark-submit's launcher included; no hsperfdata under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples
    beyond it: (value, percentile, samples beyond). With fewer than 20
    samples that percentile would sit at or below the median, so the
    maximum is returned instead, as p100 with none beyond."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    pct = math.floor(100.0 * (n - 10) / n * 10) / 10  # one decimal, rounded down
    k = max(0, min(n - 1, math.ceil(pct / 100.0 * n) - 1))
    return xs[k], pct, n - 1 - k


def memory_mb(spark) -> dict[str, float]:
    """Memory the driver needs, in MB: peak resident set (VmHWM) of this
    Python process, and the JVM's heap and non-heap in use after a full
    GC. The JVM's own resident peak is not used: with a large maximum
    heap it follows when the collector happened to run, not what the
    program kept (it read 1.3-2.0 GB on identical runs)."""
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    jvm = spark.sparkContext._jvm
    # the second collection frees what Spark's ContextCleaner released
    # in response to the first
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {"python": py_kb / 1024.0,
            "heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20}


def latency_summary(latencies_s: list[float]) -> dict[str, float]:
    lat_ms = [1000.0 * x for x in latencies_s]
    if not lat_ms:  # every operation failed
        return {"op_p50_ms": 0.0, "op_tail_ms": 0.0, "tail_percentile": 0.0,
                "tail_samples_beyond": 0, "samples": 0}
    tail, pct, beyond = percentile_tail(lat_ms)
    return {"op_p50_ms": statistics.median(lat_ms), "op_tail_ms": tail,
            "tail_percentile": pct, "tail_samples_beyond": beyond, "samples": len(lat_ms)}


def end_to_end(res: dict, setup_s: float, mem_mb: float) -> dict:
    """The gated metrics. The other end-to-end figures are printed on
    the line before the result (``reported``) but not gated."""
    m = {
        "write_amp": (res["bytes_written"] / res["bytes_in"], "ratio"),
        "memory_mb": (mem_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def reported(workload: str, res: dict) -> str:
    """The ungated end-to-end figures, as one line: times, which the
    host's speed sets as much as the program does (see the README).
    ``op_cpu_ms`` is the median CPU time of an operation. On
    ``etl_upload`` (one closed-loop client, two uploads a run)
    ``ops_per_s`` and ``rows_per_s`` are fixed multiples of the mean
    upload time, and ``op_tail_ms`` is the slower upload. ``steal_frac``
    is no metric of the program: it tells a run slowed by its host from a
    slow program."""
    lat, n = res["latency"], len(res["latencies"])
    parts = [f"wall_s {res['wall_s']:.2f} s",
             f"op_p50_ms {lat['op_p50_ms']:.1f} ms",
             f"op_tail_ms {lat['op_tail_ms']:.1f} ms (p{lat['tail_percentile']} of "
             f"{lat['samples']} operations, {lat['tail_samples_beyond']} beyond it)",
             f"ops_per_s {n / res['wall_s']:.4f} 1/s",
             f"op_cpu_ms {1000.0 * statistics.median(res['op_cpu_s'] or [0.0]):.2f} ms"]
    if workload == "etl_upload":
        parts.append(f"rows_per_s {res['rows_in'] / res['wall_s']:.1f} 1/s")
    parts.append(f"steal_frac {res['steal_frac']:.3f}")
    return ", ".join(parts)


def make_workload(name: str, seed: int):
    if name == "etl_upload":
        from etl import EtlUpload

        return EtlUpload(seed)
    from stream import EligibilityStream

    return EligibilityStream(seed)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args: argparse.Namespace, work: str) -> dict:
    sys.path.insert(0, ROOT)
    from date_warehouse___airline_project_spark.session import get_spark

    import spans

    wl = make_workload(args.workload, args.seed)
    tracer = spans.Tracer(os.path.join(work, "eventlog")) if args.trace else spans.NULL
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        wl.setup(spark, os.path.join(work, "run"))
        setup_s = time.perf_counter() - T_PROCESS
        tracer.install(spark)
        steal0, t_run = steal_s(), time.perf_counter()
        try:
            res = wl.run(spark, args.seconds, tracer)
        finally:
            tracer.uninstall()
        res["steal_frac"] = (steal_s() - steal0) / (
            (time.perf_counter() - t_run) * len(os.sched_getaffinity(0)))
        problems = res["problems"] + wl.check(spark)
        mem = memory_mb(spark)
        wl.close()
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)

    res["latency"] = latency_summary(res["latencies"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_s": setup_s, "session_s": session_s,
        "wall_s": res["wall_s"], "steal_frac": res["steal_frac"],
        "memory_mb": mem, "problems": problems,
        "attempted": res["attempted"], "failed": res["failed"],
    }
    if args.trace:
        metrics = tracer.per_layer(res, app_id, session_s)
        record["spans"] = tracer.span_summary()
    else:
        metrics = end_to_end(res, setup_s, sum(mem.values()))
    record["latency"] = res["latency"]
    record["reported"] = reported(args.workload, res)
    record["metrics"] = metrics
    record["latencies_s"] = res["latencies"]
    record["op_cpu_s"] = res["op_cpu_s"]
    record["extra"] = res.get("extra", {})
    return record


def main(argv: list[str]) -> int:
    # a termination unwinds like an error: the session and the JVM stop,
    # and the temporary directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    configure_environment(work, bool(args.trace))
    try:
        record = run(args, work)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    for p in record["problems"][:20]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    failed = record["failed"] + (1 if record["problems"] and not record["failed"] else 0)
    failed = min(failed, record["attempted"])
    print(f"{record['reported']}, failed_frac {failed / record['attempted']:.4f} "
          f"({failed} of {record['attempted']})")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    line = {
        "correct": not record["problems"],
        "attempted": record["attempted"],
        "failed": failed,
        "metrics": record["metrics"],
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
