"""Tracing for the ``--trace 1`` run, built only from the benchmark's files.

* **Spans.** ``Tracer.install`` replaces the public functions each layer
  exposes, in the namespaces their callers look them up in, with
  wrappers that record a span (layer, start, end, parent span, operation).
  Spans are kept in memory; ``span_summary`` folds them at the end. A
  layer's self time is its span minus the part its child spans cover.
* **Job groups.** Each operation of a closed loop runs in its own Spark
  job group; ``end_op`` reads its jobs, stages and tasks back through
  ``statusTracker()``.
* **Event log.** The launch configuration turns Spark's event log on
  (``run.configure_environment``); ``fold_event_log`` sums the task
  metrics per job group or micro-batch after the session has stopped.
* **Streaming progress.** ``ProgressListener`` is a
  ``StreamingQueryListener`` that keeps every progress event.

Nothing here runs in the untraced run, whose tracer is ``NULL``.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PKG = "date_warehouse___airline_project_spark"

# (module, attribute, layer). The attribute is replaced in the module
# that calls it, so the wrapper sees exactly the calls that layer gets.
TARGETS = [
    ("pipelines.clean_file", "clean_file", "pipelines.clean_file"),
    ("pipelines.clean_file", "read_csv_all_string", "sources.csv"),
    ("pipelines.clean_file", "safe_upsert", "sources.sinks.upsert"),
    ("pipelines.clean_file", "write_quarantine_csv", "sources.sinks.quarantine"),
    ("pipelines.clean_file", "append_log", "sources.sinks.log"),
    *[("pipelines.clean_file", f"clean_{t}", "pipelines.cleaners")
      for t in ("airlines", "airports", "flights", "passengers", "transactions",
                "airlinesales")],
    ("pipelines.cleaners", "fuzzy_correct", "operators.fuzzy"),
    ("streaming.eligibility_stream", "check_eligibility", "pipelines.eligibility"),
    ("streaming.eligibility_stream", "parse_messages", "streaming.eligibility_stream"),
]
# methods: (module, class, method, layer)
METHOD_TARGETS = [("sources.kafka_log", "KafkaLogProducer", "send", "sources.kafka_log")]

PER_OP_LAYERS = {
    "sources.csv.busy_s": "sources.csv",
    "pipelines.cleaners.busy_s": "pipelines.cleaners",
    "operators.fuzzy.busy_s": "operators.fuzzy",
    "sources.sinks.upsert_s": "sources.sinks.upsert",
    "sources.sinks.quarantine_s": "sources.sinks.quarantine",
    "sources.sinks.log_s": "sources.sinks.log",
    "pipelines.eligibility.busy_s": "pipelines.eligibility",
}

# accumulable names of the Python-worker SQL metrics
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class NullTracer:
    def install(self, spark) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def begin_op(self, i: int) -> None:
        pass

    def end_op(self, i: int, seconds: float) -> None:
        pass


NULL = NullTracer()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer(NullTracer):
    def __init__(self, eventlog_dir: str) -> None:
        self.eventlog_dir = eventlog_dir
        self.spans: list[list] = []  # [layer, start, end, parent, op]
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.ops: dict[int, dict] = {}
        self.op = -1
        self.listener = None

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            st = tracer._stack()
            idx = len(tracer.spans)
            tracer.spans.append([layer, time.perf_counter(), None,
                                 st[-1] if st else -1, tracer.op])
            st.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                st.pop()
                tracer.spans[idx][2] = time.perf_counter()

        traced.__wrapped__ = fn
        return traced

    def install(self, spark) -> None:
        self.spark, self.sc = spark, spark.sparkContext
        for mod, attr, layer in TARGETS:
            m = importlib.import_module(f"{PKG}.{mod}")
            self._patched.append((m, attr, getattr(m, attr)))
            setattr(m, attr, self._wrap(getattr(m, attr), layer))
        for mod, cls, meth, layer in METHOD_TARGETS:
            c = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
            self._patched.append((c, meth, c.__dict__[meth]))
            setattr(c, meth, self._wrap(c.__dict__[meth], layer))
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.t_window = [time.time() * 1000.0, None]

    def uninstall(self) -> None:
        self.t_window[1] = time.time() * 1000.0
        while self._patched:
            obj, attr, orig = self._patched.pop()
            setattr(obj, attr, orig)
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)

    # -- closed-loop operations -------------------------------------------
    def begin_op(self, i: int) -> None:
        self.op = i
        self.sc.setJobGroup(f"perfbench-op-{i}", f"perfbench operation {i}")

    def end_op(self, i: int, seconds: float) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-op-{i}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is not None and sinfo.numTasks:
                    stages += 1
                    tasks += sinfo.numTasks
        self.ops[i] = {"seconds": seconds, "jobs": len(jobs), "stages": stages,
                       "tasks": tasks}
        self.op = -1
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- folds ------------------------------------------------------------
    def layer_totals(self) -> tuple[dict[str, float], dict[str, float]]:
        """Per layer: (busy seconds, self seconds). Busy counts only the
        outermost span of a layer, so recursion is not counted twice."""
        children: dict[int, list[int]] = {}
        for idx, sp in enumerate(self.spans):
            children.setdefault(sp[3], []).append(idx)
        busy: dict[str, float] = {}
        self_s: dict[str, float] = {}
        for idx, (layer, start, end, parent, _op) in enumerate(self.spans):
            if end is None:
                continue
            dur = end - start
            kids = [(self.spans[c][1], self.spans[c][2]) for c in children.get(idx, [])
                    if self.spans[c][2] is not None]
            self_s[layer] = self_s.get(layer, 0.0) + dur - _union(kids)
            p = parent
            while p != -1 and self.spans[p][0] != layer:
                p = self.spans[p][3]
            if p == -1:
                busy[layer] = busy.get(layer, 0.0) + dur
        return busy, self_s

    def span_summary(self) -> dict:
        busy, self_s = self.layer_totals()
        counts: dict[str, int] = {}
        for sp in self.spans:
            counts[sp[0]] = counts.get(sp[0], 0) + 1
        return {k: {"spans": counts[k], "busy_s": busy.get(k, 0.0),
                    "self_s": self_s.get(k, 0.0)} for k in sorted(counts)}

    def fold_event_log(self, app_id: str) -> dict:
        """Task metrics per unit of work from the event log: a job group
        (closed loop) or a micro-batch id (stream)."""
        path = os.path.join(self.eventlog_dir, app_id)
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        units: dict[str, dict] = {}
        lo, hi = self.t_window
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    unit = props.get("spark.jobGroup.id") or ""
                    if not unit.startswith("perfbench-op-"):
                        batch = props.get("streaming.sql.batchId")
                        unit = f"batch-{batch}" if batch is not None else ""
                    t = ev["Submission Time"]
                    if not unit or not (lo <= t <= hi):
                        continue
                    jobs[ev["Job ID"]] = {"unit": unit, "start": t, "end": t}
                    for s in ev["Stage IDs"]:
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev["Stage ID"])
                    if j is None:
                        continue
                    u = units.setdefault(jobs[j]["unit"], _new_unit())
                    _add_task(u, ev)
        for j in jobs.values():
            u = units.setdefault(j["unit"], _new_unit())
            u["intervals"].append((j["start"], j["end"]))
            u["jobs"] += 1
        return units

    def per_layer(self, res: dict, app_id: str, session_s: float) -> dict:
        extra = res.get("extra", {})
        n_ops = max(1, len(res["latencies"]))
        busy, self_s = self.layer_totals()
        units = self.fold_event_log(app_id)
        m: dict[str, tuple[float, str]] = {}
        m["session.start_s"] = (session_s, "s")
        for name, layer in PER_OP_LAYERS.items():
            m[name] = (busy.get(layer, 0.0) / n_ops, "s/op")
        m["pipelines.clean_file.self_s"] = (self_s.get("pipelines.clean_file", 0.0) / n_ops,
                                            "s/op")
        m["sources.sinks.bytes_written"] = (res["bytes_written"] / n_ops, "B/op")

        # Spark engine, per operation
        if self.ops:  # closed loop: job groups read back via statusTracker
            m["spark.jobs"] = (sum(o["jobs"] for o in self.ops.values()) / n_ops, "1/op")
            m["spark.stages"] = (sum(o["stages"] for o in self.ops.values()) / n_ops, "1/op")
            m["spark.tasks"] = (sum(o["tasks"] for o in self.ops.values()) / n_ops, "1/op")
            unit_wall_ms = {f"perfbench-op-{i}": o["seconds"] * 1000.0
                            for i, o in self.ops.items()}
        else:  # stream: micro-batches from the event log
            m["spark.jobs"] = (sum(u["jobs"] for u in units.values()) / n_ops, "1/op")
            m["spark.stages"] = (sum(len(u["stages"]) for u in units.values()) / n_ops, "1/op")
            m["spark.tasks"] = (sum(u["tasks"] for u in units.values()) / n_ops, "1/op")
            unit_wall_ms = {f"batch-{b}": ms for b, ms in extra.get("batch_ms", {}).items()}
        gap_ms = sum(max(0.0, wall - _union(units[u]["intervals"]) if u in units else wall)
                     for u, wall in unit_wall_ms.items())
        m["scheduler.gap_s"] = (gap_ms / 1000.0 / n_ops, "s/op")
        tot = _new_unit()
        for u in units.values():
            for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill",
                      "py_out", "py_in"):
                tot[k] += u[k]
        m["executor.run_s"] = (tot["run_ms"] / 1000.0 / n_ops, "s/op")
        m["executor.cpu_s"] = (tot["cpu_ns"] / 1e9 / n_ops, "s/op")
        m["executor.gc_s"] = (tot["gc_ms"] / 1000.0 / n_ops, "s/op")
        m["shuffle.read_bytes"] = (tot["shuffle_read"] / n_ops, "B/op")
        m["shuffle.write_bytes"] = (tot["shuffle_write"] / n_ops, "B/op")
        m["spill_bytes"] = (tot["spill"] / n_ops, "B/op")
        m["pyworker.bytes_out"] = (tot["py_out"] / n_ops, "B/op")
        m["pyworker.bytes_in"] = (tot["py_in"] / n_ops, "B/op")

        # streaming progress (listener), zero on closed-loop workloads
        prog = [p for p in (self.listener.events if self.listener else [])
                if p.get("numInputRows", 0) > 0]

        def med(key: str) -> float:
            vals = [p["durationMs"].get(key, 0) for p in prog]
            return float(statistics.median(vals)) if vals else 0.0

        m["stream.batches"] = (float(len(prog)), "count")
        m["stream.rows_per_batch"] = (
            float(statistics.median([p["numInputRows"] for p in prog])) if prog else 0.0, "rows")
        m["stream.batch_ms"] = (med("triggerExecution"), "ms")
        m["stream.add_batch_ms"] = (med("addBatch"), "ms")
        m["stream.latest_offset_ms"] = (med("latestOffset"), "ms")
        m["stream.queue_ms"] = (float(extra.get("queue_ms", 0.0)), "ms")
        m["stream.backlog_max"] = (float(extra.get("backlog_max", 0)), "count")
        sends = [e - s for layer, s, e, _p, _o in self.spans
                 if layer == "sources.kafka_log" and e is not None]
        m["kafka_log.send_ms"] = (1000.0 * statistics.fmean(sends) if sends else 0.0, "ms")
        m["loadgen.late_p99_ms"] = (float(extra.get("late_p99_ms", 0.0)), "ms")
        m["traced.op_p50_ms"] = (res["latency"]["op_p50_ms"], "ms")
        m["traced.op_tail_ms"] = (res["latency"]["op_tail_ms"], "ms")
        m["traced.op_cpu_ms"] = (1000.0 * statistics.median(res["op_cpu_s"] or [0.0]), "ms")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _new_unit() -> dict:
    return {"jobs": 0, "stages": set(), "tasks": 0, "intervals": [], "run_ms": 0,
            "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "py_out": 0, "py_in": 0}


def _add_task(u: dict, ev: dict) -> None:
    u["tasks"] += 1
    u["stages"].add(ev["Stage ID"])
    tm = ev.get("Task Metrics") or {}
    u["run_ms"] += tm.get("Executor Run Time", 0)
    u["cpu_ns"] += tm.get("Executor CPU Time", 0)
    u["gc_ms"] += tm.get("JVM GC Time", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    u["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    u["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    u["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name in (PY_SENT, PY_RECV):
            try:
                v = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            u["py_out" if name == PY_SENT else "py_in"] += v


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event as a dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
