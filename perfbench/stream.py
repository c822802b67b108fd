"""``eligibility_stream``: eligibility requests through the stream, one
burst per micro-batch.

Set-up writes a generated operational flights table (CSV) and starts
``run_eligibility_stream(available_now=False)`` on a ``kafkalog`` topic.
A client then sends bursts of ``BURST`` seeded messages through
``KafkaLogProducer.send``, each message stamped with its send time as
``requested_at``. It sends burst k+1 as soon as the stream has fixed the
offsets of the micro-batch that holds burst k (the batch's file appears
in the checkpoint's offset log), so the stream is never idle and each
micro-batch takes exactly one whole burst, whatever the host's speed.
An open loop at a fixed rate would instead let the host's speed set the
size and number of micro-batches, and with them the bytes written and
the CPU spent per request. ``N_WARM`` bursts run before the timed ones,
as the first micro-batches of a fresh JVM are several times slower than
the next ones: all but the last in set-up, after which the stream
drains and idles until the timed phase starts.

A request's latency runs from its send until the micro-batch that holds
its offset committed (trigger start plus trigger duration, from the
query's progress); with the next burst queued behind the running batch,
that is about two micro-batches. Afterwards, untimed: each request must
have exactly one verdict, equal to the batch ``check_eligibility`` over
the same requests, within the reference's 30 s client budget; every
message is audited once; every timed micro-batch held one burst.
"""

from __future__ import annotations

import bisect
import csv
import json
import os
import random
import statistics
import time
from datetime import datetime, timezone

import gen
from cpu import Meter

BURST = 400  # messages per burst, so per micro-batch
N_FLIGHT_NUMBERS = 2000
N_WARM = 3  # bursts before the timed ones: all but the last in set-up
# Bursts the timed phase runs at least, and over which op_cpu_ms is taken:
# the CPU a batch costs still falls from batch to batch as the JIT compiler
# catches up, so every run counts the same batches, however fast the host.
N_TIMED = 8
TOPIC = "eligibility_requests"
LATENCY_LIMIT_S = 30.0  # frontend/src/App.jsx:189, the client's budget
VERDICT_COLS = ["passenger_id", "flight_number", "delay_minutes", "eligible", "reason"]
POLL_S = 0.005  # how often the client looks for a new batch in the offset log


def _iso(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).isoformat(timespec="milliseconds")


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _offsets(v) -> dict[str, int]:
    if v is None:
        return {}
    if isinstance(v, str):
        v = json.loads(v)
    return {str(k): int(x) for k, x in v.items()}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EligibilityStream:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.query = None

    def setup(self, spark, work: str) -> None:
        from date_warehouse___airline_project_spark.sources.kafka_log import (
            KafkaLogProducer,
        )
        from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
            kafka_log_messages_source,
            run_eligibility_stream,
        )

        self.rng = random.Random(self.seed)
        rows, self.numbers = gen.eligibility_flights(self.rng, N_FLIGHT_NUMBERS)
        self.dirs = {k: os.path.join(work, k)
                     for k in ("flights", "topic", "audit", "results", "checkpoint")}
        os.makedirs(self.dirs["flights"])
        with open(os.path.join(self.dirs["flights"], "flights.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["flight_number", "scheduled_departure", "actual_departure"])
            w.writerows([r["flight_number"], r["scheduled_departure"], r["actual_departure"]]
                        for r in rows)
        self.flights = spark.read.csv(
            self.dirs["flights"], header=True,
            schema="flight_number string, scheduled_departure string, actual_departure string",
        )
        self.producer = KafkaLogProducer(self.dirs["topic"], n_partitions=2)
        self.sent: list[str] = []  # every message value, in send order
        self.requests: set[str] = set()
        self.records: list[tuple] = []  # (burst, sent, partition, offset, is_request)
        self.burst = 0
        self.end = {}  # next offset per partition after the last burst sent
        self._send_burst()  # burst 0 is on the topic when the query starts
        source = kafka_log_messages_source(spark, self.dirs["topic"], TOPIC, "earliest")
        self.query = run_eligibility_stream(
            spark, None, self.flights, self.dirs["audit"], self.dirs["results"],
            self.dirs["checkpoint"], available_now=False, source=source,
        )
        for _ in range(N_WARM - 2):
            self._next_batch_fixed()
            self._send_burst()
        self.query.processAllAvailable()  # idle between set-up and the timed phase

    def _send_burst(self) -> None:
        for _ in range(BURST):
            i = len(self.sent)
            value, is_req = gen.eligibility_message(self.rng, i, self.numbers,
                                                    _iso(time.time()))
            p, off = self.producer.send(TOPIC, value)
            self.records.append((self.burst, time.time(), p, off, is_req))
            self.sent.append(value)
            if is_req:
                self.requests.add(f"R{i:07d}")
            self.end[str(p)] = off + 1
        self.burst += 1

    def _next_batch_fixed(self) -> float:
        """Wait until the stream has fixed the offsets of a micro-batch
        that ends at or after the last burst sent: the batch's file in the
        checkpoint's offset log (a version line, the batch metadata, then
        one line per source offset), which Spark writes whole by rename.
        Return when the file was written."""
        log = os.path.join(self.dirs["checkpoint"], "offsets")
        while True:
            ids = [int(n) for n in os.listdir(log) if n.isdigit()] if os.path.isdir(log) else []
            if ids:
                path = os.path.join(log, str(max(ids)))
                with open(path) as f:
                    got = _offsets(f.read().splitlines()[2])
                if all(got.get(p, 0) >= e for p, e in self.end.items()):
                    return os.stat(path).st_mtime
            if not self.query.isActive:
                raise RuntimeError(f"the stream stopped: {self.query.exception()}")
            time.sleep(POLL_S)

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        self.producer.close()

    def run(self, spark, seconds: float, tracer) -> dict:
        meter = Meter()
        # the last warm-up burst goes to the idle stream, which may take it
        # in more than one batch; the timed bursts queue behind it
        self._send_burst()
        released = self._next_batch_fixed()
        self.timed_from = self.burst
        topic_bytes = _dir_bytes(self.dirs["topic"])
        late = [time.time() - released]  # from a batch's offsets to the next send
        self._send_burst()  # the first timed burst, queued behind it
        released = self._next_batch_fixed()  # and now running: the timed window opens
        marks = [meter.read()]  # CPU seconds at the start of each timed batch
        t0 = time.perf_counter()
        out_bytes = _dir_bytes(self.dirs["audit"]) + _dir_bytes(self.dirs["results"])
        deadline = t0 + seconds
        while time.perf_counter() < deadline or self.burst - self.timed_from < N_TIMED:
            late.append(time.time() - released)
            self._send_burst()
            released = self._next_batch_fixed()
            marks.append(meter.read())
        self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        marks.append(meter.read())
        written = _dir_bytes(self.dirs["audit"]) + _dir_bytes(self.dirs["results"]) - out_bytes
        bytes_in = _dir_bytes(self.dirs["topic"]) - topic_bytes

        # untimed from here: map each offset to the batch that committed it
        batches = []  # (start offsets, end offsets, start, commit, batch id, ms)
        for prog in self.query.recentProgress:
            p = json.loads(prog.json)
            if not p.get("numInputRows"):
                continue
            src = p["sources"][0]
            start, ms = _epoch_ms(p["timestamp"]) / 1000.0, p["durationMs"]["triggerExecution"]
            batches.append((_offsets(src.get("startOffset")), _offsets(src.get("endOffset")),
                            start, start + ms / 1000.0, p["batchId"], ms))
        timed = [r for r in self.records if r[0] >= self.timed_from]
        latencies, queued, failed, problems, over = [], [], 0, [], 0
        batch_of: dict[int, set[int]] = {}  # burst -> batch ids holding it
        for burst, sent, part, off, is_req in self.records:
            hit = next(((st, c, b) for s, e, st, c, b, _ms in batches
                        if s.get(str(part), 0) <= off < e.get(str(part), 0)), None)
            if hit is None:
                if burst >= self.timed_from:
                    failed += is_req
                    problems.append(f"offset {part}:{off} was never committed in a batch")
                continue
            start, commit, b = hit
            batch_of.setdefault(burst, set()).add(b)
            if burst < self.timed_from or not is_req:
                continue
            latencies.append(commit - sent)
            queued.append(start - sent)
            if commit - sent > LATENCY_LIMIT_S:
                over += 1
        failed += over
        if over:
            problems.append(f"{over} requests got their verdict after the "
                            f"{LATENCY_LIMIT_S:.0f} s client budget")
        timed_batches = {b for k, bs in batch_of.items() if k >= self.timed_from for b in bs}
        split = sorted(k for k, bs in batch_of.items() if k >= self.timed_from and len(bs) != 1)
        shared = [b for b in timed_batches
                  if sum(b in bs for bs in batch_of.values()) != 1]
        if split or shared:
            problems.append(f"bursts {split} spread over several micro-batches, batches "
                            f"{shared} held several bursts: one burst a batch was not kept")
        bad = self._verify(spark)
        failed += len(bad)
        problems += [f"request {pid}: {why}" for pid, why in sorted(bad.items())[:20]]
        n_bursts = self.burst - self.timed_from
        sent = sorted(r[1] for r in self.records)
        backlog = max((bisect.bisect_right(sent, c) - sum(e.values())
                       for _s, e, _st, c, b, _ms in batches if b in timed_batches),
                      default=0)
        # CPU per request of the first N_TIMED micro-batches, each from its
        # start to the next one's
        per_burst = [sum(r[4] for r in timed if r[0] == k)
                     for k in range(self.timed_from, self.timed_from + N_TIMED)]
        op_cpu = [(b - a) / n for a, b, n in zip(marks, marks[1:], per_burst)]
        return {
            "latencies": latencies, "op_cpu_s": op_cpu,
            "attempted": sum(1 for r in timed if r[4]),
            "failed": failed, "problems": problems, "wall_s": wall,
            "rows_in": len(timed), "bytes_in": bytes_in, "bytes_written": written,
            "extra": {
                "bursts": n_bursts,
                # messages sent but not yet committed, at a batch's commit
                "backlog_max": backlog,
                # how long the client took to send the next burst
                "late_p99_ms": 1000.0 * sorted(late)[int(0.99 * (len(late) - 1))],
                # how long a request waited for its micro-batch to start
                "queue_ms": 1000.0 * statistics.median(queued) if queued else 0.0,
                "batch_ms": {b: ms for _s, _e, _st, _c, b, ms in batches
                             if b in timed_batches},
            },
        }

    def _verify(self, spark) -> dict[str, str]:
        """Every request has exactly one verdict, equal to the batch form's."""
        import pyarrow.parquet as pq

        from date_warehouse___airline_project_spark.pipelines.eligibility import (
            check_eligibility,
        )
        from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
            eligibility_requests,
            parse_messages,
        )

        # the stream's outputs are read with pyarrow, the batch verdicts with Spark
        got: dict[str, list[tuple]] = {}
        for r in pq.read_table(self.dirs["results"], columns=VERDICT_COLS).to_pylist():
            got.setdefault(r["passenger_id"], []).append(tuple(r[c] for c in VERDICT_COLS))
        msgs = spark.createDataFrame([(v,) for v in self.sent], "value string")
        want = {
            r["passenger_id"]: tuple(r)
            for r in check_eligibility(eligibility_requests(parse_messages(msgs)), self.flights)
            .select(*VERDICT_COLS).collect()
        }
        bad = {}
        for pid in self.requests:
            rows = got.get(pid, [])
            if len(rows) != 1:
                bad[pid] = f"{len(rows)} verdicts"
            elif rows[0] != want.get(pid):
                bad[pid] = f"stream verdict {rows[0]} != batch verdict {want.get(pid)}"
        for pid in set(got) - self.requests:
            bad[pid] = "verdict without a request"
        n_audit = pq.read_table(self.dirs["audit"], columns=["batch_id"]).num_rows
        if n_audit != len(self.sent):
            bad["(audit)"] = f"{n_audit} audit rows for {len(self.sent)} messages"
        return bad

    def check(self, spark) -> list[str]:
        return []
