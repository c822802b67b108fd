"""``etl_upload``: closed-loop ``clean_file`` re-uploads, one client.

Set-up writes one dirty CSV for each of the six file types and uploads
four of them once, untimed: the two dimensions first (flights are
cleaned against them), then the two files the timed phase re-uploads.
The first upload also warms the pipeline in the fresh JVM. The timed
phase runs rounds of those two re-uploads, each with real cleaning
work: transactions at the reference's 300-row artifact size, and 10,000
flights, whose airport and airline keys go through the fuzzy
correction. Each staging table already exists, so every timed
``clean_file`` merges through ``safe_upsert``'s upsert branch
(anti-join, full-table rewrite, swap) into a table of a steady size. A
new round starts only while time is left, so a run always times whole
rounds and the mix of uploads does not depend on how fast the host is.
Each operation is one ``clean_file`` call; after each, outside the
timed region, the summary and the quarantine CSV are checked against
what the generator planted. Passengers and airline sales are written
but not uploaded: one more upload costs a run 4-8 s of set-up and as
much of timed phase, and a run is kept near one minute.
"""

from __future__ import annotations

import csv
import os
import random
import time
from collections import Counter

import gen
from cpu import Meter

SMALL, LARGE = 300, 10_000  # the reference's artifact size, and a bulk class

# (file type, size class). Dimensions load before flights; set-up uploads
# both lists once, the timed phase re-uploads ROUND.
SETUP_UPLOADS = [("airlines", SMALL), ("airports", SMALL)]
ROUND = [("transactions", SMALL), ("flights", LARGE)]


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(seed: int) -> dict[tuple[str, int], gen.Upload]:
    rng = random.Random(seed)
    airlines, foreign = gen.airlines(rng, SMALL)
    airports = gen.airports(rng, SMALL)
    dims = gen.Dims(tuple(airlines.keys), tuple(airports.keys), tuple(foreign))
    return {
        ("airlines", SMALL): airlines,
        ("airports", SMALL): airports,
        ("airlinesales", SMALL): gen.airlinesales(rng, SMALL),
        ("passengers", SMALL): gen.passengers(rng, SMALL, first_key=10_000),
        ("transactions", SMALL): gen.transactions(rng, SMALL),
        ("flights", LARGE): gen.flights(rng, LARGE, dims, first_number=100),
    }


class EtlUpload:
    def __init__(self, seed: int) -> None:
        self.seed = seed

    def setup(self, spark, work: str) -> None:
        """Write the inputs, make the output directories, and upload the
        set-up files."""
        self.uploads = generate(self.seed)
        self.paths = {}
        os.makedirs(os.path.join(work, "in"), exist_ok=True)
        for (ftype, size), up in self.uploads.items():
            p = os.path.join(work, "in", f"{ftype}_{size}.csv")
            with open(p, "w", encoding="utf-8") as f:
                f.write(up.text)
            self.paths[(ftype, size)] = p
        self.staging = os.path.join(work, "staging")
        self.quarantine = os.path.join(work, "quarantine")
        self.logs = os.path.join(work, "logs")
        for d in (self.staging, self.quarantine, self.logs):
            os.makedirs(d, exist_ok=True)
        from date_warehouse___airline_project_spark.pipelines.clean_file import clean_file

        self.setup_problems = []
        for ftype, size in SETUP_UPLOADS + ROUND:
            s = clean_file(spark, self.paths[(ftype, size)], ftype, self.staging,
                           self.quarantine, self.logs)
            self.setup_problems += [f"set-up {ftype}/{size}: {b}"
                                    for b in self._check_call(self.uploads[(ftype, size)], s)]
        self.uploaded = set(SETUP_UPLOADS + ROUND)
        self.timed_calls = 0  # timed clean_file calls that returned

    def run(self, spark, seconds: float, tracer) -> dict:
        from date_warehouse___airline_project_spark.pipelines.clean_file import (
            STAGING_TABLES,
            clean_file,
        )

        lat, cpu, problems, failed = [], [], list(self.setup_problems), 0
        meter = Meter()
        rows_in = bytes_in = bytes_out = 0
        log_bytes = _dir_bytes(self.logs)
        t_start = time.perf_counter()
        deadline = t_start + seconds
        i = 0
        while i % len(ROUND) or time.perf_counter() < deadline:
            key = ROUND[i % len(ROUND)]
            ftype, size = key
            up, path = self.uploads[key], self.paths[key]
            tracer.begin_op(i)
            c0 = meter.read()
            t0 = time.perf_counter()
            try:
                summary = clean_file(spark, path, ftype, self.staging, self.quarantine,
                                     self.logs)
            except Exception as e:  # noqa: BLE001 - a failed upload is a result
                summary, err = None, f"op {i} {ftype}/{size}: {type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            c1 = meter.read()
            tracer.end_op(i, dt)
            # untimed: verify the call and account its bytes
            if summary is None:
                failed += 1
                problems.append(err)
            else:
                self.timed_calls += 1
                bad = self._check_call(up, summary)
                if bad:
                    failed += 1
                    problems.extend(f"op {i} {ftype}/{size}: {b}" for b in bad)
                lat.append(dt)
                cpu.append(c1 - c0)
                rows_in += up.rows
                bytes_in += os.path.getsize(path)
                new_log = _dir_bytes(self.logs)
                # the merge rewrites the whole staging table
                bytes_out += (
                    _dir_bytes(os.path.join(self.staging, STAGING_TABLES[ftype]))
                    + _dir_bytes(summary["quarantine_csv"])
                    + new_log - log_bytes
                )
                log_bytes = new_log
            i += 1
        wall = time.perf_counter() - t_start
        return {"latencies": lat, "op_cpu_s": cpu, "attempted": i, "failed": failed,
                "problems": problems, "wall_s": wall, "rows_in": rows_in,
                "bytes_in": bytes_in, "bytes_written": bytes_out}

    def _check_call(self, up: gen.Upload, s: dict) -> list[str]:
        bad = []
        if s["rows_in"] != up.rows:
            bad.append(f"rows_in {s['rows_in']} != generated {up.rows}")
        if s["rows_in"] != s["rows_clean"] + s["rows_quarantined"]:
            bad.append(f"rows_in {s['rows_in']} != clean {s['rows_clean']} "
                       f"+ quarantined {s['rows_quarantined']}")
        if s["rows_clean"] != up.expected_clean:
            bad.append(f"rows_clean {s['rows_clean']} != expected {up.expected_clean}")
        with open(s["quarantine_csv"], encoding="utf-8-sig", newline="") as f:
            recs = list(csv.DictReader(f))
        if len(recs) != s["rows_quarantined"]:
            bad.append(f"quarantine CSV has {len(recs)} rows, summary says "
                       f"{s['rows_quarantined']}")
        got = Counter(r.get("quarantine_reason") for r in recs)
        if got != up.expected_quarantine:
            bad.append(f"quarantine reasons {dict(got)} != planted "
                       f"{dict(up.expected_quarantine)}")
        return bad

    def check(self, spark) -> list[str]:
        """Untimed, after the timed phase: every set-up upload inserted a
        new staging table and every timed one merged into it (the
        ``LOAD_STAGING`` steps of the process log), and staging keys stay
        unique across re-uploads and hold every clean key of the files
        uploaded. Logs and staging tables are read with pyarrow, a reader
        independent of the engine under test."""
        import ast

        import pyarrow.parquet as pq

        from date_warehouse___airline_project_spark.pipelines.clean_file import (
            STAGING_TABLES,
            UPSERT_KEYS,
        )

        problems = []
        steps = pq.read_table(os.path.join(self.logs, "etl_process_logs"),
                              columns=["step_name", "details"]).to_pylist()
        outcomes = Counter(ast.literal_eval(r["details"])["outcome"]
                           for r in steps if r["step_name"] == "LOAD_STAGING")
        want = Counter(inserted=len(SETUP_UPLOADS + ROUND), upserted=self.timed_calls)
        if outcomes != want:
            problems.append(f"staging outcomes {dict(outcomes)} != {dict(want)}: set-up "
                            "uploads insert, every timed re-upload merges")
        for ftype, table in STAGING_TABLES.items():
            path = os.path.join(self.staging, table)
            if not os.path.exists(path):
                continue
            (key,) = UPSERT_KEYS[ftype]
            keys = pq.read_table(path, columns=[key]).column(key).to_pylist()
            staged = set(keys)
            if len(keys) != len(staged):
                problems.append(f"{table}: {len(keys)} rows but {len(staged)} distinct {key}")
            expected = set()
            for t, size in self.uploaded:
                if t == ftype:
                    expected.update(self.uploads[(t, size)].keys)
            missing = expected - staged
            if missing:
                problems.append(f"{table}: {len(missing)} clean keys missing, "
                                f"e.g. {sorted(missing)[:3]}")
        return problems

    def close(self) -> None:
        pass
