#!/usr/bin/env python3
"""Read run records written by ``run.py --out``.

    python3 perfbench/report.py RUN.json
        per-layer table of one run: its metrics, and for a traced run the
        span summary (spans, busy and self seconds per layer)

    python3 perfbench/report.py A B
        diff two sets of runs, metric by metric and workload by workload.
        A and B are each a record file or a directory of record files;
        runs of one workload are summarised by their median. Where a set
        holds traced and untraced runs of a workload, the tracing
        overhead (traced minus untraced op_p50_ms and op_cpu_ms) is
        printed too.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    """Records under ``path``; the untraced runs' latencies, which the run
    reports beside its gated metrics, join their metrics here."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "workload" not in rec or "metrics" not in rec:
            continue
        if not rec.get("trace"):
            for name in ("op_p50_ms", "op_tail_ms"):
                rec["metrics"][name] = {"value": rec["latency"][name], "unit": "ms"}
            cpu_ms = 1000.0 * statistics.median(rec["op_cpu_s"] or [0.0])
            rec["metrics"]["op_cpu_ms"] = {"value": cpu_ms, "unit": "ms"}
        out.append(rec)
    return out


def medians(records: list[dict]) -> dict[tuple[str, str], tuple[float, str, int]]:
    """(workload, metric) → (median value, unit, runs)."""
    vals: dict[tuple[str, str], list[float]] = {}
    units: dict[tuple[str, str], str] = {}
    for r in records:
        for name, m in r["metrics"].items():
            vals.setdefault((r["workload"], name), []).append(m["value"])
            units[(r["workload"], name)] = m["unit"]
    return {k: (statistics.median(v), units[k], len(v)) for k, v in vals.items()}


def overhead(records: list[dict]) -> dict[tuple[str, str], float]:
    """(workload, metric) → traced minus untraced median."""
    med = medians(records)
    out = {}
    for (wl, name), (v, _u, _n) in med.items():
        base = name.removeprefix("traced.")
        if base != name and (wl, base) in med:
            out[(wl, base)] = v - med[(wl, base)][0]
    return out


def show_one(rec: dict) -> None:
    kind = "traced" if rec.get("trace") else "untraced"
    print(f"{rec['workload']}  seed {rec['seed']}  {kind}  "
          f"attempted {rec['attempted']}  failed {rec['failed']}")
    print(f"{'metric':34} {'value':>14}  unit")
    for name, m in rec["metrics"].items():
        print(f"{name:34} {m['value']:14.4f}  {m['unit']}")
    if rec.get("spans"):
        print(f"\n{'layer':34} {'spans':>7} {'busy_s':>10} {'self_s':>10}")
        for layer, s in rec["spans"].items():
            print(f"{layer:34} {s['spans']:7d} {s['busy_s']:10.3f} {s['self_s']:10.3f}")
    for p in rec.get("problems", []):
        print(f"CHECK FAILED: {p}")


def show_diff(a: list[dict], b: list[dict]) -> None:
    ma, mb = medians(a), medians(b)
    for wl in sorted({k[0] for k in ma} | {k[0] for k in mb}):
        print(f"\n== {wl}")
        print(f"{'metric':34} {'A':>14} {'B':>14} {'change':>9}  unit")
        names = sorted({k[1] for k in ma if k[0] == wl} | {k[1] for k in mb if k[0] == wl})
        for name in names:
            va, vb = ma.get((wl, name)), mb.get((wl, name))
            fa = f"{va[0]:14.4f}" if va else f"{'-':>14}"
            fb = f"{vb[0]:14.4f}" if vb else f"{'-':>14}"
            ch = (f"{100.0 * (vb[0] - va[0]) / va[0]:+8.1f}%"
                  if va and vb and va[0] else f"{'':>9}")
            print(f"{name:34} {fa} {fb} {ch}  {(va or vb)[1]}")
    for label, recs in (("A", a), ("B", b)):
        for (wl, name), ms in overhead(recs).items():
            print(f"tracing overhead {label} {wl}: {ms:+.1f} ms on {name}")


def main(argv: list[str]) -> int:
    if len(argv) == 1:
        recs = load(argv[0])
        for i, rec in enumerate(recs):
            if i:
                print()
            show_one(rec)
        return 0 if recs else 1
    if len(argv) == 2:
        show_diff(load(argv[0]), load(argv[1]))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
