#!/usr/bin/env python3
"""Rank queries by each per-layer metric of traced benchmark runs.

    python3 perfbench/report.py                 # every result in perfbench/_work/results
    python3 perfbench/report.py --top 3 FILE... # chosen result files

For every traced run (`run.py --trace 1`) it prints the environment stamp,
the per-pass per-layer medians, and for each per-layer metric the queries
ranked by their median over the timed passes.  The tracing overhead of a
workload is the traced `pass_s` minus the median untraced `pass_s` of the
same workload among the given results.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from layers import METRICS, RUN_LEVEL  # noqa: E402


def rank(per_query: list[dict], metric: str) -> list[tuple[str, float]]:
    by_query: dict[str, list[float]] = {}
    for rec in per_query:
        if rec.get(metric) is not None:
            by_query.setdefault(rec["query"], []).append(rec[metric])
    meds = {q: statistics.median(v) for q, v in by_query.items()}
    return sorted(meds.items(), key=lambda kv: -kv[1])


def overhead(traced: dict, results: list[dict]) -> float | None:
    plain = [
        r["end_to_end"]["pass_s"]
        for r in results
        if r["workload"] == traced["workload"] and r["tiny"] == traced["tiny"] and not r["trace"]
    ]
    if not plain:
        return None
    return traced["per_layer"]["trace.pass_s"] - statistics.median(plain)


def report(results: list[dict], top: int) -> str:
    lines = []
    for r in results:
        if not r["trace"]:
            continue
        env = r["env"]
        lines.append(
            f"== {r['workload']} seed={r['seed']} passes={r['passes']} fail_frac={r['fail_frac']:.3f} "
            f"{env['master']} nproc={env['nproc']} spark={env['spark']} java={env['java']} "
            f"python={env['python']} load={env['load_before'][0]:.2f}->{env['load_after'][0]:.2f}"
        )
        ovh = overhead(r, results)
        lines.append(
            "   tracing overhead: "
            + ("no untraced run of this workload given" if ovh is None else f"{ovh:+.3f} s per pass")
        )
        for metric, unit in METRICS.items():
            value = r["per_layer"][metric]
            ranked = [] if metric in RUN_LEVEL else rank(r["per_query"], metric)
            shown = ", ".join(f"{q}={v:.4g}" for q, v in ranked[:top] if v)
            lines.append(f"   {metric:24s} {value:12.4f} {unit:6s} {shown}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("files", nargs="*", help="result files (default: all in perfbench/_work/results)")
    ap.add_argument("--top", type=int, default=5, help="queries shown per metric")
    args = ap.parse_args(argv)
    files = args.files or sorted(glob.glob(os.path.join(HERE, "_work", "results", "*.json")))
    results = []
    for path in files:
        with open(path) as f:
            results.append(json.load(f))
    print(report(results, args.top))
    return 0


if __name__ == "__main__":
    sys.exit(main())
