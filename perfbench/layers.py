"""Reduce a traced run to per-layer metrics, per query and per pass.

Inputs are what the benchmark gathers from outside the package:

- Spark's own event log (uncompressed JSON lines).  Every job carries the
  local properties the benchmark set around the call that started it:
  `perfbench.pass`, `perfbench.query` and `perfbench.phase`.  Local
  properties are inherited by the stream execution thread, so micro-batch
  jobs are attributed too, even though streaming replaces the job group.
- Streaming progress events from a `StreamingQueryListener`, attributed to
  the query whose span holds the progress timestamp.
- The benchmark's own spans and cache probes.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from datetime import datetime

# RDD scope names of the physical nodes that run Python (Arrow) kernels.
PYTHON_NODES = re.compile(r"InPandas|EvalPython|MapInArrow|PythonUDTF")
MIB = float(1 << 20)

# name -> unit of every per-layer metric, in report order.
METRICS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mib": "MiB",
    "registry.load_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "plan.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.driver_only_s": "s",
    "exec.task_skew": "ratio",
    "scan.input_mib": "MiB",
    "scan.tasks": "count",
    "scan.run_s": "s",
    "shuffle.write_mib": "MiB",
    "shuffle.read_mib": "MiB",
    "shuffle.spill_mib": "MiB",
    "python.stages": "count",
    "python.run_s": "s",
    "cache.rdds_left": "count",
    "cache.mib_left": "MiB",
    "sink.output_mib": "MiB",
    "sink.last_stage_s": "s",
    "stream.batches": "count",
    "stream.batch_ms.p50": "ms",
    "stream.plan_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "rows",
    "stream.state_commit_ms": "ms",
    "trace.pass_s": "s",
}

# Measured once per run, not per query.
RUN_LEVEL = ("session.start_s", "session.jvm_peak_rss_mib", "registry.load_s", "trace.pass_s")
# Per-pass values that are not sums over the pass's queries.
_NOT_SUMMED = ("exec.task_skew", "stream.batch_ms.p50")


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def _skew(durations: list[float]) -> float:
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def _progress_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def query_layers(events: list[dict], queries: dict, progress: list[dict]) -> dict:
    """Per-layer metrics of every traced query execution.

    `queries` maps (pass, query) to the benchmark's record of that
    execution: `start`/`end` epoch seconds of the query span, `build_s`,
    `plan_s` (None when the plan probe failed) and the cache probe's
    `rdds_left`/`mib_left`.  Returns (pass, query) -> {metric: value},
    plus the private keys `_longest` and `_batch_ms` used for pass totals.
    """
    job_key, stage_key, stage_info = {}, {}, {}
    tasks = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if "perfbench.query" not in props:
                continue
            key = (props["perfbench.pass"], props["perfbench.query"])
            job_key[e["Job ID"]] = (key, props.get("perfbench.phase"))
            for sid in e["Stage IDs"]:
                stage_key.setdefault(sid, (key, props.get("perfbench.phase")))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = {json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")}
            stage_info[si["Stage ID"]] = (
                si["Submission Time"] / 1000.0,
                si["Completion Time"] / 1000.0,
                any(PYTHON_NODES.search(s) for s in scopes),
            )
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            tasks[e["Stage ID"]].append(e)

    out = {}
    for key, q in queries.items():
        m = {name: 0.0 for name in METRICS if name not in RUN_LEVEL}
        m["operators.build_s"] = q["build_s"]
        m["plan.s"] = q["plan_s"]
        m["cache.rdds_left"] = q["rdds_left"]
        m["cache.mib_left"] = q["mib_left"]
        m["exec.jobs"] = sum(1 for k, _ in job_key.values() if k == key)
        m["operators.eager_jobs"] = sum(1 for k, ph in job_key.values() if k == key and ph == "build")
        stages = [s for s, (k, _) in stage_key.items() if k == key and s in stage_info]
        m["exec.stages"] = len(stages)
        longest = (0.0, 1.0)
        last_sink = (0.0, 0.0)
        intervals = []
        for sid in stages:
            lo, hi, is_python = stage_info[sid]
            intervals.append((max(lo, q["start"]), min(hi, q["end"])))
            ts = tasks[sid]
            durs = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1000.0 for t in ts]
            if ts and hi - lo > longest[0]:
                longest = (hi - lo, _skew(durs))
            if stage_key[sid][1] == "materialize" and hi > last_sink[0]:
                last_sink = (hi, hi - lo)
            m["exec.tasks"] += len(ts)
            for t in ts:
                tm = t["Task Metrics"]
                run_s = tm["Executor Run Time"] / 1000.0
                m["exec.run_s"] += run_s
                m["exec.cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["exec.gc_s"] += tm["JVM GC Time"] / 1000.0
                read = tm["Input Metrics"]["Bytes Read"]
                if read > 0:
                    m["scan.input_mib"] += read / MIB
                    m["scan.tasks"] += 1
                    m["scan.run_s"] += run_s
                sr = tm["Shuffle Read Metrics"]
                m["shuffle.read_mib"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MIB
                m["shuffle.write_mib"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MIB
                m["shuffle.spill_mib"] += tm["Disk Bytes Spilled"] / MIB
                m["sink.output_mib"] += tm["Output Metrics"]["Bytes Written"] / MIB
                if is_python:
                    m["python.run_s"] += run_s
            if is_python:
                m["python.stages"] += 1
        m["exec.driver_only_s"] = max(0.0, (q["end"] - q["start"]) - _union_s([i for i in intervals if i[1] > i[0]]))
        m["exec.task_skew"] = longest[1]
        m["sink.last_stage_s"] = last_sink[1]
        m["_longest"] = longest
        batches = [p for p in progress if q["start"] <= _progress_epoch(p["timestamp"]) <= q["end"]]
        m["_batch_ms"] = [p["durationMs"].get("triggerExecution", 0) for p in batches]
        m["stream.batches"] = len(batches)
        m["stream.batch_ms.p50"] = statistics.median(m["_batch_ms"]) if batches else 0.0
        for p in batches:
            d = p["durationMs"]
            m["stream.plan_ms"] += d.get("queryPlanning", 0)
            m["stream.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            m["stream.state_commit_ms"] += sum(op.get("commitTimeMs", 0) for op in p["stateOperators"])
        if batches:
            m["stream.state_rows"] = sum(op.get("numRowsTotal", 0) for op in batches[-1]["stateOperators"])
        out[key] = m
    return out


def pass_totals(per_query: dict) -> dict:
    """Sum a pass's per-query metrics; take the task skew of the pass's
    longest stage and the median over all of the pass's micro-batches."""
    totals = {}
    for (pass_id, _), m in per_query.items():
        t = totals.setdefault(pass_id, {"_longest": (0.0, 1.0), "_batch_ms": []})
        for name, v in m.items():
            if name.startswith("_") or name in _NOT_SUMMED:
                continue
            if v is not None:
                t[name] = t.get(name, 0.0) + v
            else:
                t.setdefault(name, 0.0)
        if m["_longest"][0] > t["_longest"][0]:
            t["_longest"] = m["_longest"]
        t["_batch_ms"] += m["_batch_ms"]
    for t in totals.values():
        t["exec.task_skew"] = t.pop("_longest")[1]
        batch_ms = t.pop("_batch_ms")
        t["stream.batch_ms.p50"] = statistics.median(batch_ms) if batch_ms else 0.0
    return totals
