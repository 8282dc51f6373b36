"""Custom stateful streaming operator: per-user running totals via
``applyInPandasWithState`` — the pluggable-reduce analogue of the
reference's hardcoded `reduce` (maprdeuce.cpp:288-331), generalized
to arbitrary user state over an unbounded stream.

State design for scale:
- keyed by user_id -> state is partitioned exactly like the shuffle,
  one small fixed-size record per key (two bigints), no growth with
  event count;
- the running sum is kept QUANTIZED (bigint of value*10^4) so state
  merges are exact integer adds — associative, replay-safe, and
  bit-identical to the batch aggregate regardless of batch slicing;
- Arrow-batched (applyInPandas*, never row-at-a-time Python).

The batch query `events_user_totals` computes the same result
relationally with a DuckDB oracle; tests replay the stream with
availableNow and assert final state == batch.
"""

from __future__ import annotations

import os
from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.stable import duck_qsum, qsum
from ..io import load_table
from ..registry import register
from .jobs import _run_sink, _state_partitions, _stream_events

QSCALE = 4  # quantize value at 1e-4 — matches stable.qsum(value, 4)

OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, sum_value DOUBLE"
STATE_SCHEMA = "n BIGINT, qs BIGINT"


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state,  # GroupState
) -> Iterator[pd.DataFrame]:
    """Fold a micro-batch of one user's events into (count,
    quantized-sum) state; emit the running totals."""
    n, qs = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        qs += int(
            np.floor(pdf["value"].to_numpy() * 10.0**QSCALE + 0.5).sum()
        )
    state.update((n, qs))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [qs / 10.0**QSCALE],
        }
    )


def stream_user_totals(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_user_totals"
):
    """Streaming runner: stateful per-user totals, update mode,
    availableNow replay, memory sink.  Returns the StreamingQuery."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _stream_events(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def events_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the stateful operator (same quantized
    arithmetic -> exact equality with the streaming final state)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            qsum("value", QSCALE).alias("sum_value"),
        )
        .orderBy("user_id")
    )


EVENTS_USER_TOTALS_ORACLE = f"""
SELECT user_id,
       count(*) AS n_events,
       {duck_qsum('value', QSCALE)} AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


register("events_user_totals", events_user_totals, EVENTS_USER_TOTALS_ORACLE)


# ---------------------------------------------------------------
# Gap-based sessionization with WATERMARK-SAFE emission and
# EVENT-TIME TIMEOUT EVICTION — the custom stateful operator shape
# session stores are built on.  State is the list of this user's
# session segments that are not yet PROVABLY closed: a segment may
# only be emitted once the watermark has STRICTLY passed
# segment_end + gap, because until then a legal late arrival
# (ts >= watermark) can still merge into it — including an event
# that BRIDGES two segments an earlier micro-batch saw separated by
# a gap.  Emitting intra-batch-gap segments immediately (the
# previous design) breaks append-mode semantics exactly there: the
# batch twin would merge what the stream already emitted, and
# append output cannot be retracted.  Segments therefore wait in
# state; the EventTimeTimeout timer wakes the key when the earliest
# segment becomes safe, emits every safe segment, and eviction of
# the final one is what bounds state size at 100 TB.
#
# Bounded state, provably: retained segments satisfy
# end + gap >= watermark, events can be at most 10 minutes (the
# watermark delay) ahead of the watermark, and retained segments
# are pairwise separated by > gap — so a key holds at most
# ceil((gap + delay)/gap) + 1 = 3 segments here, independent of
# event count.
#
# The batch twin is operators/windows.py::sessionize; the
# driver-visible registration (stream_sink_sessions) value-hash
# oracles the emitted set against microsecond-exact batch
# sessionization filtered to sessions closable under the final
# watermark (max event ts, ms-truncated, minus the 10-minute
# delay).
# ---------------------------------------------------------------

SESSION_GAP_S = 1800
SESSION_OUT_SCHEMA = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events BIGINT, total_value DOUBLE"
)
# parallel arrays over pending segments, sorted by start; segments
# are pairwise separated by > gap
SESSION_STATE_SCHEMA = (
    "starts ARRAY<BIGINT>, ends ARRAY<BIGINT>, "
    "ns ARRAY<BIGINT>, qvs ARRAY<BIGINT>"
)


def _session_frame(user_id, segs):
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(segs),
            "session_start": [pd.Timestamp(s[0], unit="us") for s in segs],
            "session_end": [pd.Timestamp(s[1], unit="us") for s in segs],
            "n_events": [s[2] for s in segs],
            "total_value": [s[3] / 10.0**QSCALE for s in segs],
        }
    )


def _update_sessions(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state,  # GroupState
) -> Iterator[pd.DataFrame]:
    """Merge one user's micro-batch into the pending-segment state,
    emit every segment the watermark has made unmergeable, keep the
    rest (with a timer at the earliest future close), evict when
    nothing remains.  Data and timeout invocations share one code
    path: a timeout is just 'no new events'."""
    gap_us = SESSION_GAP_S * 1_000_000
    wm_us = state.getCurrentWatermarkMs() * 1_000

    segs: list[list[int]] = []
    if state.exists:
        starts, ends, ns, qvs = state.get
        # plain-int coercion: anything numpy-typed in the state
        # tuple fails JVM-side unpickling on the next update
        segs = [[int(v) for v in t] for t in zip(starts, ends, ns, qvs)]

    ts_parts, val_parts = [], []
    if not state.hasTimedOut:
        for pdf in pdfs:
            # unit-explicit: Arrow->pandas may deliver datetime64[ns]
            # or [us] depending on conversion defaults; casting
            # through datetime64[us] is correct for both
            ts_parts.append(
                pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            )
            val_parts.append(
                np.floor(
                    pdf["value"].to_numpy() * 10.0**QSCALE + 0.5
                ).astype("int64")
            )
    if ts_parts:
        ts = np.concatenate(ts_parts)
        vals = np.concatenate(val_parts)
        order = np.argsort(ts, kind="stable")
        ts, vals = ts[order], vals[order]
        # vectorized gap split of the batch into session segments
        breaks = np.nonzero(np.diff(ts) > gap_us)[0]
        bounds = [0, *(int(b) for b in breaks + 1), len(ts)]
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            segs.append(
                [int(ts[lo]), int(ts[hi - 1]), hi - lo, int(vals[lo:hi].sum())]
            )

    # interval-merge: state segments and batch segments are each
    # internally gap-separated, but a new segment can extend OR
    # BRIDGE state segments (the cross-batch late-bridging case)
    segs.sort(key=lambda s: (s[0], s[1]))
    merged: list[list[int]] = []
    for s in segs:
        if merged and s[0] - merged[-1][1] <= gap_us:
            m = merged[-1]
            m[1] = max(m[1], s[1])
            m[2] += s[2]
            m[3] += s[3]
        else:
            merged.append(s)

    # a segment is safe to close only when no future event can touch
    # it: arrivals satisfy ts >= watermark, and ts - end <= gap still
    # merges, so safety requires end + gap < watermark (strict)
    closed = [s for s in merged if s[1] + gap_us < wm_us]
    keep = [s for s in merged if s[1] + gap_us >= wm_us]

    if keep:
        state.update(
            (
                [s[0] for s in keep],
                [s[1] for s in keep],
                [s[2] for s in keep],
                [s[3] for s in keep],
            )
        )
        # wake when the earliest pending segment becomes closable.
        # Closability (end_us + gap_us < wm_ms*1000) is equivalent to
        # wm_ms >= close_ms + 1, and Spark fires an event-time timer
        # only when timer_ms < wm_ms STRICTLY — so arming at close_ms
        # fires exactly at wm_ms >= close_ms + 1, aligned with the
        # safety check above (arming at close_ms + 1 would fire one
        # watermark-ms late and could strand a session whose final
        # watermark lands exactly on close_ms + 1).  The timer must
        # still stay strictly ahead of the current watermark or Spark
        # rejects it, hence the max().
        close_ms = min(s[1] for s in keep) // 1_000 + SESSION_GAP_S * 1_000
        state.setTimeoutTimestamp(
            max(close_ms, state.getCurrentWatermarkMs() + 1)
        )
    elif state.exists:
        state.remove()
    if closed:
        yield _session_frame(key[0], closed)


def _sessionized(spark: SparkSession, sf_dir: str, source_dir: str | None = None):
    """The watermarked sessionizer pipeline (shared by the memory-
    sink runner, the parquet-sink runner, and the crash tests)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        _stream_events(spark, sf_dir, source_dir)
        .select("user_id", "ts", "value")
        .withWatermark("ts", "10 minutes")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_sessionize(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessions"
):
    """Streaming runner: watermarked stream -> stateful gap
    sessionizer with watermark-safe emission and event-time timeout
    eviction, append mode, availableNow replay, memory sink."""
    return (
        _sessionized(spark, sf_dir)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def session_sink_emitter(out_dir: str):
    """foreachBatch emitter for the closed-session sink.  Appended
    sessions are FINAL (watermark-safe emission means a closed
    session can never be retracted or merged later), and a session
    is emitted by exactly one micro-batch, so each batch OWNS the
    subdirectory ``b<batch_id>/`` and overwrites it — a batch
    replayed after a crash (sink write landed, offset commit
    didn't) deterministically re-emits the same closed sessions
    (same offsets, same checkpointed state version, same logged
    watermark) and rewrites its own files instead of duplicating
    them.  Module-level factory so tests can wrap it with injected
    crashes."""
    def emit_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    return emit_batch


def stream_sessions_to_sink(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ckpt_dir: str,
    source_dir: str | None = None,
):
    """foreachBatch parquet sink over the stateful sessionizer:
    every closed session lands in its emitting batch's subdirectory
    (idempotent under replay — see :func:`session_sink_emitter`)."""
    return (
        _sessionized(spark, sf_dir, source_dir)
        .writeStream.foreachBatch(session_sink_emitter(out_dir))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def read_session_sink(spark: SparkSession, out_dir: str):
    """Read the closed-session sink back: a plain recursive union —
    no compaction logic needed because each session was emitted
    exactly once."""
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)


def stream_sink_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming-SINK query #3: runs the event file
    stream end-to-end through the stateful gap sessionizer
    (applyInPandasWithState, EventTimeTimeout) into the per-batch
    parquet sink, then returns every emitted closed session.  The
    emitted set is exactly the microsecond-exact batch sessions
    whose ``session_end + gap`` the final watermark strictly passed
    — watermark-safe emission makes that set deterministic for any
    micro-batch slicing, so the whole stateful path (state encoding,
    timer eviction, append-mode finality, sink write) sits under the
    value-hash oracle.  Sessions still open (or not yet provably
    closed) at stream end stay in state by design; the oracle
    applies the same final-watermark filter (max event time,
    ms-truncated as Spark tracks it, minus the 10-minute delay).

    State width is scoped to 4 partitions like the other stateful
    sinks: at the session's 32 every micro-batch runs 32 Python state
    tasks (sf0.1, `local[4]`: ~17 s at 32 vs ~7 s at 4).  Trailing
    no-data batches stay on: the sessionizer emits on eviction."""
    with _state_partitions(spark, 4):
        return _run_sink(
            spark,
            "stream_sink_sessions",
            lambda out, ckpt: stream_sessions_to_sink(
                spark, sf_dir, out, ckpt
            ),
            lambda out: read_session_sink(spark, out).orderBy(
                "user_id", "session_start"
            ),
        )


# Microsecond-exact gap sessionization (matching the stateful
# operator's integer-us arithmetic; the batch sessionize_events
# oracle is microsecond-exact too — this one only adds the
# final-watermark closability filter): wm = (max event us // 1000
# ms-truncation,
# exactly as Spark's EventTimeStats tracks it) - 10 min, and a
# session is closed only when session_end + gap < wm STRICTLY (an
# event at ts = wm with ts - end = gap would still merge).
STREAM_SINK_SESSIONS_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
assigned AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
),
sess AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) AS session_end,
         count(*) AS n_events,
         {duck_qsum('value', QSCALE)} AS total_value
  FROM assigned
  GROUP BY user_id, sid
),
wm AS (
  SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM sess, wm
WHERE epoch_us(session_end) + {SESSION_GAP_S * 1_000_000} < wm_us
ORDER BY user_id, session_start
"""

register(
    "stream_sink_sessions", stream_sink_sessions, STREAM_SINK_SESSIONS_ORACLE
)
