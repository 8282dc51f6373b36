"""Event-time window operators and streaming sinks over `events`.

Each window shape is registered as a BATCH query with a DuckDB
oracle (window semantics are engine math, not streaming-only), and
has a matching readStream runner used by tests to prove the same
code produces the same result under incremental execution
(Trigger.availableNow + memory sink).

The registered `stream_sink_*` queries (seven here, plus
`stream_sink_sessions` in stateful.py) RUN an availableNow stream
into a scratch directory and return a lazy read-back of what the
sink wrote, all through one runner, :func:`_run_sink`.  The
click->purchase interval join behind `purchase_attribution`, the
stream-stream inner join and the two outer-join sinks has one
implementation, :func:`_attribution`.

Scale/streaming notes:
- watermark 10 minutes bounds state: late events beyond it are
  dropped instead of growing state forever;
- tumbling/sliding windows are hash aggregations keyed by
  (window, key) — shuffle volume = windows x keys, independent of
  event count;
- session windows are Spark's built-in session_window merge-state
  aggregation (gap-based, per user).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.stable import duck_qsum, qavg, qsum
from ..functions.text import normalize_word, tokenize_line
from ..io import load_table, parquet_schema
from ..registry import register

GAP = "5 minutes"


@contextmanager
def _state_partitions(
    spark: SparkSession, n: int, no_data_batches: bool | None = None
):
    """Scope spark.sql.shuffle.partitions for a streaming sink run.
    A stateful micro-batch pays per-partition state-store open/
    commit EVERY batch; at fixture scale 32 state partitions are
    pure overhead (stream_sink_left_outer_join: 21.4 s -> 13.7 s at
    8; round-13 re-measure: 8 -> 4 reads 13.4 -> 8.1 / 8.8 -> 7.9 /
    9.0 -> 7.8 min-of-3 on the three join/dedup sinks, while 2 and 1
    are inside noise of 4 — the floor below ~8 s is per-batch
    machinery, not state width).  Production sizes this UP with
    state volume — the knob is per-query because Spark pins a
    stream's state partitioning in its checkpoint, so each
    fresh-checkpoint sink picks its own.

    no_data_batches=False additionally scopes
    spark.sql.streaming.noDataMicroBatches.enabled off — safe ONLY
    for (a) sinks whose staging appends a flush-sentinel data batch
    (the sentinel performs the final watermark-driven eviction a
    trailing no-data batch would otherwise be needed for), or
    (b) ARRIVAL-emitting stateful sinks (e.g.
    dropDuplicatesWithinWatermark), whose output rows are produced
    the moment a row arrives — eviction only DROPS state there, so
    skipping the trailing no-data batch can never withhold output
    rows.  Eviction-emitting sinks (outer joins, append-mode aggs)
    MUST take path (a); in either case the skipped batch is pure
    per-run cost."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_nd = spark.conf.get(nd_key)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    if no_data_batches is not None:
        spark.conf.set(nd_key, str(no_data_batches).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set(nd_key, old_nd)


def _scratch_dir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit — streaming
    staging dirs and sink outputs are per-run scratch, and bench
    loops would otherwise accumulate one leaked dir per query run.

    A sink query's `out` dir lives here until exit because the
    frame it returns reads it lazily (see :func:`_run_sink`).
    Measured at sf0.1: 24 KiB (quantile_hist) to 2.7 MiB (sessions)
    per sink run, 5.1 MiB for one run of all eight sinks."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _run_sink(
    spark: SparkSession,
    name: str,
    start: Callable[[str, str], StreamingQuery],
    read: Callable[[str], DataFrame],
) -> DataFrame:
    """Run one availableNow sink query and return its read-back.

    `start(out, ckpt)` starts the stream into the sink dir `out`
    with checkpoint `ckpt`; `read(out)` builds the result over what
    the sink wrote.  The returned frame is LAZY: `out` stays on disk
    until interpreter exit (`_scratch_dir`), so the consumer
    materializes it like any other query and nothing is pinned in
    the block manager.  Only the checkpoint, which no reader needs,
    is removed once the stream ends."""
    root = _scratch_dir(f"{name}_")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    q = start(out, ckpt)
    # availableNow streams terminate on their own; a False return
    # means the 300 s budget expired with the query still running —
    # reading the sink then would see partial output.  Fail loudly.
    if not q.awaitTermination(300):
        q.stop()
        shutil.rmtree(root, ignore_errors=True)
        raise TimeoutError(f"{name}: stream did not terminate within 300 s")
    shutil.rmtree(ckpt, ignore_errors=True)
    return read(out)


def _attribution(src: DataFrame, how: str) -> DataFrame:
    """Purchases joined to the same user's clicks in the preceding
    30 minutes, over one (batch or streaming) events frame branched
    into its click and purchase sides.  The join is EQUI on user_id
    with the interval as a residual predicate.  Both sides carry
    10-minute watermarks so stream join state is bounded (clicks age
    out 30 minutes + delay past the purchase-side frontier; outer
    joins emit unmatched rows once the watermark proves no partner
    can still arrive); on a batch frame the optimizer drops them.
    Output columns: p_user, p_ts, purchase_id, amount, c_user, c_ts,
    click_id — each caller selects its own."""
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            c_ts >= p_ts - INTERVAL 30 MINUTES AND
            c_ts <= p_ts
            """
        ),
        how,
    )


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window counts/sums per event_type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            qsum("value", 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


EVENTS_TUMBLING_ORACLE = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
           AS window_start,
       event_type,
       count(*) AS n,
       (CAST(sum(CAST(floor((value) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in
    exactly two windows."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            qavg("value", 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
        .orderBy("window_start")
    )


EVENTS_SLIDING_ORACLE = """
SELECT make_timestamp(
         (CAST(floor((epoch(ts) - 300 * o.off) / 600) * 600 AS BIGINT)
          + 300 * o.off) * 1000000) AS window_start,
       count(*) AS n,
       ((CAST(sum(CAST(floor((value) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0) / count(*)) AS avg_value
FROM events, (SELECT unnest([0, 1]) AS off) o
GROUP BY 1
ORDER BY window_start
"""


def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5-minute gap) per user: Spark's
    session_window merges events whose gaps are < 5 min; the window
    end is last_event + gap."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("user_id"), F.session_window("ts", GAP).alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            qsum("value", 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# lag/cumsum sessionization: new session when gap >= 300s (Spark's
# session [start, last+gap) is right-open, so an event exactly at
# last+gap starts a new session).  Microsecond-exact via epoch_us.
EVENTS_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 300000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  -- event_id tiebreak matches flagged's total order: with duplicate
  -- (user_id, ts) rows, an untied cumsum could otherwise assign
  -- session ids nondeterministically
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end,
       count(*) AS n_events,
       (CAST(sum(CAST(floor((value) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0) AS sum_value
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


register("events_tumbling", events_tumbling, EVENTS_TUMBLING_ORACLE)
register("events_sliding", events_sliding, EVENTS_SLIDING_ORACLE)
register("events_session", events_session, EVENTS_SESSION_ORACLE)


# ----------------- true streaming runners (tests) -----------------

def stage_events_once(
    spark: SparkSession, sf_dir: str, flush_sentinel: bool = False
) -> str:
    """Stage the events fixture for the file streaming source ONCE
    and return the directory — the two sides of a stream-stream
    join read the SAME staged dir instead of each staging its own
    symlink + sentinel.  Staging reads no schema: the stream that
    consumes the dir reads it (at production scale the source is
    already a directory and this is moot)."""
    return _stream_events(
        spark, sf_dir, flush_sentinel=flush_sentinel, stage_only=True
    )


def _stream_events(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str | None = None,
    flush_sentinel: bool = False,
    stage_only: bool = False,
) -> DataFrame | str:
    """readStream over the events parquet.  The stream reads the
    RAW schema from the footer (io.parquet_schema) and applies the
    same `ts` normalization as io.load_table (nanos-as-long
    truncation for TIMESTAMP(NANOS) fixtures, UTC cast for
    TIMESTAMP_NTZ fixtures).

    `source_dir` overrides the fixture: a directory of (possibly
    many) parquet files, each arriving as its own micro-batch
    (maxFilesPerTrigger=1) — the crash-recovery tests use this to
    get multi-batch streams from a single-file fixture.
    `stage_only` returns the staged directory path instead of a
    stream (see stage_events_once)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if source_dir is None:
        path = os.path.join(sf_dir, "events.parquet")
        # the file streaming source requires a DIRECTORY of plain
        # files (it does not descend into non-partition subdirs):
        # stage the fixture into a temp dir via symlink (no copy).
        # The driver fixture is a single flat file; test-written
        # fixtures are Spark output DIRECTORIES, whose part files
        # are staged individually.
        stage = _scratch_dir("events_stream_")
        if os.path.isdir(path):
            for i, part in enumerate(
                sorted(glob.glob(os.path.join(path, "*.parquet")))
            ):
                os.symlink(part, os.path.join(stage, f"events_{i}.parquet"))
        else:
            os.symlink(path, os.path.join(stage, "events.parquet"))
        if flush_sentinel:
            # a trailing ZERO-ROW file (mtime after the fixture, so
            # it becomes the LAST micro-batch): stream-stream outer
            # joins evict state using the watermark of the PRIOR
            # batch, so the null-extended rows below the final
            # watermark are flushed either by Spark's trailing
            # no-data batch (a policy the engine is free to skip —
            # spark.sql.streaming.noDataMicroBatches.enabled) or by
            # this guaranteed final DATA batch.  The sentinel makes
            # the emitted set deterministic regardless of no-data-
            # batch timing: after it runs, every eligible eviction
            # row is out, and a further no-data batch has nothing
            # left to evict.
            import pyarrow.parquet as pq

            # zero-row parquet with the STAGED files' exact arrow
            # schema, written driver-side with pyarrow — the former
            # spark.createDataFrame([]).write round-trip cost a whole
            # Spark job (~0.3 s per sink run) to produce 0 rows
            first = sorted(glob.glob(os.path.join(stage, "*.parquet")))[0]
            arrow_schema = pq.read_schema(first)
            pq.write_table(
                arrow_schema.empty_table(),
                os.path.join(stage, "zz_flush.parquet"),
            )
    else:
        path = stage = source_dir
    if stage_only:
        return stage
    stream = (
        spark.readStream.schema(parquet_schema(spark, path))
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    ts_type = stream.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(ts_type, T.TimestampNTZType):
        # timestamp[us] no-tz fixtures → TIMESTAMP_NTZ, which
        # withWatermark rejects; cast under the UTC session tz
        # (no-op on stored micros), mirroring io.load_table
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_tumbling_counts(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_tumbling"
):
    """Streaming version of events_tumbling with a 10-minute
    watermark, availableNow trigger, memory sink.  Returns the
    StreamingQuery; caller awaits termination then reads the
    `query_name` in-memory table."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            qsum("value", 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessions"
):
    """Streaming session windows (update-mode state) — proves the
    stateful-operator path."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.col("user_id"), F.session_window("ts", GAP).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_purchase_attribution(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_ss_join"
):
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding 30 minutes.  Both sides carry
    watermarks so the join state is bounded — click state can be
    dropped once the watermark passes the 30-minute interval, which
    is what makes this run forever at scale.  One branched source
    (see stream_left_outer_attribution).  availableNow + memory
    sink; batch equivalence asserted in tests."""
    joined = _attribution(_stream_events(spark, sf_dir), "inner").select(
        "purchase_id", "click_id", "p_user", "amount"
    )
    return (
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def batch_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the stream-stream interval join."""
    e = load_table(spark, sf_dir, "events")
    return _attribution(e, "inner").select(
        "purchase_id", "click_id", "p_user", "amount"
    )


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup"
):
    """Streaming deduplication: first occurrence per (user_id,
    event_type) wins; the watermark bounds the dedup state so keys
    older than the watermark are evicted — the pattern for exact
    dedup on an unbounded ingest stream (state = one entry per live
    key, not per event)."""
    ev = _stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return (
        deduped.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_sliding_windows(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sliding"
):
    """Streaming version of events_sliding (overlapping windows:
    each event feeds two window states)."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            qavg("value", 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def latest_per_user_emitter(out_dir: str):
    """foreachBatch emitter for the latest-per-user upsert sink:
    reduce the micro-batch to its latest event per user, append as
    delta files.  Exactly-once discipline: DEDUP-ON-READ — a batch
    replayed after a crash appends byte-identical rows (same
    content, same _batch epoch), which the latest-wins compaction
    window collapses to one row, so replay cannot change the
    compacted result.  Module-level factory so tests can wrap it
    with injected crashes without duplicating sink logic."""
    from pyspark.sql import Window

    def emit_batch(batch_df, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("user_id", "event_id", "event_type", "ts")
            .withColumn("_batch", F.lit(batch_id))
        )
        latest.write.mode("append").parquet(out_dir)

    return emit_batch


def stream_upsert_latest_per_user(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ckpt_dir: str,
    source_dir: str | None = None,
):
    """foreachBatch MERGE-on-read sink: each micro-batch reduces to
    its latest event per user and APPENDS those rows (no in-place
    rewrite — append-only delta files, the scalable upsert shape);
    :func:`read_latest_per_user` compacts with a latest-wins window
    at read time.  The compacted view must equal the batch
    cdc_latest_per_user query — asserted in tests, including across
    a mid-stream crash + checkpoint restart.  At scale the periodic
    compaction job is exactly merge_upsert's union + latest-wins
    plan."""
    ev = _stream_events(spark, sf_dir, source_dir)
    return (
        ev.writeStream.foreachBatch(latest_per_user_emitter(out_dir))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def read_latest_per_user(spark: SparkSession, out_dir: str):
    """Merge-on-read compaction of the upsert sink's append-only
    delta files: latest-wins per user across all batches."""
    from pyspark.sql import Window

    df = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc(), F.col("_batch").desc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


def stream_static_enrichment(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_enrich"
):
    """Stream-static BROADCAST enrichment: the event stream joins
    the (bounded) customer dimension per micro-batch, aggregated by
    market segment.  The static side is broadcast — the canonical
    dimension-enrichment shape: no stream state for the join (only
    the aggregation holds state), no shuffle of the stream on the
    join key, and the dimension is re-resolvable per batch (a
    slowly-changing dim picks up updates between batches).  The
    batch twin (same join + agg on the batch events frame) must
    produce identical rows — asserted in tests."""
    ev = _stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            qsum("value", 4).alias("sum_value"),
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def stream_wordcount(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_wordcount"
):
    """THE reference program as a structured stream: word count over
    documents arriving file-by-file (maxFilesPerTrigger=1), complete-
    mode aggregation, memory sink.  The batch flagship and this
    stream share the identical tokenizer contract, so availableNow
    replay must reproduce the batch result row-for-row — proving the
    unified batch/stream semantics Spark gives the rebuilt engine
    (the reference would need a separate incremental implementation).
    State size = vocabulary, bounded regardless of stream length."""
    path = os.path.join(sf_dir, "documents.parquet")
    stage = _scratch_dir("docs_stream_")
    os.symlink(path, os.path.join(stage, "documents.parquet"))
    docs = (
        spark.readStream.schema(parquet_schema(spark, path))
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    toks = docs.select(F.explode(tokenize_line("text")).alias("raw")).select(
        normalize_word("raw").alias("word")
    )
    agg = (
        toks.where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (driver-visible) twin of the stream-stream interval
    join: purchases attributed to same-user clicks in the preceding
    30 minutes.  The join is EQUI on user_id with the interval as a
    residual predicate — co-partitioned shuffle, bounded stream
    state (watermarks) in the streaming form."""
    return (
        batch_purchase_attribution(spark, sf_dir)
        .orderBy("purchase_id", "click_id")
    )


PURCHASE_ATTRIBUTION_ORACLE = """
WITH clicks AS (
  SELECT user_id AS c_user, ts AS c_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id,
         value AS amount
  FROM events WHERE event_type = 'purchase'
)
SELECT purchase_id, click_id, p_user, amount
FROM purchases JOIN clicks
  ON p_user = c_user
 AND c_ts >= p_ts - INTERVAL 30 MINUTE
 AND c_ts <= p_ts
ORDER BY purchase_id, click_id
"""

register(
    "purchase_attribution", purchase_attribution, PURCHASE_ATTRIBUTION_ORACLE
)


def stream_sink_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming-SINK query: actually RUNS the
    watermarked file stream end-to-end (readStream -> foreachBatch
    parquet upsert sink -> availableNow termination), then returns
    the merge-on-read compaction of what the sink wrote.  The
    result is deterministic regardless of micro-batch boundaries —
    latest event per user under the (ts, event_id) total order —
    so it oracle-checks against the same SQL as the batch
    cdc_latest_per_user query.  This puts the streaming write path
    itself (offset log, batch epochs, append-only delta files)
    under the differential correctness gate rather than only under
    pytest."""
    return _run_sink(
        spark,
        "stream_sink_latest_per_user",
        lambda out, ckpt: stream_upsert_latest_per_user(
            spark, sf_dir, out, ckpt
        ),
        lambda out: read_latest_per_user(spark, out).orderBy("user_id"),
    )


STREAM_SINK_LATEST_PER_USER_ORACLE = """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS _rk
  FROM events
) t
WHERE _rk = 1
ORDER BY user_id
"""

register(
    "stream_sink_latest_per_user",
    stream_sink_latest_per_user,
    STREAM_SINK_LATEST_PER_USER_ORACLE,
)


def hourly_partials_emitter(out_dir: str):
    """foreachBatch emitter for the additive hourly-counts sink:
    aggregate the micro-batch to per-(hour, event_type) partials
    and write them.  Exactly-once discipline: IDEMPOTENT WRITE —
    each batch OWNS the subdirectory `b<batch_id>/` and writes it
    with mode=overwrite, so a batch replayed after a crash (sink
    write landed, offset commit didn't) rewrites its own partials
    instead of double-counting them.  An additive sink has no
    dedup-on-read escape hatch (duplicate partials are
    indistinguishable from real data), which makes per-batch-keyed
    idempotent writes THE correctness requirement for foreachBatch
    aggregation sinks.  Module-level factory so tests can wrap it
    with injected crashes."""
    from ..functions.stable import qint

    def emit_batch(batch_df, batch_id: int) -> None:
        part = (
            batch_df.select(
                F.date_trunc("hour", "ts").alias("bucket_hour"),
                "event_type",
                qint("value", 4).alias("_vq"),
            )
            .groupBy("bucket_hour", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("_vq").alias("_vq_sum"),
            )
            .withColumn("_batch", F.lit(batch_id))
        )
        part.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    return emit_batch


def stream_append_hourly_counts(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ckpt_dir: str,
    source_dir: str | None = None,
):
    """foreachBatch ADDITIVE sink: each micro-batch writes its
    partial per-(hour, event_type) counts and quantized value sums
    into a batch-owned subdirectory (idempotent under replay — see
    :func:`hourly_partials_emitter`); :func:`read_hourly_counts`
    compacts by re-aggregating — addition is associative, so the
    compacted table is identical for ANY micro-batch partitioning
    of the input.  This is the streaming ingest shape for metric
    rollups at scale: partials are hour-cardinality (tiny) per
    batch, and the periodic compaction job is a plain groupBy."""
    ev = _stream_events(spark, sf_dir, source_dir)
    return (
        ev.writeStream.foreachBatch(hourly_partials_emitter(out_dir))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def read_hourly_counts(spark: SparkSession, out_dir: str):
    """Merge-on-read compaction of the additive sink: sum the
    partials across all batch-owned subdirectories; the integer
    value sums close with one deterministic divide (stable.py
    discipline)."""
    df = (
        spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    )
    return (
        df.groupBy("bucket_hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum("_vq_sum") / F.lit(1e4)).alias("sum_value"),
        )
    )


def stream_sink_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming-SINK query #2: runs the event file
    stream end-to-end through the ADDITIVE foreachBatch sink
    (partial hourly aggregates appended per batch), then returns the
    compacted rollup.  Unlike the latest-wins upsert sink, this
    exercises the merge-by-reaggregation contract: the result equals
    the batch GROUP BY for every possible micro-batch boundary
    because the persisted partials are exact integers."""
    return _run_sink(
        spark,
        "stream_sink_hourly_counts",
        lambda out, ckpt: stream_append_hourly_counts(spark, sf_dir, out, ckpt),
        lambda out: read_hourly_counts(spark, out).orderBy(
            "bucket_hour", "event_type"
        ),
    )


STREAM_SINK_HOURLY_COUNTS_ORACLE = f"""
SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
       count(*) AS n_events, {duck_qsum('value', 4)} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

register(
    "stream_sink_hourly_counts",
    stream_sink_hourly_counts,
    STREAM_SINK_HOURLY_COUNTS_ORACLE,
)


def distinct_pairs_emitter(out_dir: str):
    """foreachBatch emitter for the streaming exact-dedup sink.
    The incoming micro-batch holds ONLY first occurrences (the
    upstream dropDuplicates state suppresses keys already seen in
    earlier batches), so the emitter just lands the batch's new keys
    in the batch-owned subdirectory — the same idempotent-replay
    discipline as the hourly sink: a crash between sink write and
    offset commit replays the batch into ITS OWN directory with
    mode=overwrite, never duplicating keys into another batch's."""
    def emit_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    return emit_batch


def stream_dedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ckpt_dir: str,
    source_dir: str | None = None,
    emitter=None,
):
    """Streaming EXACT-DEDUP: emit each (user_id, event_type) key
    the first time it is ever seen and suppress every later
    occurrence — the streaming twin of the batch exact-dedup family
    and the ingest shape of a training pipeline's seen-fingerprint
    suppressor (swap the key columns for a document content
    fingerprint and nothing else changes).

    dropDuplicates keeps the seen-key set in the state store, so
    each key crosses the sink in EXACTLY one micro-batch; the
    batch-owned idempotent writes + a distinct-on-read compaction
    make the result independent of micro-batch boundaries AND of
    crash/replay.  State is bounded by distinct-key cardinality —
    at 100 TB with unbounded keys, bound it with
    dropDuplicatesWithinWatermark (TTL'd suppression) or a RocksDB
    state store; the sink contract is unchanged."""
    ev = _stream_events(spark, sf_dir, source_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    emit = emitter or distinct_pairs_emitter(out_dir)
    return (
        dedup.writeStream.foreachBatch(emit)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def read_dedup_pairs(spark: SparkSession, out_dir: str):
    """Compaction read of the dedup sink: union the batch-owned
    directories and distinct (a replayed batch rewrites its own
    directory, so duplicates can only exist transiently mid-replay;
    distinct-on-read makes the reader correct even then)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .distinct()
    )


def stream_sink_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming-SINK query #4: runs the event file
    stream through the stateful exact-dedup (first-occurrence
    suppression) into the batch-owned parquet sink, then returns the
    compacted key set.  The emitted SET is deterministic for any
    micro-batch partitioning — each key appears exactly once, and
    only key columns are projected — so it oracle-checks against the
    batch SELECT DISTINCT."""
    return _run_sink(
        spark,
        "stream_sink_dedup_pairs",
        lambda out, ckpt: stream_dedup_pairs(spark, sf_dir, out, ckpt),
        lambda out: read_dedup_pairs(spark, out).orderBy(
            "user_id", "event_type"
        ),
    )


STREAM_SINK_DEDUP_PAIRS_ORACLE = """
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
"""

register(
    "stream_sink_dedup_pairs",
    stream_sink_dedup_pairs,
    STREAM_SINK_DEDUP_PAIRS_ORACLE,
)


# ---------------------------------------------------------------
# Driver-visible sink #5: stream-stream LEFT OUTER interval join
# ---------------------------------------------------------------


def stream_left_outer_attribution(
    spark: SparkSession,
    sf_dir: str,
    out: str,
    ckpt: str,
    source_dir: str | None = None,
):
    """Left-outer stream-stream interval join into an append parquet
    sink: every purchase joined to the same user's clicks in the
    preceding 30 minutes; purchases with NO qualifying click emit a
    null-extended row once the watermark proves no future click can
    match — the state-EVICTION half of stream-stream join semantics
    the inner form never exercises (watermarks: see _attribution).

    `source_dir` overrides the fixture with a pre-staged directory
    of time-sliced parquet files (one micro-batch each — the stress
    ladder uses this to observe per-batch state eviction; the
    staging must append its own flush-sentinel file)."""
    if source_dir is None:
        source_dir = stage_events_once(spark, sf_dir, flush_sentinel=True)
    # ONE streaming source, branched (round 14): the two join sides
    # used to be two separate readStream instances over the SAME
    # staged dir — two file-source listings + offset entries + batch
    # scans per micro-batch.  Branching a single source halves that
    # per-batch fixed cost (a stream-stream SELF-join over filtered
    # branches — each branch keeps its own watermark column);
    # emitted rows are identical, pinned by the oracle.
    src = _stream_events(spark, sf_dir, source_dir=source_dir)
    joined = _attribution(src, "leftOuter").select(
        "purchase_id", "p_user", "p_ts", "amount", "click_id"
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_sink_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible streaming-SINK query #5: runs the left-outer
    stream-stream join end-to-end, then rolls the sink's rows up to
    one row per emitted purchase (purchase_id, p_user, p_ts, amount,
    n_clicks) — n_clicks = 0 is a null-extended eviction row.
    Matched rows are emitted unconditionally; an UNMATCHED purchase
    is emitted only once the global watermark (min of the two
    stream frontiers, each ms-truncated max event time minus the
    10-minute delay) passes its p_ts, so the oracle applies that
    same closability filter — the stream_sink_sessions discipline
    applied to join-state eviction."""

    def read(out: str) -> DataFrame:
        sunk = spark.read.schema(
            "purchase_id bigint, p_user bigint, p_ts timestamp, "
            "amount double, click_id bigint"
        ).parquet(out)
        return (
            sunk.groupBy("purchase_id", "p_user", "p_ts", "amount")
            .agg(F.count("click_id").alias("n_clicks"))
            .orderBy("purchase_id")
        )

    with _state_partitions(spark, 4, no_data_batches=False):
        return _run_sink(
            spark,
            "stream_sink_left_outer_join",
            lambda out, ckpt: stream_left_outer_attribution(
                spark, sf_dir, out, ckpt
            ),
            read,
        )


STREAM_SINK_LEFT_OUTER_JOIN_ORACLE = """
WITH clicks AS (
  SELECT user_id AS c_user, ts AS c_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id,
         value AS amount
  FROM events WHERE event_type = 'purchase'
),
joined AS (
  SELECT p.purchase_id, p.p_user, p.p_ts, p.amount,
         CAST(count(c.click_id) AS BIGINT) AS n_clicks
  FROM purchases p
  LEFT JOIN clicks c
    ON p.p_user = c.c_user
   AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND c.c_ts <= p.p_ts
  GROUP BY p.purchase_id, p.p_user, p.p_ts, p.amount
),
wm AS (
  SELECT least(
           (SELECT (epoch_us(max(c_ts)) // 1000 - 600000) * 1000 FROM clicks),
           (SELECT (epoch_us(max(p_ts)) // 1000 - 600000) * 1000 FROM purchases)
         ) AS wm_us
)
SELECT purchase_id, p_user, p_ts, amount, n_clicks
FROM joined, wm
WHERE n_clicks > 0 OR epoch_us(p_ts) < wm_us
ORDER BY purchase_id
"""

register(
    "stream_sink_left_outer_join",
    stream_sink_left_outer_join,
    STREAM_SINK_LEFT_OUTER_JOIN_ORACLE,
)


# ---------------------------------------------------------------------------
# Streaming-SINK query #6: the mergeable histogram-quantile sketch
# under streaming ingest — the reason sketch_quantile_hist chose an
# order-free estimator gets PROVEN end-to-end here: each micro-batch
# writes its fixed-grid bin counts into a batch-owned subdirectory
# (idempotent under replay, the hourly_counts discipline) and the
# read side merges by summing bin counts, so the final quantile
# estimates are IDENTICAL to the batch estimate for every possible
# micro-batch partitioning of the input — the property
# order-dependent sketches (t-digest, GK) structurally cannot give
# a streaming sink.

from ..operators.sketches import QH_MICRO  # single source of the
# micro-unit scale — quantile_probe_from_hist divides by it, so a
# local redefinition could silently diverge from the probe stage.
EV_QH_WIDTH_MICRO = 2_000_000  # 2.0-unit bins over events.value
EV_QH_BINS = 256               # domain [0, 512) covers value 0.01-490


def hist_partials_emitter(out_dir: str):
    """foreachBatch emitter: per-batch fixed-grid bin counts of
    events.value, written idempotently into b<batch_id>/."""
    def emit_batch(batch_df, batch_id: int) -> None:
        part = (
            batch_df.select(
                F.least(
                    F.floor(
                        F.col("value") * F.lit(QH_MICRO)
                        / F.lit(EV_QH_WIDTH_MICRO)
                    ).cast("long"),
                    F.lit(EV_QH_BINS - 1),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("cnt"))
            .withColumn("_batch", F.lit(batch_id))
        )
        part.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    return emit_batch


def stream_append_hist(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ckpt_dir: str,
    source_dir: str | None = None,
):
    ev = _stream_events(spark, sf_dir, source_dir)
    return (
        ev.writeStream.foreachBatch(hist_partials_emitter(out_dir))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def read_hist_quantiles(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read: sum bin counts across batch-owned partials,
    then run the SAME probe stage as the batch sketch."""
    from ..operators.sketches import quantile_probe_from_hist

    merged = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return quantile_probe_from_hist(merged, EV_QH_WIDTH_MICRO)


def stream_sink_quantile_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible streaming-SINK query #6 (see module note
    above): file-stream the events fixture through the additive
    histogram sink, then return the merged quantile estimates —
    batch-boundary-invariant by bin-count associativity."""
    return _run_sink(
        spark,
        "stream_sink_quantile_hist",
        lambda out, ckpt: stream_append_hist(spark, sf_dir, out, ckpt),
        lambda out: read_hist_quantiles(spark, out).orderBy("permille"),
    )


def _qh_sink_oracle_sql() -> str:
    from ..operators.sketches import QH_PERMILLE

    permille_rows = ", ".join(f"({p})" for p in QH_PERMILLE)
    w = EV_QH_WIDTH_MICRO
    return f"""
WITH vals AS (SELECT value AS v FROM events),
hist AS (
  SELECT least(CAST(floor(v * {QH_MICRO} / {w}) AS BIGINT),
               {EV_QH_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM vals GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         sum(cnt) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS n
  FROM hist
),
qs AS (SELECT * FROM (VALUES {permille_rows}) AS t(permille)),
probe AS (
  SELECT q.permille, c.bin, c.cnt, c.cum,
         (q.permille * c.n + 999) // 1000 AS target_rank
  FROM cum c CROSS JOIN qs q
  WHERE c.cum >= (q.permille * c.n + 999) // 1000
    AND c.cum - c.cnt < (q.permille * c.n + 999) // 1000
)
SELECT CAST(permille AS INTEGER) AS permille,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(bin AS BIGINT) AS bin_idx,
       CAST(bin * {w} + ({w} * (target_rank - (cum - cnt))) // cnt
            AS DOUBLE) / {QH_MICRO} AS est
FROM probe
ORDER BY permille
"""


register(
    "stream_sink_quantile_hist",
    stream_sink_quantile_hist,
    _qh_sink_oracle_sql(),
)


# ---------------------------------------------------------------
# Driver-visible sink #7: stream-stream FULL OUTER interval join —
# the right-side eviction half the left-outer sink never exercises:
# clicks with NO qualifying purchase also emit a null-extended row
# once the watermark proves no future purchase can match them.
# ---------------------------------------------------------------


def stream_full_outer_attribution(
    spark: SparkSession,
    sf_dir: str,
    out: str,
    ckpt: str,
    source_dir: str | None = None,
):
    """Full-outer stream-stream interval join into an append parquet
    sink.  Same interval condition as the left-outer sink (clicks in
    the 30 minutes preceding a same-user purchase); BOTH unmatched
    sides emit on watermark-proven closability: a purchase when the
    global watermark passes p_ts (no earlier click can still
    arrive), a click when it passes c_ts + 30 min (no purchase it
    could precede can still arrive).  State on each side is bounded
    by its eviction frontier exactly as in the left-outer case.
    `source_dir` as in stream_left_outer_attribution."""
    if source_dir is None:
        source_dir = stage_events_once(spark, sf_dir, flush_sentinel=True)
    # one branched source — see stream_left_outer_attribution
    src = _stream_events(spark, sf_dir, source_dir=source_dir)
    joined = _attribution(src, "fullOuter").select(
        "purchase_id", "p_user", "p_ts", "amount", "click_id", "c_user",
        "c_ts",
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_sink_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible streaming-SINK query #7: runs the full-outer
    stream-stream join end-to-end, then tidies the sink into one row
    per emitted entity: kind='purchase' rows carry n_partner =
    matched click count (0 = purchase-side eviction row), kind=
    'click_unmatched' rows are the click-side eviction rows.  The
    oracle applies the two closability filters the engine's
    watermark eviction implements: unmatched purchases emit iff
    p_ts < wm strictly (the left-outer sink's pinned rule),
    unmatched clicks iff c_ts + 30 min < wm strictly, where wm is
    the min of the two ms-truncated stream frontiers minus the
    10-minute delay."""

    def read(out: str) -> DataFrame:
        sunk = spark.read.schema(
            "purchase_id bigint, p_user bigint, p_ts timestamp, "
            "amount double, click_id bigint, c_user bigint, c_ts timestamp"
        ).parquet(out)
        purchases = (
            sunk.where(F.col("purchase_id").isNotNull())
            .groupBy("purchase_id", "p_user", "p_ts", "amount")
            .agg(F.count("click_id").alias("n_partner"))
            .select(
                F.lit("purchase").alias("kind"),
                F.col("purchase_id").alias("id"),
                F.col("p_user").alias("user"),
                F.col("p_ts").alias("ts"),
                "amount",
                "n_partner",
            )
        )
        clicks = sunk.where(F.col("purchase_id").isNull()).select(
            F.lit("click_unmatched").alias("kind"),
            F.col("click_id").alias("id"),
            F.col("c_user").alias("user"),
            F.col("c_ts").alias("ts"),
            F.lit(None).cast("double").alias("amount"),
            F.lit(0).cast("long").alias("n_partner"),
        )
        return purchases.unionByName(clicks).orderBy("kind", "id")

    with _state_partitions(spark, 4, no_data_batches=False):
        return _run_sink(
            spark,
            "stream_sink_full_outer_join",
            lambda out, ckpt: stream_full_outer_attribution(
                spark, sf_dir, out, ckpt
            ),
            read,
        )


STREAM_SINK_FULL_OUTER_JOIN_ORACLE = """
WITH clicks AS (
  SELECT user_id AS c_user, ts AS c_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id,
         value AS amount
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least(
           (SELECT (epoch_us(max(c_ts)) // 1000 - 600000) * 1000 FROM clicks),
           (SELECT (epoch_us(max(p_ts)) // 1000 - 600000) * 1000 FROM purchases)
         ) AS wm_us
),
p_side AS (
  SELECT p.purchase_id, p.p_user, p.p_ts, p.amount,
         CAST(count(c.click_id) AS BIGINT) AS n_partner
  FROM purchases p
  LEFT JOIN clicks c
    ON p.p_user = c.c_user
   AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND c.c_ts <= p.p_ts
  GROUP BY p.purchase_id, p.p_user, p.p_ts, p.amount
),
c_unmatched AS (
  SELECT c.click_id, c.c_user, c.c_ts
  FROM clicks c
  WHERE NOT EXISTS (
    SELECT 1 FROM purchases p
    WHERE p.p_user = c.c_user
      AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
      AND c.c_ts <= p.p_ts
  )
)
SELECT kind, id, user, ts, amount, n_partner FROM (
  SELECT 'purchase' AS kind, purchase_id AS id, p_user AS user, p_ts AS ts,
         amount, n_partner
  FROM p_side, wm
  WHERE n_partner > 0 OR epoch_us(p_ts) < wm_us
  UNION ALL
  SELECT 'click_unmatched' AS kind, click_id AS id, c_user AS user,
         c_ts AS ts, CAST(NULL AS DOUBLE) AS amount, CAST(0 AS BIGINT)
  FROM c_unmatched, wm
  WHERE epoch_us(c_ts) + 1800000000 < wm_us
)
ORDER BY kind, id
"""

register(
    "stream_sink_full_outer_join",
    stream_sink_full_outer_join,
    STREAM_SINK_FULL_OUTER_JOIN_ORACLE,
)


# ---------------------------------------------------------------
# Driver-visible sink #8: dropDuplicatesWithinWatermark — the
# TTL-bounded streaming dedup that completes the dedup matrix
# (dropDuplicates keeps ALL keys forever; this keeps a key only
# until the watermark passes its event time + delay, the state
# bound a 100 TB ingest needs).
# ---------------------------------------------------------------

DWW_DELAY = "48 hours"
# 72 h slices, noon-offset: a day bucket spans two micro-batches
# whenever it crosses a slice boundary (1 day in 3 — cross-batch
# suppression stays exercised by thousands of keys) while the
# 30-day fixture replays in ~11 batches instead of ~31.  The
# determinism argument is unchanged: when a day-d row arrives, the
# watermark is at most slice_start - 48 h < d (never late, state
# never yet evicted), and day-d rows stop arriving long before the
# watermark reaches the d + 48 h expiry (never re-emitted).
DWW_SLICE_HOURS = 72
DWW_SLICE_OFFSET_HOURS = 12


def _stage_events_time_slices(
    spark: SparkSession,
    sf_dir: str,
    flush_sentinel: bool = False,
    slice_hours: int = DWW_SLICE_HOURS,
) -> str:
    """Stage the events fixture as one parquet file per slice
    (`slice_hours`, default DWW_SLICE_HOURS), slice boundaries
    OFFSET to noon so every
    day-bucket key spans exactly two micro-batches (cross-batch
    suppression is exercised, not just in-batch dedup).  Files get
    ascending mtimes so the file source replays them in event-time
    order — which is what makes the watermark progression, and
    therefore the TTL-dedup output, deterministic.

    flush_sentinel appends a zero-row file with the LATEST mtime —
    the guaranteed final data batch that flushes watermark-proven
    eviction rows of stream-stream outer joins (same role as
    _stream_events' sentinel; the stress ladder replays the joins
    through sliced staging)."""
    import time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = _scratch_dir("events_dww_")
    slice_us = slice_hours * 3600 * 1_000_000
    off_us = DWW_SLICE_OFFSET_HOURS * 3600 * 1_000_000
    # Staging is metadata-scale driver work (slice the fixture into
    # time-ordered files), not a distributed computation — round 14
    # moves it driver-side with pyarrow, removing two whole Spark
    # jobs per sink run (the repartition(1).write.partitionBy job
    # and the empty-sentinel write; the flush-sentinel discipline in
    # _stream_events made the same move in round 13).  ts
    # normalization mirrors io.load_table exactly: nanos fixtures
    # truncate to micros, naive micros pass through (Spark reads
    # them as TIMESTAMP_NTZ and _stream_events re-casts under UTC).
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts_idx = t.schema.get_field_index("ts")
    ts_type = t.schema.field(ts_idx).type
    if pa.types.is_timestamp(ts_type) and ts_type.unit == "ns":
        t = t.set_column(
            ts_idx, "ts", t.column("ts").cast(pa.timestamp("us"))
        )
    elif pa.types.is_int64(ts_type):
        micros_col = pa.compute.divide(t.column("ts"), 1000)
        t = t.set_column(
            ts_idx, "ts", micros_col.cast(pa.timestamp("us"))
        )
    micros = t.column("ts").cast(pa.int64()).to_numpy()
    # double division + floor, bit-matching the Spark expression the
    # previous staging used (F.floor((unix_micros + off) / slice_us))
    sl = np.floor((micros + off_us) / float(slice_us)).astype(np.int64)
    now = time.time()
    order = np.argsort(sl, kind="stable")
    uniq, starts = np.unique(sl[order], return_index=True)
    bounds = np.append(starts, len(order))
    for i in range(len(uniq)):
        rows = order[bounds[i] : bounds[i + 1]]
        dst = os.path.join(stage, f"slice_{i:04d}.parquet")
        pq.write_table(t.take(pa.array(np.sort(rows))), dst)
        os.utime(dst, (now + i, now + i))
    if flush_sentinel:
        dst = os.path.join(stage, "zz_flush.parquet")
        pq.write_table(t.schema.empty_table(), dst)
        os.utime(dst, (now + len(uniq), now + len(uniq)))
    return stage


def stream_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    out: str,
    ckpt: str,
    source_dir: str | None = None,
    emitter=None,
):
    """Streaming TTL-DEDUP: emit each (user_id, event_type, day)
    key once and suppress re-occurrences while the key's state
    lives; state is dropped once the watermark passes day + 48 h —
    bounded-state first-occurrence suppression (the fingerprint-
    suppressor ingest shape where the seen-set must not grow
    forever).

    Determinism: the dedup key INCLUDES the watermark column (the
    day bucket), so every duplicate of a key carries the SAME event
    time — the state expiry never depends on which duplicate a
    batch saw first — and the time-ordered slice staging pins the
    watermark sequence.  A day's rows all arrive while the
    watermark is >= 36 h below the day's expiry, so no key can be
    re-emitted after eviction; the emitted set is exactly DISTINCT
    (user_id, event_type, day)."""
    if source_dir is None:
        source_dir = _stage_events_time_slices(spark, sf_dir)
    ev = _stream_events(spark, None, source_dir)
    dedup = (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .withWatermark("day", DWW_DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    emit = emitter or distinct_pairs_emitter(out)
    return (
        dedup.writeStream.foreachBatch(emit)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )


def stream_sink_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible streaming-SINK query #8: the TTL dedup over
    the time-sliced event stream; compaction read + distinct (the
    replay-safety discipline shared by every batch-owned sink)."""
    # no_data_batches=False is safe WITHOUT a flush sentinel here —
    # this is the _state_partitions contract's arrival-emitting case
    # (b): dropDuplicatesWithinWatermark emits on first arrival, and
    # watermark eviction only drops seen-set state, never emits
    with _state_partitions(spark, 4, no_data_batches=False):
        return _run_sink(
            spark,
            "stream_sink_dedup_within_watermark",
            lambda out, ckpt: stream_dedup_within_watermark(
                spark, sf_dir, out, ckpt
            ),
            lambda out: read_dedup_pairs(spark, out).orderBy(
                "user_id", "event_type", "day"
            ),
        )


STREAM_SINK_DWW_ORACLE = """
SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
FROM events
ORDER BY user_id, event_type, day
"""

register(
    "stream_sink_dedup_within_watermark",
    stream_sink_dedup_within_watermark,
    STREAM_SINK_DWW_ORACLE,
)
