"""Window-function operator surface (SURVEY.md §2.2 "Window
functions": ranking, analytic lag/lead, running/moving frames —
absent in the reference, built on `pyspark.sql.Window`).

Every ORDER BY inside a window carries a unique tiebreak column
(custkey / event_id / orderkey) so results are total-ordered and
deterministic across engines and partitionings.

Scale note: a window partitioned by a high-cardinality key
(user_id, custkey) shuffles once on that key and sorts within
partitions — the same cost shape as a groupBy.  Windows with no
PARTITION BY would funnel everything to one task; none are used
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stable import (
    duck_qint,
    duck_qsum,
    qavg_window,
    qint,
    qsum,
    qsum_window,
)
from ..io import load_table
from ..registry import register


def window_rank_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation: row_number /
    rank / dense_rank over one shuffled+sorted window."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 3)
        .orderBy("c_nationkey", "rn")
    )


WINDOW_RANK_ORACLE = """
SELECT c_nationkey, c_custkey, acctbal, rn, rnk, drnk FROM (
  SELECT c_nationkey, c_custkey, c_acctbal AS acctbal,
         CAST(row_number() OVER w AS INTEGER) AS rn,
         CAST(rank()       OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC)
) t
WHERE rn <= 3
ORDER BY c_nationkey, rn
"""


def window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving sum/avg of event value over the last 4 events
    (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wf = w.rowsBetween(-3, 0)
    return (
        e.select(
            "user_id",
            "event_id",
            qsum_window("value", 4, wf).alias("mov_sum"),
            qavg_window("value", 4, wf).alias("mov_avg"),
            F.count("*").over(wf).alias("mov_n"),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_MOVING_SUM_ORACLE = """
SELECT user_id, event_id,
       (CAST(sum(CAST(floor((value) * 10000.0 + 0.5) AS BIGINT)) OVER w AS BIGINT) / 10000.0) AS mov_sum,
       ((CAST(sum(CAST(floor((value) * 10000.0 + 0.5) AS BIGINT)) OVER w AS BIGINT) / 10000.0) / count(*) OVER w) AS mov_avg,
       count(*) OVER w AS mov_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user (lag) and next event type (lead) —
    the sessionization building block."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev_ts = F.lag("ts", 1).over(w)
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts))
            .cast("bigint")
            .alias("gap_s"),
            F.lead("event_type", 1).over(w).alias("next_type"),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_LAG_LEAD_ORACLE = """
SELECT user_id, event_id, event_type,
       CAST(date_diff('second', lag(ts, 1) OVER w, ts) AS BIGINT) AS gap_s,
       lead(event_type, 1) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id, event_id
"""


def window_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running order total per customer (UNBOUNDED PRECEDING)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            qsum_window("o_totalprice", 2, w).alias("running_total"),
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
                )
            )
            .alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


WINDOW_CUMULATIVE_ORACLE = """
SELECT o_custkey, o_orderkey,
       (CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
             OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / 100.0) AS running_total,
       CAST(row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC) AS INTEGER)
           AS order_seq
FROM orders
ORDER BY o_custkey, order_seq
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: for each part, how many parts of the
    same brand are within 2 size units below it."""
    p = load_table(spark, sf_dir, "part")
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_size").asc())
        .rangeBetween(-2, 0)
    )
    return (
        p.select(
            "p_partkey",
            "p_brand",
            "p_size",
            F.count("*").over(w).alias("near_size_n"),
        )
        .orderBy("p_partkey")
    )


WINDOW_RANGE_FRAME_ORACLE = """
SELECT p_partkey, p_brand, p_size,
       count(*) OVER (PARTITION BY p_brand ORDER BY p_size ASC
                      RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS near_size_n
FROM part
ORDER BY p_partkey
"""


def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment of customers by balance within segment."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.ntile(4).over(w).alias("bal_quartile"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


WINDOW_NTILE_ORACLE = """
SELECT c_mktsegment, c_custkey,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER)
           AS bal_quartile
FROM customer
ORDER BY c_mktsegment, c_custkey
"""


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over a full-partition frame: each
    user's first and latest event type."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.count("*").over(w).alias("n_events"),
        )
        .distinct()
        .orderBy("user_id")
    )


WINDOW_FIRST_LAST_ORACLE = """
SELECT DISTINCT user_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type)  OVER w AS last_type,
       count(*) OVER w AS n_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id
"""


register("window_rank_acctbal", window_rank_acctbal, WINDOW_RANK_ORACLE)
register("window_moving_sum", window_moving_sum, WINDOW_MOVING_SUM_ORACLE)
register("window_lag_lead", window_lag_lead, WINDOW_LAG_LEAD_ORACLE)
register("window_cumulative", window_cumulative, WINDOW_CUMULATIVE_ORACLE)
register("window_range_frame", window_range_frame, WINDOW_RANGE_FRAME_ORACLE)
register("window_ntile", window_ntile, WINDOW_NTILE_ORACLE)
register("window_first_last", window_first_last, WINDOW_FIRST_LAST_ORACLE)


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank, cume_dist, and
    nth_value over each customer segment's balance ordering."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    r6 = lambda col: (F.floor(col * 1e6 + 0.5) / 1e6)  # noqa: E731
    return (
        c.where(F.col("c_custkey") <= 600)
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            r6(F.percent_rank().over(w)).alias("pct_rank"),
            r6(F.cume_dist().over(w)).alias("cume"),
            F.nth_value("c_acctbal", 3).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("third_lowest"),
        )
        .orderBy("c_custkey")
    )


WINDOW_DISTRIBUTION_ORACLE = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
       floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume,
       nth_value(c_acctbal, 3) OVER (
           PARTITION BY c_mktsegment
           ORDER BY c_acctbal ASC, c_custkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS third_lowest
FROM customer
WHERE c_custkey <= 600
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal ASC, c_custkey ASC)
ORDER BY c_custkey
"""

register(
    "window_distribution", window_distribution, WINDOW_DISTRIBUTION_ORACLE
)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at >30-minute gaps, then roll each session up to
    (start, end, n_events, total_value).

    The canonical scalable form — lag() to find gaps, a cumulative
    sum of new-session markers to assign session ids, one groupBy —
    everything partitioned by user_id, so the whole pipeline is ONE
    shuffle on user_id (the window and the groupBy share the key;
    no per-session re-scan, no driver loop).  This is the batch
    twin of the streaming session_window query (events_session) and
    the shape that holds at 100 TB: cost is O(events log events-
    per-user) within partitions.

    Reference analogue: none — maprdeuce.cpp has no temporal
    operators; this generalizes its per-key aggregation (SURVEY.md
    §2.1 #8) to order-dependent keys derived from the data itself.
    """
    return sessionize(load_table(spark, sf_dir, "events"))


def sessionize(e: DataFrame, gap_s: int = 1800) -> DataFrame:
    """DataFrame-level sessionization (see sessionize_events).

    Gap arithmetic is MICROSECOND-exact (unix_micros), matching the
    stateful streaming sessionizer bit-for-bit — second-truncated
    timestamps would silently merge/split sessions whose gaps
    straddle the 1800 s boundary by a fraction of a second, making
    batch and stream disagree on exactly those events."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap_marker = (
        F.when(
            us - F.lag(us).over(w) > gap_s * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session")
    )
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = (
        e.select("user_id", "ts", "event_id", "value", gap_marker)
        .withColumn("session_id", F.sum("new_session").over(wcum))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            qsum("value", 4).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


SESSIONIZE_ORACLE = f"""
WITH marked AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), assigned AS (
    SELECT user_id, ts, event_id, value,
           CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM marked
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       {duck_qsum('value', 4)} AS total_value
FROM assigned
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


register("sessionize_events", sessionize_events, SESSIONIZE_ORACLE)


def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based RANGE frame: each event's trailing 1-hour activity
    for the same user (event count + quantized value sum) — the
    frame boundary is a time distance, not a row count, so sparse
    and dense periods window correctly.  Portable form: both engines
    order by whole epoch seconds and use an inclusive 3600-second
    RANGE; the sum quantizes before aggregating (stable.py).  One
    keyed shuffle (user_id partition); bounded user subsample keeps
    the compared output small."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 20 == 0
    )
    sec = F.unix_timestamp("ts")
    base = e.select(
        "user_id",
        "event_id",
        sec.alias("sec"),
        qint("value", 4).alias("qv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, 0)
    )
    return (
        base.select(
            "user_id",
            "event_id",
            F.count("*").over(w).alias("n_1h"),
            (F.sum("qv").over(w) / F.lit(10000.0)).alias("sum_value_1h"),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_TIME_RANGE_ROLLING_ORACLE = f"""
WITH base AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         {duck_qint("value", 4)} AS qv
  FROM events
  WHERE user_id % 20 = 0
)
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       (CAST(sum(qv) OVER w AS BIGINT) / 10000.0) AS sum_value_1h
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""

register(
    "window_time_range_rolling",
    window_time_range_rolling,
    WINDOW_TIME_RANGE_ROLLING_ORACLE,
)


# ---------------------------------------------------------------
# Null-aware navigation: lead/lag/first/last with IGNORE NULLS and
# nth_value — the gap-bridging window surface (carry last known
# reading forward across nulls), completing the navigation-family
# coverage.  The null pattern is deterministic (event_id % 3 == 0
# masks value), so both engines see the identical null placement.
# ---------------------------------------------------------------
def window_nulls_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 25 == 0)
    masked = e.select(
        "user_id",
        "event_id",
        F.when(F.col("event_id") % 3 != 0, qint("value", 4)).alias("qv"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        masked.select(
            "user_id",
            "event_id",
            (F.col("qv") / 10000.0).alias("v"),
            (F.lag("qv", 1).over(w) / 10000.0).alias("prev_any"),
            (F.last("qv", ignorenulls=True).over(w) / 10000.0).alias(
                "carry_forward"
            ),
            (
                F.first("qv", ignorenulls=True).over(wfull) / 10000.0
            ).alias("first_known"),
            (F.nth_value("qv", 2).over(wfull) / 10000.0).alias("second_row"),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_NULLS_NAVIGATION_ORACLE = f"""
WITH base AS (
  SELECT user_id, event_id,
         CASE WHEN event_id % 3 <> 0
              THEN {duck_qint("value", 4)} END AS qv
  FROM events
  WHERE user_id % 25 = 0
)
SELECT user_id, event_id,
       CAST(qv AS DOUBLE) / 10000.0 AS v,
       CAST(lag(qv, 1) OVER w AS DOUBLE) / 10000.0 AS prev_any,
       CAST(last_value(qv IGNORE NULLS) OVER w AS DOUBLE) / 10000.0
           AS carry_forward,
       CAST(first_value(qv IGNORE NULLS) OVER wf AS DOUBLE) / 10000.0
           AS first_known,
       CAST(nth_value(qv, 2) OVER wf AS DOUBLE) / 10000.0 AS second_row
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
       wf AS (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id, event_id
"""

register(
    "window_nulls_navigation",
    window_nulls_navigation,
    WINDOW_NULLS_NAVIGATION_ORACLE,
)
