"""A1–A5 — the reference's standing aggregations (its Redis materialized
views, sinks/RedisSink.java:135-231), restated as DataFrame aggregations.

All four views are computed only over rows passing the O6 gate
(engagement_pct IS NOT NULL AND >= 0, RedisSink.java:136-140). Redis
"latest wins" arrival-order semantics are made deterministic as
latest-by-event_ts with event_id tiebreak (SURVEY §7.5 item 2).

Scale notes (100 TB posture):
- Every aggregation here is a single hash-aggregate with map-side partial
  combine (max_by/count/max compose into one shuffle on the group key).
  No window functions — a row_number() formulation would force a full
  sort of every partition key's rows; max_by keeps state O(groups).
- The leaderboard's final global ordering is top-K over the *aggregated*
  (already small) result: orderBy(desc).limit(k) compiles to
  TakeOrderedAndProject — per-partition heaps + driver merge of K rows,
  never a global sort of the input.
- total_events is computed in-engine, exactly-once under retry — fixing the
  reference's non-idempotent HINCRBY-under-replay bug (SURVEY §2.7 T6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.metrics import has_valid_engagement
from ..functions.timeutil import ntz_trunc


def valid_events(enriched: DataFrame) -> DataFrame:
    """O6 gate (RedisSink.java:136-140)."""
    return enriched.filter(has_valid_engagement(F.col("engagement_pct")))


def _latest(value_col, *order_cols):
    return F.max_by(value_col, F.struct(*order_cols))


def leaderboard(enriched: DataFrame, k: int = 100) -> DataFrame:
    """A1+A5+K1/K2 — top-K content by latest engagement_pct
    (RedisSink.java:174-188: ZADD overwrite => last score per content;
    ZREMRANGEBYRANK keeps top 100).

    The latest score per content is A2's latest state, so A1 is the top-K
    of :func:`content_stats` (:func:`leaderboard_of`); the serving path
    ranks its published A2 view the same way.
    """
    return leaderboard_of(content_stats(enriched), k)


def leaderboard_of(stats: DataFrame, k: int = 100) -> DataFrame:
    """Top-K of an A2 (:func:`content_stats`) result by latest score.

    Output: content_id, content_type, content_title, score — the ZRANGE
    member/score read shape (README.md:224).
    """
    ranked = stats.select(
        "content_id",
        "content_type",
        "content_title",
        F.col("latest_engagement_pct").alias("score"),
    )
    return top_k(ranked, "score", k, "content_id")


def content_stats(enriched: DataFrame) -> DataFrame:
    """A2 — per-content running stats hash (RedisSink.java:190-207):
    running count + latest pct/event_type/device/event_ts."""
    v = valid_events(enriched)
    ts, eid = F.col("event_ts"), F.col("event_id")
    return v.groupBy("content_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        _latest(
            F.struct(
                "engagement_pct", "event_type", "device", "content_type", "content_title"
            ),
            ts,
            eid,
        ).alias("l"),
        F.max(ts).alias("last_updated"),
    ).select(
        "content_id",
        "total_events",
        F.col("l.engagement_pct").alias("latest_engagement_pct"),
        F.col("l.event_type").alias("last_event_type"),
        F.col("l.device").alias("last_device"),
        F.col("l.content_type").alias("content_type"),
        F.col("l.content_title").alias("content_title"),
        "last_updated",
    )


def user_engagement(enriched: DataFrame) -> DataFrame:
    """A3 — per (user_id, content_id) last-value (RedisSink.java:209-219)."""
    v = valid_events(enriched)
    ts, eid = F.col("event_ts"), F.col("event_id")
    return v.groupBy("user_id", "content_id").agg(
        _latest(F.col("engagement_pct"), ts, eid).alias("engagement_pct"),
        F.max(ts).alias("last_updated"),
    )


def engagement_window(enriched: DataFrame) -> DataFrame:
    """A4 — per-minute tumbling buckets keyed by *event* time
    (RedisSink.java:221-231): per (minute, content_id) the aggregate of
    engagement scores landing in the bucket.

    The reference stores the raw (content, pct) set per bucket; the relational
    result is the per-bucket per-content summary. Uses date_trunc (native,
    partition-prunable) rather than the string key F2 format; the string key
    is a display concern (minute_bucket() in functions.metrics).
    """
    v = valid_events(enriched)
    return v.groupBy(
        ntz_trunc("minute", F.col("event_ts")).alias("window_start"),
        F.col("content_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("engagement_pct").alias("max_pct"),
        F.min("engagement_pct").alias("min_pct"),
        # exact decimal sum (order-insensitive), surfaced as double — a raw
        # double sum would be partition-order dependent and break the oracle
        F.sum(F.col("engagement_pct").cast("decimal(18,2)")).cast("double").alias("sum_pct"),
    )


def top_k(df: DataFrame, order_col: str, k: int, *tiebreak_cols: str) -> DataFrame:
    """K1/K2 — generic ordered truncation; compiles to TakeOrderedAndProject."""
    order = [F.desc(order_col)] + [F.asc(c) for c in tiebreak_cols]
    return df.orderBy(*order).limit(k)
