"""The streaming twin of the batch pipeline (SURVEY §7.3 M5) — the
reference's end-to-end dataflow (EngagementStreamingJob.java:64-120)
restated as Structured Streaming:

  source (Kafka topic / file dir of Debezium JSON)
    -> envelope parse + dead-letter split (O1/O8)
    -> stream-static broadcast enrichment join (J1; dim re-read per batch =
       the reference's latest-wins MapState upsert, §2.3)
    -> derived metrics (O4/O5) inside the same select
    -> foreachBatch fan-out (W2 warehouse append; the W1 serving views,
       published over it once per query, follow each append), mirroring
       the reference's Redis+BigQuery fan-out with its 30 s cadence as the
       micro-batch trigger.

Checkpointing gives exactly-once state, and the serving views are
recomputed from the warehouse rather than incremented — the effective
guarantee the reference configures but does not achieve (SURVEY §2.7
T4/T6).

Event-time: the reference runs on processing time with no watermarks (T1);
we standardize on event-time with a 10-minute watermark where windowed
state is involved (documented divergence, strictly better-defined late-data
semantics).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.enrich import enrich
from ..sources import debezium
from . import sinks

WATERMARK = "10 minutes"  # ref: 10-min bucket TTL (RedisSink.java:41,47)


@dataclass
class PipelineConfig:
    checkpoint_dir: str
    warehouse_path: str
    serving_prefix: str = "serving_"
    trigger_once: bool = True  # availableNow for tests; prod: 30 s cadence
    # Fault injection for checkpoint-recovery tests: raise BEFORE
    # processing the micro-batch with this id, killing the query after
    # the preceding batches committed — the deterministic stand-in for
    # an executor/driver crash mid-run. Structured Streaming then
    # re-runs the SAME batch id with the SAME data on restart, which is
    # exactly the exactly-once contract the kill-and-resume tests pin.
    inject_fail_at_batch: int | None = None


def file_wire_source(
    spark: SparkSession, input_dir: str, schema_hint: T.StructType
) -> DataFrame:
    """Debezium JSON records as a file stream (one record per line) — the
    test/replay stand-in for the Kafka source (S2/S3); both yield a single
    ``value`` string column."""
    return (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .text(input_dir)
    )


def kafka_wire_source(
    spark: SparkSession, brokers: str, topic: str, starting_offsets: str = "latest"
) -> DataFrame:
    """S2/S3: Kafka source, value-only string deserialization
    (EngagementStreamingJob.java:150-182). Offsets: 'latest' for the event
    topic, 'earliest' to replay the full dimension topic on startup."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )


def run_cdc_pipeline(
    spark: SparkSession,
    wire: DataFrame,
    dim: DataFrame,
    after_schema: T.StructType,
    config: PipelineConfig,
) -> StreamingQuery:
    """Wire-format stream -> enriched warehouse + serving views.

    ``dim`` is the content dimension as a *batch* DataFrame (stream-static
    join): re-evaluated every micro-batch, so dimension updates land on the
    next batch — the same latest-version-wins behavior as the reference's
    keyed MapState, at micro-batch rather than per-record granularity.

    The serving views are published after the query's first write, so a
    new query never serves views over another warehouse; later appends
    keep the cached views current by themselves. They are published again
    after a write that finds one no longer cached (``session.free_caches``),
    because a write does not refresh an uncached view's file listing.
    """
    parsed = debezium.parse_envelope(wire, after_schema)
    published = False

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal published
        if config.inject_fail_at_batch is not None and (
            batch_id == config.inject_fail_at_batch
        ):
            raise RuntimeError(
                f"injected fault before batch {batch_id} (recovery test)"
            )
        good = debezium.good_rows(batch_df)
        enriched = enrich(good, dim)
        schema = sinks.write_warehouse(enriched, config.warehouse_path)
        if not published or not all(
            spark.catalog.isCached(f"{config.serving_prefix}{name}")
            for name in sinks.CACHED_VIEWS
        ):
            sinks.refresh_serving_views(
                spark, config.warehouse_path, config.serving_prefix, schema
            )
            published = True

    writer = parsed.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", config.checkpoint_dir
    )
    if config.trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")  # ref cadence
    return writer.start()


def streaming_minute_counts(
    wire: DataFrame, dim: DataFrame, after_schema: T.StructType
) -> DataFrame:
    """A4 as a NATIVE stateful streaming aggregation (not foreachBatch):
    watermarked 1-minute tumbling windows of valid engagement per content —
    demonstrates the incremental-state path used when serving views must
    not be recomputed. TIMESTAMP (not NTZ) event time, as watermarks
    require an instant-typed column."""
    from pyspark.sql import functions as F

    from ..operators.aggregates import valid_events

    parsed = debezium.parse_envelope(wire, after_schema)
    good = debezium.good_rows(parsed)
    enriched = enrich(good, dim)
    v = valid_events(enriched).withColumn(
        "event_time", F.col("event_ts").cast("timestamp")
    )
    return (
        v.withWatermark("event_time", WATERMARK)
        .groupBy(F.window("event_time", "1 minute"), F.col("content_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("engagement_pct").alias("max_pct"),
        )
    )


def streaming_leaderboard(
    wire: DataFrame, dim: DataFrame, after_schema: T.StructType, k: int = 100
) -> DataFrame:
    """A1 (the reference's headline standing query) as a NATIVE streaming
    aggregation: wire parse -> broadcast enrich -> validity gate -> one
    max_by(latest) agg per content -> global top-k. Complete output mode
    maintains the standing result incrementally — the engine-native form of
    the Redis ZADD-overwrite + ZREMRANGEBYRANK loop
    (reference sinks/RedisSink.java:174-188)."""
    from ..operators.aggregates import leaderboard

    parsed = debezium.parse_envelope(wire, after_schema)
    good = debezium.good_rows(parsed)
    return leaderboard(enrich(good, dim), k)


def streaming_dedup(events: DataFrame, ts_col: str = "event_ts") -> DataFrame:
    """Exactly-once event dedup by id under an at-least-once source:
    ``dropDuplicatesWithinWatermark`` keys state on ``id`` and expires it
    once the watermark passes — bounded state at any scale. This is the
    engine-side fix for the reference's duplicate-on-replay warehouse sink
    (BigQuerySink re-queues failed batches, SURVEY §2.7 T5/T6): dedup
    *before* the sink instead of hoping the sink is idempotent."""
    from pyspark.sql import functions as F

    with_time = events.withColumn("event_time", F.col(ts_col).cast("timestamp"))
    return with_time.withWatermark("event_time", WATERMARK).dropDuplicatesWithinWatermark(
        ["id"]
    )


def streaming_sessions(
    events: DataFrame, gap_minutes: int = 30, ts_col: str = "ts", key: str = "user_id"
) -> DataFrame:
    """Native stateful sessionization: ``session_window`` with a per-user
    inactivity gap — the streaming twin of operators.sessions.sessionize
    (merging windows + watermark state eviction handled by the engine)."""
    from pyspark.sql import functions as F

    with_time = events.withColumn("event_time", F.col(ts_col).cast("timestamp"))
    return (
        with_time.withWatermark("event_time", WATERMARK)
        .groupBy(
            F.session_window("event_time", f"{int(gap_minutes)} minutes"),
            F.col(key),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def streaming_interval_join(
    events: DataFrame, bound_minutes: int = 5, key: str = "user_id"
) -> DataFrame:
    """Stream-stream self-join with an event-time interval bound: each
    event paired with the same user's LATER events arriving within
    ``bound_minutes`` (the follow-on-action shape: click -> purchase).

    Both sides carry a watermark, and the interval condition bounds the
    join state in BOTH directions — the engine can expire buffered rows
    once the watermark passes, so state stays O(events in the interval
    window) at any scale. An unbounded-time stream-stream join would grow
    state forever; this is the well-defined Spark-native form of joining
    two CDC streams (the reference never joins fact-to-fact; this extends
    J1 to the stream-stream case)."""
    from pyspark.sql import functions as F

    a = (
        events.select(
            F.col("id").alias("a_id"),
            F.col(key).alias("a_key"),
            F.col("event_time").alias("a_time"),
        ).withWatermark("a_time", WATERMARK)
    )
    b = (
        events.select(
            F.col("id").alias("b_id"),
            F.col(key).alias("b_key"),
            F.col("event_time").alias("b_time"),
        ).withWatermark("b_time", WATERMARK)
    )
    return a.join(
        b,
        (F.col("a_key") == F.col("b_key"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.col("b_time") >= F.col("a_time"))
        & (
            F.col("b_time")
            <= F.col("a_time") + F.expr(f"INTERVAL {int(bound_minutes)} MINUTES")
        ),
        "inner",
    )
