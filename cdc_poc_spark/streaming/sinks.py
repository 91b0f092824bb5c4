"""W1/W2 sinks (SURVEY §2.8), Spark-first.

W2 — warehouse fact table: the reference lands enriched events in BigQuery
with HOUR time-partitioning on event_ts and clustering (content_type,
event_type) (reference sinks/BigQuerySink.java:104-139). Spark analog:
parquet partitioned by an hour-derived column, rows sorted within files on
the clustering keys so min/max row-group stats give the same data-skipping
clustering buys in BigQuery.

W1 — serving views: the reference's four Redis structures are materialized
views over the stream, updated in place (RedisSink.java:40-50). Here a
streaming query publishes A2-A4 once as cached temp views over the whole
fact table, and A1 as the top-K of the A2 view. Every later warehouse
append keeps them current: Spark refreshes the file listing of each cached
plan over the path it writes and rebuilds the cache lazily
(``CacheManager.recacheByPath``). A view's cache is built by the first read
after a write; every later read scans only the view's result, so a read
costs the size of the view, not of the warehouse. ``session.free_caches``
drops those caches: reads stay correct and re-aggregate the fact table,
and the pipeline republishes the views after its next write (an uncached
plan's file listing is not refreshed by a write). Recomputed counts under
replay are exactly-once (engine state), fixing the reference's
non-idempotent HINCRBY (SURVEY §2.7 T6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import aggregates

HOUR_PARTITION_COL = "event_hour"
CLUSTER_COLS = ("content_type", "event_type")


def with_hour_partition(df: DataFrame, ts_col: str = "event_ts") -> DataFrame:
    """Hour partition key as a sortable yyyyMMddHH string (tz-free)."""
    c = F.col(ts_col)
    return df.withColumn(
        HOUR_PARTITION_COL,
        F.format_string(
            "%04d%02d%02d%02d", F.year(c), F.month(c), F.dayofmonth(c), F.hour(c)
        ),
    )


def write_warehouse(
    enriched: DataFrame, path: str, mode: str = "append"
) -> T.StructType:
    """Append enriched events to the hour-partitioned, cluster-sorted fact
    table; returns the schema written, partition column included, for
    :func:`refresh_serving_views` to read the table back without inferring
    it. The append also refreshes the cached serving views over ``path``
    (see the module docstring). Hash-repartitioning on the partition column
    keeps one writer per hour value (no small-file explosion at scale);
    sorting within partitions on (hour, *clustering keys) makes parquet
    row-group stats selective for the (content_type, event_type)
    predicates — the W2 clustering analog. The hour leads the sort because
    a partitioned write needs its input ordered by the partition column:
    with the clustering keys alone, the planned write adds its own sort on
    the hour and Catalyst drops the clustering sort.

    The shuffle partition count is EXPLICIT (defaultParallelism): a bare
    repartition(col) is AQE-coalescible, and on a small micro-batch AQE
    folds the write onto one task that then opens every hour-partition's
    parquet writer sequentially — serializing the whole sink. Pinning the
    count keeps all writer slots busy; each task still writes whole hour
    groups (hash-partitioned), so the file count is unchanged."""
    out = with_hour_partition(enriched)
    n = enriched.sparkSession.sparkContext.defaultParallelism
    (
        out.repartition(n, F.col(HOUR_PARTITION_COL))
        .sortWithinPartitions(HOUR_PARTITION_COL, *CLUSTER_COLS)
        .write.partitionBy(HOUR_PARTITION_COL)
        .mode(mode)
        .parquet(path)
    )
    return out.schema


BATCH_PARTITION_COL = "batch_id"


def write_batch_idempotent(batch_df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent foreachBatch warehouse write (T5/T6): each micro-batch
    lands in its own ``batch_id=N`` partition with overwrite, so a replayed
    epoch (sink retried after a checkpoint-recovery restart) REPLACES its
    own prior output instead of appending duplicates — end-to-end
    exactly-once over an at-least-once sink, where the reference's BigQuery
    re-queue duplicates rows (BigQuerySink.java:248-251).

    The per-batch directory overwrite only touches that batch's partition
    (static overwrite of the explicit path), never neighbours."""
    out = with_hour_partition(batch_df)
    n = batch_df.sparkSession.sparkContext.defaultParallelism
    (
        out.repartition(n, F.col(HOUR_PARTITION_COL))
        .sortWithinPartitions(HOUR_PARTITION_COL, *CLUSTER_COLS)
        .write.partitionBy(HOUR_PARTITION_COL)
        .mode("overwrite")
        .parquet(f"{path}/{BATCH_PARTITION_COL}={int(batch_id)}")
    )


def read_idempotent_warehouse(spark: SparkSession, path: str) -> DataFrame:
    """Read the batch-partitioned fact table; ``basePath`` keeps both the
    batch_id and event_hour partition columns visible."""
    return spark.read.option("basePath", path).parquet(f"{path}/{BATCH_PARTITION_COL}=*")


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 32, sort: bool = True
) -> None:
    """Bucketed table layout: hash-bucket ``df`` on the join key so repeated
    fact⋈fact joins on that key run with NO exchange on either side (the
    Spark analog of co-located/bucketed joins in Hive/BigQuery clustering;
    at 100 TB this is how you amortize the big shuffle once at write time).
    Sorted buckets additionally let the join skip the sort of a sort-merge
    join."""
    w = df.write.bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.mode("overwrite").format("parquet").saveAsTable(table)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def partition_file_stats(spark: SparkSession, path: str) -> dict[str, tuple[int, int]]:
    """Per-partition (file_count, total_bytes) via the Hadoop FileSystem API
    — works unchanged on HDFS/S3A at cluster scale, no driver-side glob."""
    fs, root = _fs(spark, path)
    out: dict[str, tuple[int, int]] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            files = [
                f
                for f in fs.listStatus(st.getPath())
                if f.isFile() and f.getPath().getName().endswith(".parquet")
            ]
            out[name] = (len(files), sum(f.getLen() for f in files))
    return out


def compact_partitions(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict[str, tuple[int, int]]:
    """Small-file compaction for a partitioned fact table — the maintenance
    half of W2. Streaming appends (30 s micro-batches, reference
    BigQuerySink.java:48) accumulate one file per batch per partition; at
    100 TB that read-amplifies every scan, so periodically rewrite any
    partition holding more files than ``ceil(bytes / target_file_bytes)``.

    Scale-safe mechanics: affected partitions are rewritten to a sibling
    temp directory (never overwrite-while-reading), re-sorted on the
    clustering keys (restoring row-group selectivity), split by
    maxRecordsPerFile derived from the measured average row width, then
    swapped in with per-partition FS renames (the same move Delta/Iceberg
    commit protocols make atomic). Untouched partitions are never read.

    Returns {partition_dir: (files_before, files_after)}.
    """
    import math

    stats = partition_file_stats(spark, path)
    todo: dict[str, int] = {}
    for part, (nfiles, nbytes) in stats.items():
        ideal = max(1, math.ceil(nbytes / target_file_bytes))
        if nfiles > ideal:
            todo[part] = ideal
    if not todo:
        return {}

    part_col = next(iter(todo)).split("=", 1)[0]
    values = [p.split("=", 1)[1] for p in todo]
    sub = spark.read.parquet(path).filter(F.col(part_col).isin(values))
    rows = sub.count()
    total_bytes = sum(stats[p][1] for p in todo)
    avg_row_bytes = max(1.0, total_bytes / max(1, rows))
    max_records = max(1, int(target_file_bytes / avg_row_bytes))

    tmp = path.rstrip("/") + "__compacting"
    # the partition column leads, or the planned write re-sorts on it alone
    sort_cols = [part_col] + [c for c in CLUSTER_COLS if c in sub.columns]
    (
        sub.repartition(F.col(part_col))
        .sortWithinPartitions(*sort_cols)
        .write.option("maxRecordsPerFile", max_records)
        .mode("overwrite")
        .partitionBy(part_col)
        .parquet(tmp)
    )

    fs, root = _fs(spark, path)
    jvm = spark._jvm
    for part in todo:
        old = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{part}")
        new = jvm.org.apache.hadoop.fs.Path(f"{tmp}/{part}")
        fs.delete(old, True)
        fs.rename(new, old)
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)

    after = partition_file_stats(spark, path)
    return {p: (stats[p][0], after[p][0]) for p in todo}


# A2-A4, the serving views that hold a cache; A1 ranks the A2 view
CACHED_VIEWS = {
    "content_stats": aggregates.content_stats,
    "user_engagement": aggregates.user_engagement,
    "engagement_window": aggregates.engagement_window,
}


def refresh_serving_views(
    spark: SparkSession,
    warehouse_path: str,
    prefix: str = "serving_",
    schema: T.StructType | None = None,
) -> None:
    """Publish the W1 serving views over the accumulated fact table (the
    engine's ZRANGE/HGETALL read surface, SURVEY §3.3.1-2). The pipeline
    calls it after the first warehouse write of each streaming query, and
    again after a write that found an A2-A4 view no longer cached; every
    other append keeps the published views current by itself.

    A2-A4 are registered as lazily cached temp views, each coalesced to one
    partition so a point read runs one task. Nothing is computed here: the
    first read after a write builds a view's cache, and every later read
    scans only the view's result. A1 is the top-K of the cached A2 view, so
    it keeps no aggregate of its own. Each replaced view is uncached first,
    so no cache outlives the view it was built for.

    ``schema`` is the schema :func:`write_warehouse` returned; without it
    the fact table's schema is inferred from its files.
    """
    for name in CACHED_VIEWS:
        view = f"{prefix}{name}"
        if spark.catalog.tableExists(view):
            spark.catalog.uncacheTable(view)
    reader = spark.read if schema is None else spark.read.schema(schema)
    fact = reader.parquet(warehouse_path)
    for name, agg in CACHED_VIEWS.items():
        view = f"{prefix}{name}"
        agg(fact).coalesce(1).createOrReplaceTempView(view)
        spark.catalog.cacheTable(view)
    stats = spark.table(f"{prefix}content_stats")
    aggregates.leaderboard_of(stats).createOrReplaceTempView(f"{prefix}leaderboard")


SCD2_SCHEMA = (
    "content_id bigint, version_title string, version_length_seconds int, "
    "valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean"
)


def scd2_maintain(
    versions_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming SCD Type-2 dimension maintenance: each micro-batch of new
    dimension versions is folded into the standing history table with
    `operators/incremental.py::scd2_merge` (close-and-insert), the state
    republished with the same overwrite-then-swap move the serving views
    use — idempotent under micro-batch replay because the merge is a pure
    function of (previous state, batch).

    The parquet rewrite-per-batch is the no-transactional-format analog of
    a Delta/Iceberg MERGE; at cluster scale the swap becomes the table
    format's commit and only affected files rewrite. Returns the
    StreamingQuery; read the maintained table at ``state_path`` after
    termination.

    ``checkpoint_dir`` enables stop/restart across runs (same contract
    as :func:`clusters_maintain`): the source's progress lives in the
    checkpoint, so a resumed run feeds only unseen batches —
    exactly-once over the source, asserted in
    tests/test_streaming.py::test_scd2_maintain_kill_and_resume.
    """
    from ..operators.incremental import scd2_merge

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, root = _fs(spark, state_path)
        if fs.exists(root):
            state = spark.read.schema(SCD2_SCHEMA).parquet(state_path)
        else:
            state = spark.createDataFrame([], SCD2_SCHEMA)
        tmp = state_path.rstrip("/") + "__merging"
        scd2_merge(state, batch_df).write.mode("overwrite").parquet(tmp)
        jvm = spark._jvm
        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        fs.delete(root, True)
        fs.rename(jtmp, root)

    writer = versions_stream.writeStream.foreachBatch(_merge).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


KMV_STATE_SCHEMA = "grp string, h bigint, rn int"


def kmv_maintain(
    events_stream: DataFrame,
    state_path: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    checkpoint_dir: str | None = None,
):
    """Streaming KMV sketch maintenance: each micro-batch is sketched and
    merged into the standing per-group sketch with
    `operators/sketches.py::kmv_merge` — by the mergeability property
    (tested in tests/test_hll.py) the accumulated state equals the sketch
    of all events seen, so downstream set-algebra estimates are exactly
    what a batch rebuild would give. State is (|groups| x k) rows — the
    rewrite-per-batch is trivially cheap, and idempotent under replay
    (merging a batch twice is a no-op on a hash SET).

    Returns the StreamingQuery; read the sketch at ``state_path`` after
    termination and feed it to `kmv_setops_from_sketch`.

    ``checkpoint_dir`` enables stop/restart across runs (same contract
    as :func:`clusters_maintain`): source progress lives in the
    checkpoint, so a resumed run consumes only unseen batches —
    exactly-once over the source, asserted in
    tests/test_streaming.py::test_kmv_maintain_kill_and_resume."""
    from ..operators.sketches import kmv_merge, kmv_sketch

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, root = _fs(spark, state_path)
        batch_sk = kmv_sketch(batch_df, group_col, value_col)
        if fs.exists(root):
            state = spark.read.schema(KMV_STATE_SCHEMA).parquet(state_path)
            merged = kmv_merge(state, batch_sk)
        else:
            merged = batch_sk
        tmp = state_path.rstrip("/") + "__merging"
        merged.write.mode("overwrite").parquet(tmp)
        jvm = spark._jvm
        fs.delete(root, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), root)

    writer = events_stream.writeStream.foreachBatch(_merge).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


CLUSTER_STATE_SCHEMA = "node bigint, cluster_id bigint"


def clusters_maintain(
    pairs_stream: DataFrame, state_path: str, checkpoint_dir: str | None = None
):
    """Streaming duplicate-cluster maintenance: each micro-batch of
    near-dup PAIRS folds into the standing (node, cluster_id) labeling
    with `operators/clustering.py::incremental_components` — CC runs only
    on the batch-sized contracted graph, so cluster state stays fresh at
    the cost of the delta, never the corpus. Batch order cannot change
    the result (labels converge to per-component min ids whatever the
    merge sequence), which also makes replay idempotent.

    ``checkpoint_dir`` enables stop/restart across runs: the source's
    commit log skips already-folded batches, and because the on-disk
    state swap (write-to-tmp + atomic rename) is the LAST step of each
    micro-batch, a kill at any earlier point replays the batch into the
    pre-batch state — idempotent by the merge's order-independence
    (kill-and-resume is pinned by tests/test_streaming.py's
    clusters-restart test).

    Returns the StreamingQuery; the maintained labeling lives at
    ``state_path`` after termination."""
    from ..operators.clustering import incremental_components

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, root = _fs(spark, state_path)
        if fs.exists(root):
            state = spark.read.schema(CLUSTER_STATE_SCHEMA).parquet(state_path)
        else:
            state = spark.createDataFrame([], CLUSTER_STATE_SCHEMA)
        merged = incremental_components(state, batch_df, src="doc_a", dst="doc_b")
        tmp = state_path.rstrip("/") + "__merging"
        merged.write.mode("overwrite").parquet(tmp)
        jvm = spark._jvm
        fs.delete(root, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), root)

    writer = pairs_stream.writeStream.foreachBatch(_merge).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
