"""M5: streaming twin — the same operators through Structured Streaming
must produce results identical to the batch path (SURVEY §5 strategy 3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_poc_spark.operators import aggregates
from cdc_poc_spark.operators.enrich import enrich
from cdc_poc_spark.plans import cdc_mapping, registry
from cdc_poc_spark.session import free_caches
from cdc_poc_spark.sources.testdata import load_table
from cdc_poc_spark.streaming import pipeline, sinks

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_stream_matches_batch(spark, tmp_path):
    # wire-format records (incl. injected deletes) as a file stream
    wire_dir = tmp_path / "wire"
    registry._wire(spark, SF, corrupt=False).coalesce(1).write.text(str(wire_dir))

    ev = cdc_mapping.engagement_events(load_table(spark, SF, "events"))
    dim = cdc_mapping.content_dim(load_table(spark, SF, "part"))
    cfg = pipeline.PipelineConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        warehouse_path=str(tmp_path / "warehouse"),
    )
    src = pipeline.file_wire_source(spark, str(wire_dir), ev.schema)
    q = pipeline.run_cdc_pipeline(spark, src, dim, ev.schema, cfg)
    q.awaitTermination()

    # batch expectation: same events minus the injected deletes
    batch_enriched = enrich(
        ev.filter(F.col("id") % registry.DELETE_MOD != 0), dim
    )
    # W2 warehouse fact table content matches the batch enrichment
    fact = spark.read.parquet(cfg.warehouse_path).drop(sinks.HOUR_PARTITION_COL)
    assert _rows(fact.select(*batch_enriched.columns)) == _rows(batch_enriched)

    # W1 serving views match the batch standing aggregations
    for name, expect_fn in [
        ("serving_leaderboard", aggregates.leaderboard),
        ("serving_content_stats", aggregates.content_stats),
        ("serving_user_engagement", aggregates.user_engagement),
        ("serving_engagement_window", aggregates.engagement_window),
    ]:
        got = spark.sql(f"SELECT * FROM {name}")
        assert _rows(got) == _rows(expect_fn(batch_enriched)), name


def test_streaming_incremental_resume(spark, tmp_path, monkeypatch):
    """Second half of the stream arrives later; checkpoint resume must
    append only the new records (exactly-once over the union). The serving
    views cached after the first run must not serve its answers after the
    second, and must stay correct once their caches are dropped. The second
    run drops the caches between its micro-batches: a write does not
    refresh an uncached view, so the pipeline must publish the views again."""
    views = ("leaderboard", "content_stats", "user_engagement", "engagement_window")
    wire = registry._wire(spark, SF, corrupt=False).withColumn(
        "part", F.monotonically_increasing_id() % 2
    )
    wire_dir = tmp_path / "wire"
    ev = cdc_mapping.engagement_events(load_table(spark, SF, "events"))
    dim = cdc_mapping.content_dim(load_table(spark, SF, "part"))
    cfg = pipeline.PipelineConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        warehouse_path=str(tmp_path / "warehouse"),
    )
    wire.filter("part = 0").select("value").coalesce(1).write.mode("append").text(str(wire_dir))
    src = pipeline.file_wire_source(spark, str(wire_dir), ev.schema)
    pipeline.run_cdc_pipeline(spark, src, dim, ev.schema, cfg).awaitTermination()
    n1 = spark.read.parquet(cfg.warehouse_path).count()
    for v in views:  # builds each view's cache
        spark.table(f"serving_{v}").collect()

    # three files, one micro-batch each; written before the run, because
    # free_caches drops the wire's local checkpoint
    wire.filter("part = 1").select("value").repartition(3).write.mode("append").text(str(wire_dir))
    write = sinks.write_warehouse
    writes = []

    def free_before_second_write(enriched, path):
        writes.append(path)
        if len(writes) == 2:
            free_caches(spark)
        return write(enriched, path)

    monkeypatch.setattr(sinks, "write_warehouse", free_before_second_write)
    src2 = spark.readStream.schema("value string").option("maxFilesPerTrigger", 1)
    pipeline.run_cdc_pipeline(
        spark, src2.text(str(wire_dir)), dim, ev.schema, cfg
    ).awaitTermination()
    assert len(writes) == 3
    total = spark.read.parquet(cfg.warehouse_path).count()

    expected = ev.filter(F.col("id") % registry.DELETE_MOD != 0).count()
    assert n1 < total
    assert total == expected

    batch_enriched = enrich(ev.filter(F.col("id") % registry.DELETE_MOD != 0), dim)
    want = {v: _rows(getattr(aggregates, v)(batch_enriched)) for v in views}
    for v in views:
        assert _rows(spark.table(f"serving_{v}")) == want[v], v
    # A2-A4 are materialized; A1 ranks the cached A2 view
    assert all(spark.catalog.isCached(f"serving_{v}") for v in views[1:])
    # the last write refreshed the views' own file listing, not only their
    # caches: uncached, they still read every batch
    free_caches(spark)
    for v in views:
        assert _rows(spark.table(f"serving_{v}")) == want[v], f"{v} after free_caches"


def test_native_stateful_window_stream(spark, tmp_path):
    """A4 as a native watermarked streaming aggregation produces the same
    buckets as the batch operator."""
    wire_dir = tmp_path / "wire"
    registry._wire(spark, SF, corrupt=False).coalesce(1).write.text(str(wire_dir))
    ev = cdc_mapping.engagement_events(load_table(spark, SF, "events"))
    dim = cdc_mapping.content_dim(load_table(spark, SF, "part"))
    src = pipeline.file_wire_source(spark, str(wire_dir), ev.schema)
    agg = pipeline.streaming_minute_counts(src, dim, ev.schema)
    q = (
        agg.writeStream.format("memory")
        .queryName("minute_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT window.start AS ws, content_id, n_events, max_pct FROM minute_counts"
    )
    batch = aggregates.engagement_window(
        enrich(ev.filter(F.col("id") % registry.DELETE_MOD != 0), dim)
    ).select(
        F.col("window_start").cast("timestamp").alias("ws"),
        "content_id",
        "n_events",
        "max_pct",
    )
    assert _rows(got) == _rows(batch)


def _assert_files_cluster_sorted(path):
    """Every parquet file under ``path`` is sorted on the clustering keys
    (Spark's ascending order: nulls first)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    files = sorted(Path(path).rglob("*.parquet"))
    assert files
    for f in files:
        rows = pq.read_table(f, columns=list(sinks.CLUSTER_COLS)).to_pylist()
        keys = [tuple((r[c] is not None, r[c]) for c in sinks.CLUSTER_COLS) for r in rows]
        assert keys == sorted(keys), f"{f} is not sorted on {sinks.CLUSTER_COLS}"


def test_compaction_restores_file_budget(spark, tmp_path):
    """Repeated micro-batch appends fragment the fact table (one file per
    batch per partition); compact_partitions must rewrite each partition
    down to its byte-budget file count without changing the data. Every
    file, appended or compacted, stays sorted on the clustering keys."""
    ev = cdc_mapping.engagement_events(load_table(spark, SF, "events"))
    dim = cdc_mapping.content_dim(load_table(spark, SF, "part"))
    enriched = enrich(ev, dim)
    path = str(tmp_path / "wh")
    for _ in range(4):  # 4 "micro-batches" -> 4 files per hour partition
        sinks.write_warehouse(enriched, path)

    before_stats = sinks.partition_file_stats(spark, path)
    assert before_stats and all(n == 4 for n, _ in before_stats.values())
    before_rows = spark.read.parquet(path).count()
    _assert_files_cluster_sorted(path)

    report = sinks.compact_partitions(spark, path)
    assert set(report) == set(before_stats)
    assert all(b == 4 and a == 1 for b, a in report.values())
    assert spark.read.parquet(path).count() == before_rows
    _assert_files_cluster_sorted(path)
    # idempotent: a second pass finds nothing to do
    assert sinks.compact_partitions(spark, path) == {}


def test_streaming_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes at-least-once duplicates: an
    input with every 5th event doubled yields exactly the distinct ids."""
    ev = cdc_mapping.engagement_events(load_table(spark, SF, "events")).select(
        "id", "content_id", "event_ts"
    )
    doubled = ev.unionAll(ev.filter(F.col("id") % 5 == 0))
    d = str(tmp_path / "dup_in")
    doubled.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(doubled.schema).parquet(d)
    q = (
        pipeline.streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_out")
    assert got.count() == ev.count()
    assert got.select("id").distinct().count() == ev.count()


def test_streaming_sessions_match_batch(spark, tmp_path):
    """session_window sessions equal the batch gap-and-islands sessions."""
    from cdc_poc_spark.operators.sessions import sessionize

    ev = load_table(spark, SF, "events").select("user_id", "ts")
    d = str(tmp_path / "sess_in")
    ev.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    q = (
        pipeline.streaming_sessions(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT user_id, session_window.start AS s, n_events FROM sessions_out"
    )
    batch = sessionize(ev, "user_id", "ts", 30).select(
        "user_id",
        F.col("session_start").cast("timestamp").alias("s"),
        "n_events",
    )
    assert _rows(got) == _rows(batch)


def test_throughput_listener(spark, tmp_path):
    """A6: the listener must account every input row exactly once."""
    import time as _time

    from cdc_poc_spark.streaming import metrics

    ev = load_table(spark, SF, "events").select("event_id", "ts")
    d = str(tmp_path / "rate_in")
    ev.coalesce(1).write.parquet(d)
    listener = metrics.attach(spark)
    try:
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(d)
            .writeStream.format("noop")
            .queryName("rate_probe")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously
        deadline = _time.time() + 30
        while _time.time() < deadline:
            s = listener.stats.get("rate_probe")
            if s is not None and s.total_rows >= ev.count():
                break
            _time.sleep(0.5)
        s = listener.stats.get("rate_probe")
        assert s is not None and s.total_rows == ev.count()
        assert s.batches >= 1 and s.mean_rate > 0
    finally:
        metrics.detach(spark, listener)


def test_idempotent_batch_replay(spark, tmp_path):
    """T5/T6: a replayed micro-batch must REPLACE its prior output, not
    append duplicates — the engine-side fix for the reference's BigQuery
    re-queue duplication (BigQuerySink.java:248-251)."""
    ev = cdc_mapping.engagement_events(load_table(spark, SF, "events"))
    dim = cdc_mapping.content_dim(load_table(spark, SF, "part"))
    enriched = enrich(ev, dim)
    b0 = enriched.filter(F.col("event_id") % 2 == 0)
    b1 = enriched.filter(F.col("event_id") % 2 == 1)
    wh = str(tmp_path / "wh")

    sinks.write_batch_idempotent(b0, wh, batch_id=0)
    sinks.write_batch_idempotent(b1, wh, batch_id=1)
    n_first = sinks.read_idempotent_warehouse(spark, wh).count()
    # sink failure after commit -> epoch 1 replayed wholesale
    sinks.write_batch_idempotent(b1, wh, batch_id=1)
    replayed = sinks.read_idempotent_warehouse(spark, wh)
    assert replayed.count() == n_first == enriched.count()
    # and the content survives the replay bit-for-bit
    assert _rows(
        replayed.drop("batch_id", sinks.HOUR_PARTITION_COL).select(*enriched.columns)
    ) == _rows(enriched)


def test_watermark_drops_late_rows(spark, tmp_path):
    """T1/T2: an event older than the watermark at arrival time must be
    discarded from append-mode windowed aggregation — the well-defined
    late-data policy replacing the reference's TTL approximation."""
    import json

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "id LONG, event_time TIMESTAMP"

    def arrive(name, rows):
        (src_dir / name).write_text(
            "\n".join(json.dumps(r) for r in rows), encoding="utf-8"
        )

    def run_query():
        agg = (
            spark.readStream.schema(schema)
            .json(str(src_dir))
            .withWatermark("event_time", pipeline.WATERMARK)
            .groupBy(F.window("event_time", "1 minute"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    arrive("a.json", [
        {"id": 1, "event_time": "2024-01-01T12:00:30"},
        {"id": 2, "event_time": "2024-01-01T12:30:00"},
    ])
    run_query()  # watermark after this run: 12:20
    arrive("b.json", [
        {"id": 3, "event_time": "2024-01-01T12:05:00"},  # LATE: behind watermark
        {"id": 4, "event_time": "2024-01-01T12:31:00"},
    ])
    run_query()
    arrive("c.json", [{"id": 5, "event_time": "2024-01-01T14:00:00"}])
    run_query()  # advances the watermark past every earlier window

    got = {
        r.start.strftime("%H:%M"): r.n
        for r in spark.read.parquet(out_dir).select("window.start", "n").collect()
    }
    assert got.get("12:00") == 1
    assert got.get("12:30") == 1 and got.get("12:31") == 1
    assert "12:05" not in got  # the late row left no trace


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval self-join (watermarked, state-bounded) must
    produce exactly the batch join's pairs."""
    ev = (
        load_table(spark, SF, "events")
        .select(
            F.col("event_id").alias("id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("event_time"),
        )
    )
    src_dir = str(tmp_path / "ev_src")
    ev.coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    joined = pipeline.streaming_interval_join(stream, bound_minutes=5)
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT a_id, b_id FROM interval_join_out")
    batch = pipeline.streaming_interval_join(ev, bound_minutes=5).select(
        "a_id", "b_id"
    )
    assert _rows(got) == _rows(batch)
    assert batch.count() > 0


def test_streaming_incremental_embedding_dedup(spark, tmp_path):
    """Streaming vector ingestion driving incremental near-dup: each
    micro-batch (one file, forced by maxFilesPerTrigger=1) probes the
    standing index via embedding_dup_batch_lsh in foreachBatch, then
    joins the index. The streamed pair set must equal applying the
    incremental operator to the same batches sequentially — the
    composition a continuously-ingesting vector pipeline runs."""
    from cdc_poc_spark.operators.similarity import embedding_dup_batch_lsh

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 == 0)       # standing index
    batches = [
        emb.filter(F.col("vec_id") % 3 == 1),
        emb.filter(F.col("vec_id") % 3 == 2),
    ]
    ind = str(tmp_path / "vec_in")
    for i, b in enumerate(batches):
        # one file per batch => one micro-batch per file
        b.coalesce(1).write.parquet(f"{ind}/b{i}", mode="overwrite")

    # expected: sequential application, index growing between batches
    tau = 0.4
    # compare unordered pairs: the file-source batch ORDER is an
    # implementation detail, and a pair found later is emitted with the
    # roles swapped
    expected = set()
    index_df = base
    for b in batches:
        for r in embedding_dup_batch_lsh(index_df, b, tau).collect():
            expected.add(frozenset((r.vec_batch, r.vec_index)))
        index_df = index_df.unionByName(b)

    state = {"index": base, "pairs": set()}

    def on_batch(batch_df, _bid):
        batch = batch_df.persist()
        if batch.count() == 0:
            return
        for r in embedding_dup_batch_lsh(state["index"], batch, tau).collect():
            state["pairs"].add(frozenset((r.vec_batch, r.vec_index)))
        state["index"] = state["index"].unionByName(batch)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ind}/*")
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["pairs"] == expected and expected


def test_streaming_incremental_chunk_dedup(spark, tmp_path):
    """Streaming document ingestion driving incremental chunk-level dedup:
    each micro-batch probes the standing chunk-hash index in foreachBatch
    (cdc_incremental_dedup), then joins the index. Per-doc known-content
    ratios must equal the sequential application — the ingest-time
    storage-dedup loop a continuously-crawling pipeline runs."""
    from cdc_poc_spark.operators.dedup import cdc_incremental_dedup

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    batches = [
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
    ]
    ind = str(tmp_path / "doc_in")
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{ind}/b{i}", mode="overwrite")

    # the file-source batch ORDER is an implementation detail: compute the
    # sequential expectation for both orders and accept either
    def sequential(order):
        out, index_df = {}, base
        for b in order:
            for r in cdc_incremental_dedup(index_df, b).collect():
                out[r.doc_id] = (r.n_known_chunks, r.known_chars)
            index_df = index_df.unionByName(b)
        return out

    expected_orders = [sequential(batches), sequential(batches[::-1])]

    state = {"index": base, "got": {}}

    def on_batch(batch_df, _bid):
        batch = batch_df.persist()
        if batch.count() == 0:
            return
        for r in cdc_incremental_dedup(state["index"], batch).collect():
            state["got"][r.doc_id] = (r.n_known_chunks, r.known_chars)
        state["index"] = state["index"].unionByName(batch)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ind}/*")
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["got"] in expected_orders and state["got"]


def test_streaming_anomaly_monitor_matches_batch(spark, tmp_path):
    """Streaming rate-anomaly monitoring: micro-batches maintain the
    mergeable minute-count substrate (sum-merge per batch — counts for a
    minute straddling two batches must ADD), and scoring the merged
    counts equals running rate_anomalies over the full history in batch —
    the continuously-updated ops dashboard composition."""
    from cdc_poc_spark.operators.timeseries import (
        minute_counts,
        rate_anomalies,
        score_minute_counts,
    )

    # constructed series (sf0.001 events are ~1/minute: zero variance,
    # nothing to flag): 40 noisy minutes then a spike, two event types
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for etype in ("a", "b"):
        counts = [9, 11] * 20 + ([30] if etype == "a" else [10])
        for i, c in enumerate(counts):
            for _ in range(c):
                rows.append(
                    (eid, base + dt.timedelta(minutes=i, seconds=eid % 50),
                     etype)
                )
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, event_type string"
    )
    # split mid-minute so some minutes land in both batches
    batches = [ev.filter(F.col("event_id") % 2 == i) for i in range(2)]
    ind = str(tmp_path / "ev_in")
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{ind}/b{i}", mode="overwrite")

    state = {"minutes": None}

    def on_batch(batch_df, _bid):
        mc = minute_counts(batch_df).persist()
        if state["minutes"] is None:
            state["minutes"] = mc
        else:
            state["minutes"] = (
                state["minutes"]
                .unionByName(mc)
                .groupBy("event_type", "minute")
                .agg(F.sum("cnt").alias("cnt"))
                .persist()
            )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ind}/*")
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = _rows(score_minute_counts(state["minutes"], min_n=30))
    batch = _rows(rate_anomalies(ev, min_n=30))
    assert streamed == batch and batch


def test_scd2_merge_close_and_insert(spark):
    """scd2_merge semantics on constructed history: a key's standing
    CURRENT row closes at the key's first new version_ts, within-batch
    versions chain via lead, untouched keys pass through unchanged."""
    from datetime import datetime

    from cdc_poc_spark.operators.incremental import scd2_merge

    def ts(d):
        return datetime(2024, 1, d)

    state = spark.createDataFrame(
        [
            # key 1: one closed + one current row
            (1, "a v0", 100, ts(1), ts(8), False),
            (1, "a v1", 101, ts(8), None, True),
            # key 2: untouched by the batch
            (2, "b v0", 200, ts(1), None, True),
        ],
        "content_id bigint, version_title string, version_length_seconds int,"
        " valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean",
    )
    batch = spark.createDataFrame(
        [
            (1, "a v2", 102, ts(15)),
            (1, "a v3", 103, ts(22)),
            (3, "c v0", 300, ts(15)),  # brand-new key
        ],
        "content_id bigint, version_title string, version_length_seconds int,"
        " version_ts timestamp_ntz",
    )
    got = {
        (r.content_id, r.version_title): (r.valid_from, r.valid_to, r.is_current)
        for r in scd2_merge(state, batch).collect()
    }
    assert got == {
        (1, "a v0"): (ts(1), ts(8), False),
        (1, "a v1"): (ts(8), ts(15), False),   # closed at first new version
        (1, "a v2"): (ts(15), ts(22), False),  # chained within the batch
        (1, "a v3"): (ts(22), None, True),
        (2, "b v0"): (ts(1), None, True),      # untouched key unchanged
        (3, "c v0"): (ts(15), None, True),     # new key opens current
    }


def test_clusters_maintain_kill_and_resume(spark, tmp_path):
    """Round-4 verdict carry-over: stop the standing-cluster maintenance
    stream between micro-batches, restart from its checkpoint, and the
    final labeling must hash-match the one-shot batch CC over the full
    edge set. The checkpoint must also make the resumed run exactly-once
    over the SOURCE (only the new files feed batches after restart) —
    the merge itself is replay-idempotent, so exactly-once is asserted
    on the source progress counters, not just the labels."""
    import glob
    import os
    import shutil

    from cdc_poc_spark.operators.clustering import connected_components

    # two edge waves whose union rewires clusters across the restart:
    # wave 1 forms {1,2,3} and {10,11}; wave 2 bridges 3-10 (forcing a
    # cross-run contraction merge) and adds a fresh component {20,21}
    wave1 = [(1, 2), (2, 3), (10, 11)]
    wave2 = [(3, 10), (20, 21), (30, 31)]
    ind = tmp_path / "in"
    os.makedirs(ind)

    def _drop(rows, name):
        tmp = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, "doc_a bigint, doc_b bigint").coalesce(
            1
        ).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, str(ind / f"{name}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    state = str(tmp_path / "cluster_state")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema("doc_a bigint, doc_b bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(ind))
        )
        q = sinks.clusters_maintain(stream, state, checkpoint_dir=ckpt)
        q.awaitTermination()
        # batch ids, not numInputRows: foreachBatch re-scans the batch
        # frame (the merge reads it more than once), inflating row counts
        return sorted({p["batchId"] for p in q.recentProgress})

    _drop(wave1, "batch_0")
    assert _run() == [0]  # availableNow drains wave 1, then the query stops

    _drop(wave2, "batch_1")
    # exactly-once over the source: the resumed run continues at batch 1
    # (re-feeding wave 1 would replay batch 0 / report it again)
    assert _run() == [1]

    got = {
        (r.node, r.cluster_id)
        for r in spark.read.schema(sinks.CLUSTER_STATE_SCHEMA)
        .parquet(state)
        .collect()
    }
    edges = spark.createDataFrame(
        wave1 + wave2, "doc_a bigint, doc_b bigint"
    )
    want = {
        (r.node, r.cluster_id)
        for r in connected_components(
            edges, src="doc_a", dst="doc_b"
        ).collect()
    }
    assert got == want
    assert (10, 1) in got  # the cross-run bridge actually rewired wave 1


def _stage_waves(spark, tmp_path, schema: str, waves: list[list]):
    """File-drop helper shared by the kill-and-resume tests: returns
    (input_dir, drop) where drop(i) moves wave i into the watched
    directory as one parquet file."""
    import glob
    import os
    import shutil

    ind = tmp_path / "in"
    os.makedirs(ind, exist_ok=True)

    def drop(i: int) -> None:
        tmp = str(tmp_path / f"stage_{i}")
        spark.createDataFrame(waves[i], schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, str(ind / f"batch_{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    return ind, drop


def test_kmv_maintain_kill_and_resume(spark, tmp_path):
    """Round-6 verdict item 7: stop the KMV sketch maintenance stream
    between micro-batches, restart from its checkpoint, and the standing
    sketch must equal the one-shot batch sketch over ALL events
    (mergeability). Exactly-once over the source is asserted on batch
    ids (foreachBatch re-scans inflate numInputRows)."""
    from cdc_poc_spark.operators.sketches import kmv_sketch

    schema = "event_type string, user_id bigint"
    waves = [
        [("click", int(i)) for i in range(0, 300)]
        + [("view", int(i)) for i in range(100, 250)],
        [("click", int(i)) for i in range(200, 500)]
        + [("purchase", int(i)) for i in range(0, 80)],
    ]
    ind, drop = _stage_waves(spark, tmp_path, schema, waves)
    state = str(tmp_path / "kmv_state")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(ind))
        )
        q = sinks.kmv_maintain(stream, state, checkpoint_dir=ckpt)
        q.awaitTermination()
        return sorted({p["batchId"] for p in q.recentProgress})

    drop(0)
    assert _run() == [0]
    drop(1)
    assert _run() == [1]  # resumed run feeds ONLY the new file

    got = {
        (r.grp, r.h, r.rn)
        for r in spark.read.schema(sinks.KMV_STATE_SCHEMA)
        .parquet(state)
        .collect()
    }
    allev = spark.createDataFrame(waves[0] + waves[1], schema)
    want = {
        (r.grp, r.h, r.rn)
        for r in kmv_sketch(allev, "event_type", "user_id").collect()
    }
    assert got == want


def test_scd2_maintain_kill_and_resume(spark, tmp_path):
    """Round-6 verdict item 7: stop the SCD2 dimension maintenance stream
    between micro-batches, restart from its checkpoint, and the standing
    history must equal the sequential batch fold of the same waves.
    Wave 2 both versions an existing key (closing the open row from
    wave 1) and opens a brand-new key, so the resume actually rewrites
    prior state. Exactly-once over the source asserted on batch ids."""
    import datetime

    from cdc_poc_spark.operators.incremental import scd2_merge

    def ts(minute: int) -> datetime.datetime:
        return datetime.datetime(2024, 1, 1, 0, minute)

    schema = (
        "content_id bigint, version_title string,"
        " version_length_seconds int, version_ts timestamp_ntz"
    )
    waves = [
        [(1, "a v0", 100, ts(1)), (2, "b v0", 200, ts(2))],
        [(1, "a v1", 101, ts(10)), (3, "c v0", 300, ts(12))],
    ]
    ind, drop = _stage_waves(spark, tmp_path, schema, waves)
    state = str(tmp_path / "scd2_state")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(ind))
        )
        q = sinks.scd2_maintain(stream, state, checkpoint_dir=ckpt)
        q.awaitTermination()
        return sorted({p["batchId"] for p in q.recentProgress})

    drop(0)
    assert _run() == [0]
    drop(1)
    assert _run() == [1]

    got = {
        (r.content_id, r.version_title, r.valid_from, r.valid_to, r.is_current)
        for r in spark.read.schema(sinks.SCD2_SCHEMA).parquet(state).collect()
    }
    empty = spark.createDataFrame([], sinks.SCD2_SCHEMA)
    folded = scd2_merge(
        scd2_merge(empty, spark.createDataFrame(waves[0], schema)),
        spark.createDataFrame(waves[1], schema),
    )
    want = {
        (r.content_id, r.version_title, r.valid_from, r.valid_to, r.is_current)
        for r in folded.collect()
    }
    assert got == want
    # the wave-1 open row for key 1 must now be CLOSED by the resumed run
    assert any(c == 1 and t == "a v0" and cur is False
               for c, t, _, _, cur in got)


def test_sf1_stream_kill_and_resume(spark, tmp_path):
    """Round-7 verdict item 7: the checkpoint contract at sf1 volume — a
    1M-event twin of the CDC pipeline is killed MID-RUN (deterministic
    injected fault before batch 2, after batches 0-1 committed),
    restarted from its checkpoint, and the final warehouse + serving
    views must hash-match an uninterrupted run over the same wire input.
    The resumed run must also re-run the killed batch id with the same
    data (exactly-once), not skip or duplicate it."""
    import os

    from cdc_poc_spark.sources import generator as G

    n_events = 1_000_000
    sfdir = tmp_path / "sf1"
    os.makedirs(sfdir)
    G.gen_testdata_events(spark, n_events).write.parquet(
        str(sfdir / "events.parquet")
    )
    os.symlink("/root/testdata/sf0.1/part.parquet", str(sfdir / "part.parquet"))

    wire_dir = str(tmp_path / "wire")
    # 8 files -> 8 micro-batches under maxFilesPerTrigger=1
    registry._wire(spark, str(sfdir), corrupt=False).repartition(8).write.text(
        wire_dir
    )
    ev_schema = cdc_mapping.engagement_events(
        load_table(spark, str(sfdir), "events")
    ).schema
    dim = cdc_mapping.content_dim(load_table(spark, str(sfdir), "part"))

    # order-insensitive content hash; DECIMAL sum (a BIGINT sum of 1M
    # 64-bit hashes overflows under ANSI)
    _h = F.sum(F.xxhash64(F.struct("*")).cast("decimal(38,0)")).alias("h")

    def _hashes(warehouse_path: str) -> dict[str, object]:
        out = {
            "warehouse": spark.read.parquet(warehouse_path).select(_h).first()["h"]
        }
        for v in (
            "serving_leaderboard",
            "serving_content_stats",
            "serving_user_engagement",
            "serving_engagement_window",
        ):
            out[v] = spark.sql(f"SELECT * FROM {v}").select(_h).first()["h"]
        return out

    def _src(batched: bool):
        reader = spark.readStream.schema("value string")
        if batched:
            reader = reader.option("maxFilesPerTrigger", 1)
        return reader.text(wire_dir)

    # uninterrupted reference run
    cfg_a = pipeline.PipelineConfig(
        checkpoint_dir=str(tmp_path / "ckpt_a"),
        warehouse_path=str(tmp_path / "wh_a"),
    )
    pipeline.run_cdc_pipeline(
        spark, _src(False), dim, ev_schema, cfg_a
    ).awaitTermination()
    want = _hashes(cfg_a.warehouse_path)

    # killed run: fault injected before batch 2 (batches 0-1 committed)
    cfg_kill = pipeline.PipelineConfig(
        checkpoint_dir=str(tmp_path / "ckpt_b"),
        warehouse_path=str(tmp_path / "wh_b"),
        inject_fail_at_batch=2,
    )
    q = pipeline.run_cdc_pipeline(spark, _src(True), dim, ev_schema, cfg_kill)
    try:
        q.awaitTermination()
        raise AssertionError("injected fault did not kill the query")
    except Exception as exc:  # noqa: BLE001 — StreamingQueryException wrapper
        assert "injected fault" in str(exc)
    # resume from the checkpoint with the fault disarmed
    cfg_resume = pipeline.PipelineConfig(
        checkpoint_dir=cfg_kill.checkpoint_dir,
        warehouse_path=cfg_kill.warehouse_path,
    )
    q2 = pipeline.run_cdc_pipeline(
        spark, _src(True), dim, ev_schema, cfg_resume
    )
    q2.awaitTermination()
    batch_ids = sorted({p["batchId"] for p in q2.recentProgress})
    # exactly-once: the resumed run re-runs the killed batch 2 first and
    # never revisits the committed batches 0-1
    assert batch_ids and batch_ids[0] == 2, batch_ids

    got = _hashes(cfg_resume.warehouse_path)
    assert got == want
