"""The workloads. Each runs set-up, warm-up, a measured phase of about
``seconds``, and a correctness gate, and returns a :class:`Result`.

With ``trace=True`` the same run also writes the Spark event log, tags
every call into a layer with its job group, and finishes with the layer
probe (``probe.py``) so every per-layer metric is reported on every
workload.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from . import common as C
from . import stats

INGEST_WARM_FILES = 2
# cdc_ingest replays a fixed backlog, so a parent and a child commit do the
# same work: one timed 10k-event micro-batch per second of --seconds (at the
# parent's ~1.5 s per batch on 4 cores, the timed phase runs ~1.5x
# --seconds; fewer batches left the median batch too noisy)
INGEST_FILES_PER_S = 1.0
READS_WAREHOUSE_FILES = 3
# untimed rounds before the measured loop: a fresh JVM's read latency
# falls ~40 % over its first ~50 reads while the JIT compiles
READS_WARM_S = 4
READ_KINDS = (
    "leaderboard",
    "content_stats",
    "user_engagement",
    "engagement_window",
    "warehouse_sql",
)
WINDOW_MINUTES = 5

# one or two registry queries per operator module; all pass their DuckDB
# oracle on the generated twins, and each oracle runs in well under 1 s
SUITE = (
    "dedup_simhash",  # dedup
    "sim_topk_cosine",  # similarity
    "text_stats",  # text_analysis
    "dedup_clusters_incremental",  # clustering
    "wh_approx_users",  # sketches
    "cdc_engagement_hits",  # graph
    "mm_decode_features",  # multimodal
    "wh_sessions",  # sessions
    "ts_anomaly",  # timeseries
    "pipeline_pack_sequences",  # packing
    "text_pii_redact",  # masking
    "wh_k_anonymity",  # privacy
)
# testdata-schema twins at sf0.01 row counts (only the tables SUITE reads)
SUITE_TABLES = {
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
    "customer": 1_500,
}


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    report: dict = field(default_factory=dict)  # human-readable extras
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.correct = False
            self.problems.append(what)


@dataclass
class Ctx:
    seed: int
    seconds: int
    trace: bool
    spark: object = None
    tracer: C.Tracer = None
    query_layers: dict = field(default_factory=dict)  # streaming run id -> layer
    loop_groups: list = field(default_factory=list)  # job groups of the measured loop
    last_run_id: str = ""
    layer: dict = field(default_factory=dict)  # per-layer metrics


# ---------------------------------------------------------------------------
# Set-up
# ---------------------------------------------------------------------------


def setup(ctx: Ctx, generate, rows_generated: int):
    """Start the session, which launches the JVM as it would for a user,
    then generate the inputs. Returns (inputs, setup_s), setup_s being the
    cold start plus the generation time. Neither is repeated: a cold start
    costs ~8 s and a generation ~15 s on 4 cores, and a repeat of either
    would push the benchmark's runs past their time budget."""
    ctx.tracer = C.Tracer(jobs=ctx.trace)
    with ctx.tracer.span("session", "get_spark"):
        ctx.spark = C.start_session(ctx.trace)
    start_s = ctx.tracer.last()
    ctx.tracer.spark = ctx.spark
    with ctx.tracer.span("sources.generator"):
        inputs = generate(ctx.spark)
    gen_s = ctx.tracer.last()
    ctx.layer["session.start_s"] = start_s
    ctx.layer["sources.generator.events_per_s"] = rows_generated / gen_s
    return inputs, start_s + gen_s


def memory(ctx: Ctx) -> tuple[float, float]:
    """(peak RSS, retained MB) after the measured phase. The peak also goes
    to the traced run as ``trace.peak_rss_mb``: it follows how far the
    collector let the heap grow, so it spreads too much between runs to be
    an end-to-end metric."""
    rss = C.peak_rss_mb(ctx.spark)
    ctx.layer["trace.peak_rss_mb"] = rss
    return rss, C.retained_mb(ctx.spark)


# ---------------------------------------------------------------------------
# CDC pipeline helpers
# ---------------------------------------------------------------------------


def start_pipeline(
    ctx: Ctx, inputs: C.CdcInputs, source_dir: str, name: str, layer: str, backlog: bool = True
):
    """Start run_cdc_pipeline over the wire files in ``source_dir``. A
    backlog replay runs availableNow, one file per micro-batch; otherwise
    the pipeline runs in its production trigger mode. Returns (query,
    config)."""
    from cdc_poc_spark.schemas import ENGAGEMENT_EVENT_SCHEMA
    from cdc_poc_spark.streaming import pipeline

    root = C.fresh_dir(name)
    cfg = pipeline.PipelineConfig(
        checkpoint_dir=os.path.join(root, "checkpoint"),
        warehouse_path=os.path.join(root, "warehouse"),
        trigger_once=backlog,
    )
    q = pipeline.run_cdc_pipeline(
        ctx.spark,
        C.wire_stream(ctx.spark, source_dir, one_file_per_batch=backlog),
        inputs.dim(ctx.spark),
        ENGAGEMENT_EVENT_SCHEMA,
        cfg,
    )
    ctx.query_layers[str(q.runId)] = layer
    ctx.last_run_id = str(q.runId)
    return q, cfg


def data_progress(q) -> list[dict]:
    return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]


def run_pipeline(ctx: Ctx, inputs: C.CdcInputs, source_dir: str, name: str, layer: str):
    """Replay every wire file in ``source_dir`` to completion. Returns the
    progress of the micro-batches that read data, and the config."""
    q, cfg = start_pipeline(ctx, inputs, source_dir, name, layer)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"pipeline failed: {q.exception()}")
    return data_progress(q), cfg


def batch_seconds(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]


def pipeline_layer_metrics(ctx: Ctx, progress: list[dict]) -> None:
    """Per-batch durations from the progress events, as means: most are a
    few milliseconds, where a median of whole milliseconds barely moves."""

    def mean(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000.0 / len(progress)

    L = ctx.layer
    L["streaming.pipeline.batches"] = len(progress)
    rows = [p["numInputRows"] for p in progress]
    L["streaming.pipeline.rows_per_batch"] = statistics.median(rows)
    L["streaming.pipeline.trigger_s"] = mean("triggerExecution")
    L["streaming.pipeline.add_batch_s"] = mean("addBatch")
    L["streaming.pipeline.planning_s"] = mean("queryPlanning")
    L["streaming.pipeline.latest_offset_s"] = mean("latestOffset")
    L["streaming.pipeline.get_batch_s"] = mean("getBatch")
    L["streaming.pipeline.commit_s"] = mean("walCommit") + mean("commitOffsets")


def warehouse_layout(ctx: Ctx, warehouse: str) -> None:
    from cdc_poc_spark.streaming import sinks

    parts = sinks.partition_file_stats(ctx.spark, warehouse)
    files = sum(n for n, _ in parts.values())
    size = sum(b for _, b in parts.values())
    L = ctx.layer
    L["streaming.sinks.files_written"] = files
    L["streaming.sinks.bytes_written"] = size
    L["streaming.sinks.avg_file_bytes"] = size / max(1, files)
    L["streaming.sinks.max_files_per_partition"] = max((n for n, _ in parts.values()), default=0)


def expected_enriched(ctx: Ctx, inputs: C.CdcInputs, n_events: int):
    """The batch path over the same generated events: generator ->
    good-record filter -> operators.enrich."""
    from cdc_poc_spark.operators.enrich import enrich

    return enrich(inputs.good_events(ctx.spark, n_events), inputs.dim(ctx.spark))


def check_pipeline_outputs(ctx: Ctx, res: Result, inputs, n_events: int, cfg):
    """Warehouse rows = generated - deletes - malformed, and the warehouse
    plus all four serving views equal the batch path over the same events."""
    from cdc_poc_spark.operators import aggregates
    from cdc_poc_spark.schemas import ENRICHED_COLUMNS

    exp = expected_enriched(ctx, inputs, n_events).cache()
    fact = ctx.spark.read.parquet(cfg.warehouse_path).select(*ENRICHED_COLUMNS)
    views = ("leaderboard", "content_stats", "user_engagement", "engagement_window")
    # both sides in one Spark job
    prints = C.fingerprints(
        [fact]
        + [ctx.spark.table(f"{cfg.serving_prefix}{v}") for v in views]
        + [exp.select(*ENRICHED_COLUMNS)]
        + [getattr(aggregates, v)(exp) for v in views]
    )
    got, want = prints[:5], prints[5:]
    exp.unpersist()
    n_good = C.expected_good(inputs.seed, n_events)
    res.check(got[0][0] == n_good, f"warehouse holds {got[0][0]} rows, expected {n_good}")
    res.check(want[0][0] == n_good, f"batch path holds {want[0][0]} rows, expected {n_good}")
    res.check(got[0] == want[0], "warehouse content differs from the batch path")
    for v, g, w in zip(views, got[1:], want[1:]):
        res.check(g == w, f"serving view {v} differs from the batch path")


# ---------------------------------------------------------------------------
# Workload: cdc_ingest
# ---------------------------------------------------------------------------


def ingest_files(seconds: int) -> int:
    return max(4, round(seconds * INGEST_FILES_PER_S))


def cdc_ingest(ctx: Ctx) -> Result:
    res = Result()
    measured = ingest_files(ctx.seconds)
    n_files = INGEST_WARM_FILES + measured
    inputs, setup_s = setup(
        ctx,
        lambda spark: C.make_cdc_inputs(spark, ctx.seed, n_files),
        n_files * C.EVENTS_PER_FILE,
    )
    source = os.path.join(C.WORK, "cdc", "wire")
    C.publish(inputs, inputs.files, source)
    with ctx.tracer.span("streaming.pipeline", "ingest"):
        progress, cfg = run_pipeline(ctx, inputs, source, "ingest", "streaming.pipeline")
    replay_s = ctx.tracer.last()
    ctx.loop_groups = [ctx.last_run_id]
    res.attempted = n_files
    res.failed = n_files - len(progress)
    res.check(len(progress) == n_files, f"{len(progress)} micro-batches for {n_files} files")
    timed = progress[INGEST_WARM_FILES:]
    secs = batch_seconds(timed)
    # the median micro-batch, so one batch stalled by GC or the disk does
    # not move the figure
    throughput = C.EVENTS_PER_FILE / statistics.median(secs)
    rss, held = memory(ctx)
    check_pipeline_outputs(ctx, res, inputs, n_files * C.EVENTS_PER_FILE, cfg)

    res.metrics = {
        "setup_s": (setup_s, "s"),
        "retained_mb": (held, "MB"),
        "throughput_per_s": (throughput, "1/s"),
    }
    res.report = {
        "peak_rss_mb": (rss, "MB"),
        "ingest_events_per_s": (throughput, "1/s"),
        "ingest_events_per_s_total": (C.EVENTS_PER_FILE * len(secs) / sum(secs), "1/s"),
        "batch_s": (secs, "s"),
        "failed_frac": (res.failed / res.attempted, "1"),
    }
    if ctx.trace:
        from . import probe

        pipeline_layer_metrics(ctx, timed)
        warehouse_layout(ctx, cfg.warehouse_path)
        ctx.layer["trace.throughput_per_s"] = throughput
        # the wall time of the jobs spark.* sums: the whole replay, warm-up
        # batches included
        ctx.layer["trace.loop_s"] = replay_s
        probe.layers(ctx, inputs, source, cfg.warehouse_path, have=set())
    return res


# ---------------------------------------------------------------------------
# Workload: serving_reads
# ---------------------------------------------------------------------------


@dataclass
class ReadTargets:
    """Expected answers for every read the client can send, from the batch
    path over the same generated events."""

    leaderboard: list
    content_stats: dict
    user_engagement: dict
    window: list
    window_from: object
    warehouse: dict
    content_ids: list
    users: list
    combos: list


def read_targets(ctx: Ctx, inputs: C.CdcInputs, n_events: int) -> ReadTargets:
    from pyspark.sql import functions as F

    from cdc_poc_spark.operators import aggregates
    from cdc_poc_spark.streaming import sinks

    exp = expected_enriched(ctx, inputs, n_events).cache()
    lb = sorted(tuple(r) for r in aggregates.leaderboard(exp).collect())
    cs = {r["content_id"]: tuple(r) for r in aggregates.content_stats(exp).collect()}
    ue: dict = {}
    for r in aggregates.user_engagement(exp).collect():
        ue.setdefault(r["user_id"], []).append(tuple(r))
    win = aggregates.engagement_window(exp)
    last = win.agg(F.max("window_start")).collect()[0][0]
    # the WINDOW_MINUTES most recent one-minute buckets
    window_from = last - datetime.timedelta(minutes=WINDOW_MINUTES - 1)
    w = sorted(tuple(r) for r in win.filter(F.col("window_start") >= F.lit(window_from)).collect())
    wh: dict = {}
    for r in warehouse_agg(sinks.with_hour_partition(exp), None, None).collect():
        wh.setdefault((r["content_type"], r["event_hour"]), []).append(
            (r["event_type"], r["n"], r["sum_pct"])
        )
    exp.unpersist()
    rng = random.Random(ctx.seed)
    users = sorted(ue)
    return ReadTargets(
        leaderboard=lb,
        content_stats=cs,
        user_engagement={u: sorted(v) for u, v in ue.items()},
        window=w,
        window_from=window_from,
        warehouse={k: sorted(v) for k, v in wh.items()},
        content_ids=sorted(cs),
        users=rng.sample(users, min(len(users), 500)),
        combos=sorted(wh),
    )


def warehouse_agg(fact, content_type, hour):
    """The warehouse read: engagement by event type for one content type
    and hour (partition-pruned on ``event_hour``)."""
    from pyspark.sql import functions as F

    if content_type is not None:
        fact = fact.filter((F.col("content_type") == content_type) & (F.col("event_hour") == hour))
        keys = ["event_type"]
    else:
        keys = ["content_type", "event_hour", "event_type"]
    return fact.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("engagement_pct").cast("decimal(18,2)")).cast("double").alias("sum_pct"),
    )


def read_once(ctx: Ctx, kind: str, rng: random.Random, t: ReadTargets, warehouse: str):
    """Send one read; returns (rows returned, whether the answer matched
    the batch path)."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    if kind == "leaderboard":
        got = sorted(tuple(r) for r in spark.table("serving_leaderboard").collect())
        return len(got), got == t.leaderboard
    if kind == "content_stats":
        cid = rng.choice(t.content_ids)
        view = spark.table("serving_content_stats").filter(F.col("content_id") == cid)
        got = [tuple(r) for r in view.collect()]
        return len(got), got == [t.content_stats[cid]]
    if kind == "user_engagement":
        user = rng.choice(t.users)
        view = spark.table("serving_user_engagement").filter(F.col("user_id") == user)
        got = sorted(tuple(r) for r in view.collect())
        return len(got), got == t.user_engagement[user]
    if kind == "engagement_window":
        got = sorted(
            tuple(r)
            for r in spark.table("serving_engagement_window")
            .filter(F.col("window_start") >= F.lit(t.window_from))
            .collect()
        )
        return len(got), got == t.window
    ctype, hour = rng.choice(t.combos)
    got = sorted(
        (r["event_type"], r["n"], r["sum_pct"])
        for r in warehouse_agg(spark.read.parquet(warehouse), ctype, hour).collect()
    )
    return len(got), got == t.warehouse[(ctype, hour)]


def read_loop(
    ctx: Ctx,
    t: ReadTargets,
    warehouse: str,
    done,
    res: Result | None,
    check: bool = True,
    group: str | None = None,
):
    """One closed-loop client: the next read goes out when the previous one
    returns. Every round sends each of READ_KINDS once, in an order and
    with targets drawn from the seed, so every run has the same mix. After
    each round, ``done(elapsed_s, latencies)`` says whether to stop. With
    ``res`` every read is counted, and a wrong answer is a failure unless
    ``check`` is off (answers that move under ingest); without ``res`` a
    failed read raises. Returns {kind: [latencies]} and the loop's wall
    time; records the rows returned per read."""
    rng = random.Random(ctx.seed * 7919 + 1)
    lat: dict = {k: [] for k in READ_KINDS}
    rows = 0
    t0 = time.perf_counter()
    order: list = []
    while True:
        if not order:
            if lat[READ_KINDS[0]] and done(time.perf_counter() - t0, lat):
                break
            order = rng.sample(READ_KINDS, len(READ_KINDS))
        kind = order.pop()
        with ctx.tracer.span("operators.aggregates", kind, group=group):
            why = "returned a wrong answer"
            try:
                n, ok = read_once(ctx, kind, rng, t, warehouse)
                ok = ok or not check
                rows += n
            except Exception as e:  # noqa: BLE001 — a failed read is counted
                if res is None:
                    raise
                ok, why = False, f"raised {type(e).__name__}: {e}"
        lat[kind].append(ctx.tracer.last())
        if res is not None:
            res.attempted += 1
            if not ok:
                res.failed += 1
                res.check(False, f"{kind} read {why}")
    ctx.layer["operators.aggregates.rows_out"] = rows / max(1, sum(len(v) for v in lat.values()))
    return lat, time.perf_counter() - t0


def mix_rate(lat: dict) -> float:
    """Reads per second of one round of the mix at each kind's median
    latency."""
    return len(READ_KINDS) / sum(statistics.median(v) for v in lat.values())


def aggregate_layer_metrics(ctx: Ctx, lat: dict, warehouse: str, reads_wall: float) -> None:
    from cdc_poc_spark.streaming import sinks

    for kind in READ_KINDS[:4]:
        if lat[kind]:
            ctx.layer[f"operators.aggregates.{kind}_s_p50"] = statistics.median(lat[kind])
    parts = sinks.partition_file_stats(ctx.spark, warehouse)
    n_reads = sum(len(v) for v in lat.values())
    all_files = sum(n for n, _ in parts.values())
    per_hour = statistics.median([n for n, _ in parts.values()]) if parts else 0
    # view reads scan the whole fact table; warehouse SQL prunes to one hour
    ctx.layer["operators.aggregates.files_scanned_per_read"] = (
        sum(len(lat[k]) for k in READ_KINDS[:4]) * all_files
        + len(lat["warehouse_sql"]) * per_hour
    ) / max(1, n_reads)
    ctx.layer["operators.aggregates.reads"] = n_reads
    ctx.layer["operators.aggregates.reads_wall_s"] = reads_wall


def serving_reads(ctx: Ctx) -> Result:
    res = Result()
    n_events = READS_WAREHOUSE_FILES * C.EVENTS_PER_FILE
    inputs, setup_s = setup(
        ctx,
        lambda spark: C.make_cdc_inputs(spark, ctx.seed, READS_WAREHOUSE_FILES),
        n_events,
    )
    # the warehouse is built by the pipeline itself, so the read path sees
    # the file layout streaming appends produce
    source = os.path.join(C.WORK, "cdc", "wire")
    C.publish(inputs, inputs.files, source)
    t_build = time.perf_counter()
    with ctx.tracer.span("streaming.pipeline", "build"):
        progress, cfg = run_pipeline(ctx, inputs, source, "reads", "streaming.pipeline")
    build_s = time.perf_counter() - t_build
    setup_s += build_s
    res.check(len(progress) == READS_WAREHOUSE_FILES, "warehouse build missed files")
    n_rows = ctx.spark.read.parquet(cfg.warehouse_path).count()
    n_good = C.expected_good(ctx.seed, n_events)
    res.check(n_rows == n_good, f"warehouse holds {n_rows} rows, expected {n_good}")
    # every read below is checked against these batch-path answers
    targets = read_targets(ctx, inputs, n_events)
    read_loop(
        ctx, targets, cfg.warehouse_path, lambda el, _: el >= READS_WARM_S, None, group="warmup"
    )
    ctx.loop_groups = ["operators.aggregates"]
    lat, wall = read_loop(ctx, targets, cfg.warehouse_path, lambda el, _: el >= ctx.seconds, res)
    all_lat = [x for v in lat.values() for x in v]
    rss, held = memory(ctx)
    reads_per_s = mix_rate(lat)
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "retained_mb": (held, "MB"),
        "throughput_per_s": (reads_per_s, "1/s"),
    }
    res.report = {
        "peak_rss_mb": (rss, "MB"),
        "reads_per_s": (reads_per_s, "1/s"),
        "reads_per_s_total": (len(all_lat) / wall, "1/s"),
        "read_s": (all_lat, "s"),
        **{f"read_s_{k}": (v, "s") for k, v in lat.items()},
        "failed_frac": (res.failed / max(1, res.attempted), "1"),
        "warehouse_build_s": (build_s, "s"),
    }
    if ctx.trace:
        from . import probe

        pipeline_layer_metrics(ctx, progress[1:])
        warehouse_layout(ctx, cfg.warehouse_path)
        aggregate_layer_metrics(ctx, lat, cfg.warehouse_path, wall)
        ctx.layer["trace.throughput_per_s"] = reads_per_s
        ctx.layer["trace.loop_s"] = wall
        probe.layers(ctx, inputs, source, cfg.warehouse_path, have={"reads"})
    return res


# ---------------------------------------------------------------------------
# Workload: operator_suite
# ---------------------------------------------------------------------------


def make_twins(spark, seed: int, tables=tuple(SUITE_TABLES)) -> str:
    """Testdata-schema twins of ``tables``, one parquet directory per table
    under the names ``load_table`` expects."""
    from cdc_poc_spark.sources import generator as G

    root = C.fresh_dir("suite")
    n = SUITE_TABLES
    makers = {
        "events": lambda: G.gen_testdata_events(spark, n["events"], seed=f"tdev:{seed}"),
        "documents": lambda: G.gen_documents(spark, n["documents"], seed=f"docs:{seed}"),
        "embeddings": lambda: G.gen_embeddings(spark, n["embeddings"], seed=f"vecs:{seed}"),
        "customer": lambda: G.gen_customer(spark, n["customer"], seed=f"tdcust:{seed}"),
    }
    for name in tables:
        makers[name]().write.parquet(os.path.join(root, f"{name}.parquet"))
    return root


def suite_pass(ctx: Ctx, sf_dir: str, expect_rows: dict | None, res: Result | None, names=SUITE):
    """One pass over ``names``; each query's result is collected. Returns
    {query: seconds}."""
    from cdc_poc_spark.plans.registry import queries
    from cdc_poc_spark.session import free_caches

    reg = queries(fresh=False)
    times = {}
    for name in names:
        with ctx.tracer.span("session", "free_caches"):
            free_caches(ctx.spark)
        with ctx.tracer.span("plans.registry", name):
            try:
                rows = len(reg[name](ctx.spark, sf_dir).collect())
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                if res is None:
                    raise
                rows = None
                res.problems.append(f"{name} raised {type(e).__name__}: {e}")
        times[name] = ctx.tracer.last()
        if res is not None:
            res.attempted += 1
            ok = rows is not None and (expect_rows is None or rows == expect_rows[name])
            if not ok:
                res.failed += 1
                want = expect_rows and expect_rows.get(name)
                res.check(False, f"{name} returned {rows} rows, expected {want}")
    return times


def oracle_pass(ctx: Ctx, sf_dir: str, res: Result) -> dict:
    """Every SUITE query against its DuckDB oracle on the same files (row
    count plus order-insensitive values). Doubles as the JIT warm-up."""
    import duckdb

    from cdc_poc_spark.plans import diffcheck

    # only the twins exist here, so the views are created per table
    con = duckdb.connect()
    for t in SUITE_TABLES:
        files = os.path.join(sf_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    rows = {}
    for name in SUITE:
        r = diffcheck.compare_one(ctx.spark, con, name, sf_dir)
        res.check(r.ok, f"{name} differs from its oracle: {r.detail}")
        rows[name] = r.spark_rows
    con.close()
    return rows


def operator_suite(ctx: Ctx) -> Result:
    res = Result()
    sf_dir, setup_s = setup(
        ctx, lambda spark: make_twins(spark, ctx.seed), sum(SUITE_TABLES.values())
    )
    with ctx.tracer.span("plans.registry", "oracle", group="plans.registry.oracle"):
        expect_rows = oracle_pass(ctx, sf_dir, res)
    ctx.loop_groups = ["plans.registry"]
    per_query: dict = {q: [] for q in SUITE}
    t0 = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t0 < ctx.seconds:
        for q, s in suite_pass(ctx, sf_dir, expect_rows, res).items():
            per_query[q].append(s)
        passes += 1
    wall = time.perf_counter() - t0
    # free_caches between queries is hygiene, not query work
    busy = sum(sum(v) for v in per_query.values())
    rss, held = memory(ctx)
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "retained_mb": (held, "MB"),
        "throughput_per_s": (passes * len(SUITE) / busy, "1/s"),
    }
    res.report = {
        "peak_rss_mb": (rss, "MB"),
        "suite_s": (busy / passes, "s"),
        "query_s": ([x for v in per_query.values() for x in v], "s"),
        "passes": (passes, "count"),
        "failed_frac": (res.failed / max(1, res.attempted), "1"),
    }
    if ctx.trace:
        from . import probe

        for q, v in per_query.items():
            ctx.layer[f"plans.registry.{q}_s"] = statistics.median(v)
        ctx.layer["plans.registry.suite_s"] = busy / passes
        ctx.layer["trace.throughput_per_s"] = passes * len(SUITE) / busy
        ctx.layer["trace.loop_s"] = wall
        probe.layers(ctx, None, None, None, have={"suite"})
    return res


# ---------------------------------------------------------------------------
# Workload: ingest_with_reads
# ---------------------------------------------------------------------------

PUBLISH_EVENTS_PER_S = 3_333  # the reference's ingest target (README.md:105)
DRAIN_TIMEOUT_S = 90  # longer than one 30 s production trigger plus a batch


def publisher(
    inputs: C.CdcInputs, names: list, target: str, t0: float, interval: float, actual: list
):
    """Open loop: file ``k`` is due at ``t0 + k * interval`` whatever the
    pipeline is doing; ``actual`` records when each one went out."""
    for k, name in enumerate(names):
        wait = t0 + k * interval - time.time()
        if wait > 0:
            time.sleep(wait)
        C.publish(inputs, [name], target)
        actual.append(time.time())


def ingest_with_reads(ctx: Ctx) -> Result:
    """Publisher at PUBLISH_EVENTS_PER_S renaming wire files into the source
    directory, the pipeline in production trigger mode, and the serving
    read client, all at once for ``seconds``; then the pipeline drains.
    Freshness per file runs from when it was due to the commit of the
    micro-batch holding it."""
    import threading

    res = Result()
    interval = C.EVENTS_PER_FILE / PUBLISH_EVENTS_PER_S
    n_files = 1 + max(2, math.ceil(ctx.seconds / interval))
    n_events = n_files * C.EVENTS_PER_FILE
    inputs, setup_s = setup(
        ctx, lambda spark: C.make_cdc_inputs(spark, ctx.seed, n_files), n_events
    )
    targets = read_targets(ctx, inputs, n_events)
    source = os.path.join(C.WORK, "cdc", "wire")
    # the first file is committed before the clock starts, so the serving
    # views exist when the first read goes out
    C.publish(inputs, inputs.files[:1], source)
    t_query = time.perf_counter()
    q, cfg = start_pipeline(ctx, inputs, source, "mixed", "streaming.pipeline", backlog=False)
    while not data_progress(q):
        if q.exception() is not None:
            raise RuntimeError(f"pipeline failed: {q.exception()}")
        time.sleep(0.2)
    ctx.loop_groups = [ctx.last_run_id, "operators.aggregates"]
    names = inputs.files[1:]
    actual: list = []
    t0 = time.time() + 0.5
    pub = threading.Thread(target=publisher, args=(inputs, names, source, t0, interval, actual))
    pub.start()
    # answers move while ingest runs, so only reads that raise count as failed
    lat, wall = read_loop(
        ctx, targets, cfg.warehouse_path, lambda *_: not pub.is_alive(), res, check=False
    )
    pub.join()
    due = dict(zip(names, stats.schedule(t0, len(names), interval)))
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline:
        file_batch = stats.read_source_log(cfg.checkpoint_dir)
        commits = stats.batch_commits(q.recentProgress)
        fresh, missing = stats.freshness(due, file_batch, commits)
        if not missing:
            break
        time.sleep(0.5)
    q.stop()
    query_s = time.perf_counter() - t_query
    res.attempted += len(names)
    res.failed += len(missing)
    res.check(not missing, f"{len(missing)} published files never committed")
    rss, held = memory(ctx)
    check_pipeline_outputs(ctx, res, inputs, n_events, cfg)
    late = stats.lateness(list(due.values()), actual)
    all_lat = [x for v in lat.values() for x in v]
    reads_per_s = mix_rate(lat)
    batches = data_progress(q)
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "retained_mb": (held, "MB"),
        "throughput_per_s": (reads_per_s, "1/s"),
    }
    res.report = {
        "peak_rss_mb": (rss, "MB"),
        "freshness_s": (fresh, "s"),
        "publisher_lateness_s": (late, "s"),
        "publisher_lateness_max_s": (max(late), "s"),
        "batch_s": (batch_seconds(batches), "s"),
        "reads_per_s": (reads_per_s, "1/s"),
        "read_s": (all_lat, "s"),
        "failed_frac": (res.failed / max(1, res.attempted), "1"),
    }
    if ctx.trace:
        from . import probe

        pipeline_layer_metrics(ctx, batches)
        warehouse_layout(ctx, cfg.warehouse_path)
        aggregate_layer_metrics(ctx, lat, cfg.warehouse_path, wall)
        ctx.layer["trace.throughput_per_s"] = reads_per_s
        # the reads run inside the query's life, so its wall time covers
        # every job spark.* sums
        ctx.layer["trace.loop_s"] = query_s
        probe.layers(ctx, inputs, source, cfg.warehouse_path, have={"reads"})
    return res


WORKLOADS = {
    "cdc_ingest": cdc_ingest,
    "serving_reads": serving_reads,
    "operator_suite": operator_suite,
    "ingest_with_reads": ingest_with_reads,
}
