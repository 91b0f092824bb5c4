"""The traced run's layer probe.

After a workload's own traced loop, the probe measures every layer the
loop did not, so each traced run reports the same per-layer metrics:

- the prefix split of a micro-batch's ``addBatch``: the same wire files
  replayed through the same public calls as cumulative prefixes
  (parse -> noop, + enrich -> noop, + write_warehouse, then
  refresh_serving_views); a layer's self time is its prefix minus the one
  before it;
- the pipeline and warehouse layout, serving reads and the operator suite
  when the workload itself has none;
- the single-core ingest baseline (``SPARK_GRAFT_CPUS=1``);
- Spark task metrics per layer, from the event log.
"""

from __future__ import annotations

import os
import shutil
import statistics

from . import common as C
from . import eventlog
from . import workloads as W

PREFIX_FILES = 2  # timed files; one more runs first as warm-up
PROBE_READS_EACH = 3
BASELINE_FILES = 3  # the first is warm-up
PREFIX_GROUPS = ("prefix.parse", "prefix.enrich", "prefix.write", "prefix.refresh")
# The suite queries that keep a traced run under three minutes: generating
# the documents twin alone costs ~19 s, and the clustering, graph and
# multimodal queries ~17 s of a cold pass. operator_suite times all of SUITE.
PROBE_SUITE = ("sim_topk_cosine", "wh_approx_users", "wh_sessions", "ts_anomaly", "wh_k_anonymity")
PROBE_TABLES = ("events", "embeddings", "customer")


def layers(ctx, inputs, source_dir, warehouse, have: set) -> None:
    """Measure every layer the workload's loop did not, then read the event
    log. ``have`` holds "reads" and/or "suite" when the loop measured them;
    ``inputs`` is None when the workload ran no pipeline."""
    if inputs is None:
        inputs = C.make_cdc_inputs(ctx.spark, ctx.seed, PREFIX_FILES + 1, name="probe_cdc")
        source_dir = os.path.join(C.WORK, "probe_cdc", "wire")
        C.publish(inputs, inputs.files, source_dir)
        with ctx.tracer.span("streaming.pipeline", "probe"):
            progress, cfg = W.run_pipeline(
                ctx, inputs, source_dir, "probe_pipeline", "streaming.pipeline"
            )
        W.pipeline_layer_metrics(ctx, progress[1:])
        W.warehouse_layout(ctx, cfg.warehouse_path)
        warehouse, n_events = cfg.warehouse_path, len(progress) * C.EVENTS_PER_FILE
    else:
        n_events = len(os.listdir(source_dir)) * C.EVENTS_PER_FILE
    files = sorted(os.listdir(source_dir))[: PREFIX_FILES + 1]
    prefix_split(ctx, inputs, [os.path.join(source_dir, f) for f in files])
    if "reads" not in have:
        targets = W.read_targets(ctx, inputs, n_events)
        lat, wall = W.read_loop(
            ctx,
            targets,
            warehouse,
            lambda _, lat: all(len(v) >= PROBE_READS_EACH for v in lat.values()),
            None,
        )
        W.aggregate_layer_metrics(ctx, lat, warehouse, wall)
    if "suite" not in have:
        with ctx.tracer.span("probe", "twins", group="probe.twins"):
            sf_dir = W.make_twins(ctx.spark, ctx.seed, PROBE_TABLES)
        times = W.suite_pass(ctx, sf_dir, None, None, PROBE_SUITE)
        for q, s in times.items():
            ctx.layer[f"plans.registry.{q}_s"] = s
        ctx.layer["plans.registry.suite_s"] = sum(times.values())
    free = ctx.tracer.durations("session", "free_caches")
    ctx.layer["session.free_caches_s"] = statistics.median(free) if free else 0.0
    baseline_1cpu(ctx, inputs, [os.path.join(source_dir, f) for f in files[:BASELINE_FILES]])
    spark_metrics(ctx)


def prefix_split(ctx, inputs, paths: list[str]) -> None:
    from cdc_poc_spark.operators.enrich import enrich, enrichment_misses
    from cdc_poc_spark.schemas import ENGAGEMENT_EVENT_SCHEMA
    from cdc_poc_spark.sources import debezium
    from cdc_poc_spark.streaming import sinks

    spark = ctx.spark
    dim = inputs.dim(spark)
    out = C.fresh_dir("prefix")
    warehouse = os.path.join(out, "warehouse")

    def good(path):
        raw = spark.read.text(path)
        return debezium.good_rows(debezium.parse_envelope(raw, ENGAGEMENT_EVENT_SCHEMA))

    steps = (
        lambda p: good(p).write.format("noop").mode("overwrite").save(),
        lambda p: enrich(good(p), dim).write.format("noop").mode("overwrite").save(),
        lambda p: sinks.write_warehouse(enrich(good(p), dim), warehouse),
        lambda p: sinks.refresh_serving_views(spark, warehouse, "prefix_"),
    )
    times = {g: [] for g in PREFIX_GROUPS}
    for k, path in enumerate(paths):
        for group, step in zip(PREFIX_GROUPS, steps):
            with ctx.tracer.span("prefix", group, group=group if k else "prefix.warmup"):
                step(path)
            if k:
                times[group].append(ctx.tracer.last())
    med = {g: statistics.median(v) for g, v in times.items()}
    L = ctx.layer
    L["sources.debezium.parse_s"] = med["prefix.parse"]
    L["operators.enrich.self_s"] = med["prefix.enrich"] - med["prefix.parse"]
    L["streaming.sinks.write_s"] = med["prefix.write"] - med["prefix.enrich"]
    L["streaming.sinks.refresh_s"] = med["prefix.refresh"]

    # record counts over the timed files, outside the timed prefixes
    with ctx.tracer.span("probe", "counts", group="probe.counts"):
        raw = spark.read.text(paths[1:])
        parsed = debezium.parse_envelope(raw, ENGAGEMENT_EVENT_SCHEMA).cache()
        n_in = parsed.count()
        n_good = debezium.good_rows(parsed).count()
        n_del = debezium.dropped(parsed).count()
        n_bad = debezium.dead_letters(parsed).count()
        g = debezium.good_rows(parsed)
        rows_out = enrich(g, dim).count()
        misses = enrichment_misses(g, dim).count()
        parsed.unpersist()
    L["sources.debezium.records_in"] = n_in
    L["sources.debezium.good"] = n_good
    L["sources.debezium.deletes_dropped"] = n_del
    L["sources.debezium.corrupt"] = n_bad
    L["sources.debezium.good_frac"] = n_good / max(1, n_in)
    L["operators.enrich.rows_out"] = rows_out
    L["operators.enrich.misses"] = misses


def baseline_1cpu(ctx, inputs, paths: list[str]) -> None:
    """cdc_ingest on one core: restart the session at SPARK_GRAFT_CPUS=1 and
    replay a few wire files; events/s over the batches after the first."""
    src = C.fresh_dir("baseline_wire")
    for p in paths:
        shutil.copy(p, src)
    ctx.spark.stop()
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        ctx.spark = C.start_session(ctx.trace)
        ctx.tracer.spark = ctx.spark
        progress, _ = W.run_pipeline(ctx, inputs, src, "baseline", "baseline")
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    timed = progress[1:]
    ctx.layer["spark.ingest_1cpu_events_per_s"] = sum(p["numInputRows"] for p in timed) / sum(
        W.batch_seconds(timed)
    )
    ctx.spark.stop()
    ctx.spark = None


def spark_metrics(ctx) -> None:
    """Task metrics per layer from the event log (read after the session
    stopped, so every log is complete)."""
    groups = eventlog.aggregate_dir(os.path.join(C.WORK, "eventlog"))
    pipeline_ids = [rid for rid, lay in ctx.query_layers.items() if lay == "streaming.pipeline"]
    L = ctx.layer

    def tot(names):
        return eventlog.total(groups, set(names))

    # get_spark runs before a job group can be set, so the session layer
    # holds the jobs of free_caches
    per_layer = {
        "session": tot(["session"]),
        "sources.generator": tot(["sources.generator"]),
        "sources.debezium": tot(["prefix.parse"]),
        "operators.enrich": _minus(tot(["prefix.enrich"]), tot(["prefix.parse"])),
        "streaming.sinks": _plus(
            _minus(tot(["prefix.write"]), tot(["prefix.enrich"])), tot(["prefix.refresh"])
        ),
        "streaming.pipeline": tot(pipeline_ids),
        "operators.aggregates": tot(["operators.aggregates"]),
        "plans.registry": tot(["plans.registry"]),
    }
    for layer, m in per_layer.items():
        for k in eventlog.FIELDS:
            L[f"spark.{layer}.{k}"] = m[k]
    L["streaming.sinks.shuffle_bytes"] = per_layer["streaming.sinks"]["shuffle_write_bytes"]
    reads = L["operators.aggregates.reads"]
    L["operators.aggregates.rows_scanned_per_read"] = (
        per_layer["operators.aggregates"]["input_records"] / reads
    )
    # the workload's measured loop; trace.loop_s is the wall time of the
    # same jobs
    m = tot(ctx.loop_groups)
    for k in eventlog.FIELDS:
        L[f"spark.{k}"] = m[k]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    L["spark.cpu_util"] = m["cpu_s"] / (L["trace.loop_s"] * cores)


def _minus(a: dict, b: dict) -> dict:
    return {k: a[k] - b.get(k, 0) for k in a}


def _plus(a: dict, b: dict) -> dict:
    return {k: a[k] + b.get(k, 0) for k in a}
