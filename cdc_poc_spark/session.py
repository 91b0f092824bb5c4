"""SparkSession factory tuned for the engine.

Test/bench topology is local[N] single-JVM, but every config here is chosen
for cluster-scale behavior first:

- AQE on (runtime coalesce + skew-join splitting): the reference workload has
  *extreme* join-key skew — the generator draws content_id uniformly from only
  15 keys (reference generator.py:118; SURVEY.md §7.5) — so at 100 TB a
  shuffle join on content_id needs AQE skew handling or a broadcast.
- Broadcast threshold raised: every dimension in this engine (content analog,
  part/supplier/nation/region) is tiny relative to the fact side; broadcasting
  eliminates the only shuffle the reference job had (its keyBy, SURVEY §3.2).
- UTC session timezone pins timestamp semantics to the DuckDB oracle.
- Arrow enabled for the (rare) pandas-UDF paths — Arrow batches, never
  row-at-a-time Python.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def cpu_count() -> int:
    """``local[N]`` width: ``SPARK_GRAFT_CPUS`` if set, else the cores this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "cdc-poc-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime row-level filtering: inject a bloom filter built from the
        # selective (dimension) side of a shuffle join into the fact-side
        # scan, so filtered keys die at the parquet reader instead of
        # traveling through the shuffle — at 100 TB this is the difference
        # between shuffling the whole fact table and shuffling the matching
        # slice. (Semi-join reduction; complements DPP, which only prunes
        # whole partitions.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Codegen class cache sized for LONG sessions (the bench runs 140+
        # distinct query plans through one JVM; the 100-entry default
        # evicts and re-compiles the big generated classes mid-session —
        # the round-over-round "session drift" PARITY documents). Sized
        # WITH the JIT code cache it feeds: retained generated classes
        # pin their compiled code, and an early round-5 attempt at 4000
        # entries over the stock 240 MB ReservedCodeCacheSize drove the
        # longest probe sessions into compilation-disabled interpreter
        # fallback (late-session ops 1.5-6x slower). 1500 entries covers
        # the 143-plan bench with headroom; the enlarged code cache
        # keeps them all compiled.
        # (env-overridable for interleaved conf A/Bs — bench_batched.py
        # --ab-env; the default stays the measured 1500.)
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "1500"),
        )
        # NOTE: driver JVM options only take effect when THIS builder
        # launches the JVM. getOrCreate() against an already-running
        # session silently ignores them — leaving the 1500-entry codegen
        # cache paired with the stock 240 MB code cache, the exact
        # interpreter-fallback regression described above. Long benches /
        # probes must therefore run in a fresh process (bench.py and the
        # scaling probes do); _merged_driver_java_options() below keeps
        # any caller/env-supplied options instead of clobbering them.
        .config(
            "spark.driver.extraJavaOptions",
            _merged_driver_java_options(extra_conf),
        )
    )
    for k, v in (extra_conf or {}).items():
        if k != "spark.driver.extraJavaOptions":  # merged above
            builder = builder.config(k, v)
    return builder.getOrCreate()


def _merged_driver_java_options(extra_conf: dict[str, str] | None) -> str:
    """Compose the code-cache sizing with any externally supplied driver
    JVM options (caller's ``extra_conf`` wins over the environment's
    ``SPARK_DRIVER_JAVA_OPTIONS``) rather than overwriting them; a caller
    that passes its own -XX:ReservedCodeCacheSize overrides ours (later
    JVM flags win for -XX options)."""
    external = (extra_conf or {}).get(
        "spark.driver.extraJavaOptions",
        os.environ.get("SPARK_DRIVER_JAVA_OPTIONS", ""),
    ).strip()
    ours = "-XX:ReservedCodeCacheSize=768m"
    return f"{ours} {external}".strip()


def free_caches(spark: SparkSession) -> None:
    """Drop every cached plan and persisted RDD block in the session.

    The dedup/clustering operators persist intermediate indexes (shingle
    index, MinHash signatures, CC localCheckpoint pins) that are live only
    for the duration of one query's action — but a DataFrame-returning
    operator has no post-action hook to free them, so in a long session
    that runs many registry queries back-to-back (the verification
    harness's ~50, bench.py's ~85) the dead blocks accumulate and tax
    every later query (~1.5-2x uniform slowdown measured over an 85-query
    session). Called at the start of every registry query build: at that
    point the previous query's action has completed, so its caches are
    garbage by construction. Not for general library use — unpersisting a
    localCheckpointed RDD discards its only copy, so any still-held
    DataFrame built on one would fail to recompute.
    """
    import gc

    # Python GC first: broadcast variables and shuffle dependencies are
    # reclaimed by the JVM ContextCleaner only after their py4j proxies are
    # finalized, which needs a Python collection pass — without it an
    # 85-query session accumulates every query's broadcast blocks
    gc.collect()
    try:
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001 — hygiene must never fail a query
        pass
    try:
        jsc = spark.sparkContext._jsc
        # force-drop via SparkContext.unpersistRDD: RDD.unpersist refuses
        # locally-checkpointed RDDs (their blocks are the only copy), but
        # here that copy is exactly the garbage being freed
        for rid in jsc.getPersistentRDDs().keySet().toArray():
            jsc.sc().unpersistRDD(rid, False)
    except Exception:  # noqa: BLE001
        pass
