"""Shared plumbing: the Spark session, the work directory, seeded inputs,
spans, memory, and result fingerprints.

The benchmark drives the engine only through its public functions
(``cdc_poc_spark.session``, ``sources.generator``, ``streaming.pipeline``,
``streaming.sinks``, ``operators.*``, ``plans.registry``); nothing here
changes the engine.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
WORK = os.path.join(ROOT, ".perfbench_work")

# One wire file per reference BigQuery flush (BigQuerySink.java:48).
EVENTS_PER_FILE = 10_000
DELETE_MOD = 20  # every 20th id is a Debezium delete (after = null)
CORRUPT_MOD = 97  # ~1 % of records are truncated, i.e. malformed JSON
N_CONTENT = 15  # the reference dimension: 15 ids, hence hot-key skew


def prepare_env(trace: bool) -> None:
    """Process environment for Spark: every file the run writes stays in the
    work directory, Python workers can import the package, and the session
    runs on every core this process may use. The driver heap is capped at
    1 GiB rather than the package's 8 GiB default: these inputs need a few
    hundred MB, and the cap keeps a run's memory small on a shared host."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)


def session_conf(trace: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(trace: bool):
    from cdc_poc_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=session_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """Wall-clock spans around calls into a layer. With ``jobs=True`` each
    span also tags the Spark jobs it starts with ``setJobGroup(layer)``, so
    the event log attributes task metrics to the layer."""

    spark: object = None
    jobs: bool = False
    spans: list = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str = "", group: str | None = None):
        """Time the block as ``layer``/``name``; its Spark jobs carry job
        group ``group`` (default: the layer)."""
        sc = self.spark.sparkContext if (self.jobs and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group or layer, name or layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append((layer, name, t0, t1))

    def last(self) -> float:
        """Duration of the span that ended last."""
        _, _, t0, t1 = self.spans[-1]
        return t1 - t0

    def durations(self, layer: str, name: str | None = None) -> list[float]:
        return [
            t1 - t0
            for (lay, nm, t0, t1) in self.spans
            if lay == layer and (name is None or nm == name)
        ]


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def is_corrupt(event_id: int, seed: int) -> bool:
    return (event_id + seed) % CORRUPT_MOD == 0


def is_good(event_id: int, seed: int) -> bool:
    return event_id % DELETE_MOD != 0 and not is_corrupt(event_id, seed)


def good_filter(seed: int, n_events: int):
    """Spark twin of :func:`is_good` over the generated ``id`` column."""
    from pyspark.sql import functions as F

    i = F.col("id")
    return (
        (i < n_events)
        & (i % DELETE_MOD != 0)
        & ((i + F.lit(seed)) % CORRUPT_MOD != 0)
    )


@dataclass
class CdcInputs:
    seed: int
    dim_path: str
    staged_dir: str
    files: list  # staged wire file names in id order

    def dim(self, spark):
        return spark.read.parquet(self.dim_path)

    def good_events(self, spark, n_events: int):
        """The generated events behind the first ``n_events`` wire records
        that are neither deletes nor malformed."""
        from cdc_poc_spark.sources import generator as G

        events = G.gen_events(spark, self.dim(spark), n_events, seed=f"events:{self.seed}")
        return events.filter(good_filter(self.seed, n_events))


def make_cdc_inputs(spark, seed: int, n_files: int, name: str = "cdc") -> CdcInputs:
    """Debezium wire files of EVENTS_PER_FILE records each, from the seeded
    generator: deletes every DELETE_MOD-th id, ~1 % truncated records, event
    time trailing over ten minutes, 15 content ids. File ``k`` holds ids
    ``[k * EVENTS_PER_FILE, (k + 1) * EVENTS_PER_FILE)``."""
    from cdc_poc_spark.sources import generator as G

    root = fresh_dir(name)
    dim_path = os.path.join(root, "content")
    G.gen_content(spark, N_CONTENT, seed=f"content:{seed}").write.parquet(dim_path)
    n = n_files * EVENTS_PER_FILE
    events = G.gen_events(spark, spark.read.parquet(dim_path), n, seed=f"events:{seed}")
    raw = os.path.join(root, "raw")
    # spark.range partitions are contiguous id ranges and nothing shuffles,
    # so the part files, in name order, hold the records in id order
    G.wire_encode(events, delete_mod=DELETE_MOD).write.text(raw)
    staged = os.path.join(root, "staged")
    os.makedirs(staged)
    files = []
    event_id = 0
    for part in sorted(glob.glob(os.path.join(raw, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                if event_id % EVENTS_PER_FILE == 0:
                    files.append(f"wire-{event_id // EVENTS_PER_FILE:05d}.json")
                    out = open(os.path.join(staged, files[-1]), "w", encoding="utf-8")
                if is_corrupt(event_id, seed):
                    line = line[: len(line) // 2] + "\n"
                out.write(line)
                event_id += 1
                if event_id % EVENTS_PER_FILE == 0:
                    out.close()
    shutil.rmtree(raw)
    if event_id != n:
        raise RuntimeError(f"generated {event_id} wire records, expected {n}")
    return CdcInputs(seed, dim_path, staged, files)


def publish(inputs: CdcInputs, names: list[str], target_dir: str) -> None:
    """Move staged wire files into a stream's source directory (rename is
    atomic, so the source never sees a partial file)."""
    os.makedirs(target_dir, exist_ok=True)
    for name in names:
        os.rename(os.path.join(inputs.staged_dir, name), os.path.join(target_dir, name))


def wire_stream(spark, source_dir: str, one_file_per_batch: bool = True):
    """File source over the wire directory: one file per micro-batch for a
    replayed backlog, or everything that arrived since the last trigger."""
    reader = spark.readStream.schema("value STRING")
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.text(source_dir)


def expected_good(seed: int, n_events: int) -> int:
    return sum(1 for i in range(n_events) if is_good(i, seed))


# ---------------------------------------------------------------------------
# Results
# ---------------------------------------------------------------------------


def fingerprints(dfs: list) -> list[tuple[int, int]]:
    """Order-insensitive (row count, sum of row hashes) of each DataFrame,
    computed in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [
        df.agg(
            F.lit(k).alias("k"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
            ).alias("h"),
        )
        for k, df in enumerate(dfs)
    ]
    union = reduce(lambda a, b: a.union(b), parts)
    rows = {r["k"]: (int(r["n"]), int(r["h"] or 0)) for r in union.collect()}
    return [rows[k] for k in range(len(dfs))]


def _procs(spark) -> tuple[int | None, list[int]]:
    """The Spark JVM's pid, and the pids of this process and the JVM's
    Python workers."""
    others = [os.getpid()]
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — fall back to this process only
        return None, others
    return jvm_pid, others + sorted(_descendants(jvm_pid))


def _status_mb(pid: int, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Sum of peak resident set (VmHWM) over this process, the Spark JVM,
    and the JVM's Python workers."""
    jvm_pid, others = _procs(spark)
    pids = others + ([jvm_pid] if jvm_pid is not None else [])
    return sum(_status_mb(p, "VmHWM") for p in pids)


def retained_mb(spark) -> float:
    """Memory the run still holds: the JVM's heap in use after a full
    collection plus its non-heap memory in use (code cache, metaspace), and
    the resident set of this process and the JVM's Python workers. Unlike
    the JVM's resident set, it does not depend on how far the collector let
    the heap grow."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    jvm = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    _, others = _procs(spark)
    return jvm / 2**20 + sum(_status_mb(p, "VmRSS") for p in others)


def _descendants(pid: int) -> set[int]:
    out: set[int] = set()
    todo = [pid]
    while todo:
        p = todo.pop()
        for tid_dir in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(tid_dir, encoding="utf-8") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            for k in kids:
                if k not in out:
                    out.add(k)
                    todo.append(k)
    return out
