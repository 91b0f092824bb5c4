"""Spark-free measurement arithmetic: percentiles with a sample-count rule,
open-loop publisher lateness, and the freshness join of wire files to the
micro-batches that committed them.

Everything here takes plain Python values so it can be unit-tested without
a JVM (see perfbench/tests).
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timezone

# A percentile is reported only when at least this many samples lie beyond
# it; otherwise the estimate is mostly the one or two slowest samples.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q`` % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-th percentile of ``n``."""
    return n - max(1, math.ceil(q / 100.0 * n))


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    return n > 0 and beyond(n, q) >= min_beyond


def summarize(name: str, values: list[float], qs=(50, 90)) -> dict[str, float]:
    """``{name}_p{q}`` for every supported ``q``, plus ``{name}_n``. An
    unsupported percentile is left out rather than reported from too few
    samples."""
    out: dict[str, float] = {f"{name}_n": len(values)}
    for q in qs:
        if supported(len(values), q):
            out[f"{name}_p{int(q)}"] = percentile(values, q)
    return out


# ---------------------------------------------------------------------------
# Open-loop publishing and freshness
# ---------------------------------------------------------------------------


def schedule(start: float, n: int, interval_s: float) -> list[float]:
    """Due times of ``n`` publications spaced ``interval_s`` apart."""
    return [start + k * interval_s for k in range(n)]


def lateness(due: list[float], actual: list[float]) -> list[float]:
    """How late each publication went out against its due time (never
    negative: a publisher that is early waits)."""
    if len(due) != len(actual):
        raise ValueError("due and actual differ in length")
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def parse_source_log(text: str) -> dict[str, int]:
    """File name -> batch id from one file of a file-source checkpoint log
    (``<checkpoint>/sources/0/<batchId>``): a ``v1`` header, then one JSON
    entry per file with ``path`` and ``batchId``."""
    out: dict[str, int] = {}
    for line in text.splitlines()[1:]:
        line = line.strip()
        if not line:
            continue
        entry = json.loads(line)
        out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def read_source_log(checkpoint_dir: str) -> dict[str, int]:
    """File name -> batch id over every batch in a checkpoint's source log."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.isdigit():
            with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
                out.update(parse_source_log(fh.read()))
    return out


def progress_time(ts: str) -> float:
    """Epoch seconds of a streaming progress ``timestamp`` (ISO-8601 UTC)."""
    ts = ts.rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()


def batch_commits(progress: list[dict]) -> dict[int, float]:
    """Batch id -> epoch seconds the micro-batch finished (trigger start
    plus its ``triggerExecution`` duration), from progress events."""
    out: dict[int, float] = {}
    for p in progress:
        dur = p.get("durationMs", {}).get("triggerExecution")
        if p.get("numInputRows", 0) and dur is not None:
            out[int(p["batchId"])] = progress_time(p["timestamp"]) + dur / 1000.0
    return out


def freshness(
    due: dict[str, float], file_batch: dict[str, int], commits: dict[int, float]
) -> tuple[list[float], list[str]]:
    """Per published file: seconds from when it was due to when the batch
    holding it committed. Returns (freshness values, files not yet
    committed); a missing file is a failure, not a silent drop."""
    values: list[float] = []
    missing: list[str] = []
    for name, t_due in sorted(due.items(), key=lambda kv: kv[1]):
        batch = file_batch.get(name)
        if batch is None or batch not in commits:
            missing.append(name)
            continue
        values.append(commits[batch] - t_due)
    return values, missing
