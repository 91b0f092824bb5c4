"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

Runs one workload from a single process on ``local[<cores>]``, checks its
outputs, prints every metric by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
separate traced run. Exits non-zero when a correctness check fails or the
engine package is missing. Inputs come only from ``--seed``; everything
the run writes stays under ``.perfbench_work/`` in the checkout.
``--workload all`` runs every workload of BENCHMARK.json, each in its own
process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common as C  # noqa: E402
from perfbench import stats  # noqa: E402


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _human(name: str, value, unit: str) -> str:
    if isinstance(value, list):
        s = stats.summarize(name, value)
        parts = [f"n={s.pop(name + '_n')}"] + [f"{k}={v:.4f}" for k, v in s.items()]
        if not s:  # too few samples for any percentile: show them all
            parts.append("values=" + ",".join(f"{v:.3f}" for v in value))
        return f"  {name:<32} {' '.join(parts)} {unit}"
    return f"  {name:<32} {value:.6g} {unit}"


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cdc_poc_spark")):
        print("perfbench: the cdc_poc_spark package is not in this checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    shutil.rmtree(C.WORK, ignore_errors=True)
    C.prepare_env(bool(args.trace))
    ctx = W.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace))
    try:
        res = W.WORKLOADS[args.workload](ctx)
    finally:
        C.shutdown_jvm()

    _span_summary(ctx.tracer)
    print(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for name, (value, unit) in res.report.items():
        print(_human(name, value, unit))
    if args.trace:
        metrics = {k: {"value": float(v), "unit": _unit(k)} for k, v in sorted(ctx.layer.items())}
        with open(os.path.join(C.WORK, f"trace_{args.workload}.json"), "w", encoding="utf-8") as fh:
            json.dump({"spans": ctx.tracer.spans, "layers": ctx.layer}, fh, indent=1)
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in res.metrics.items()}
    for name, m in metrics.items():
        print(_human(name, m["value"], m["unit"]))
    for p in res.problems:
        print(f"  PROBLEM: {p}")
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if res.correct else 1


def _run_all(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    rc = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed"]
        cmd += [str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def _span_summary(tracer) -> None:
    """Time spent per (layer, call), to standard error."""
    acc: dict = {}
    for layer, name, t0, t1 in tracer.spans if tracer else []:
        n, tot = acc.get((layer, name), (0, 0.0))
        acc[(layer, name)] = (n + 1, tot + t1 - t0)
    for (layer, name), (n, tot) in acc.items():
        print(f"perfbench: span {layer}/{name}: {n} x, {tot:.3f} s", file=sys.stderr)


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_frac", "cpu_util")):
        return "1"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
