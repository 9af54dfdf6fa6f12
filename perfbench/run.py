"""Benchmark entry point.

    python3 perfbench/run.py --workload adhoc_dsl --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, drives them through the package for ``--seconds`` (``--trace 1``:
a fixed request prefix, with spans and the Spark event log), checks
every answer and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. End-to-end metrics
without tracing, per-layer metrics with it. A human summary goes to
stderr. Exits non-zero, printing no result, when the package or its
dependencies cannot be imported or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s", "req_per_s": "1/s", "req_p50_s": "s", "req_p90_s": "s",
    "ok_frac": "frac", "peak_rss_mb": "MB", "stored_bytes_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("req_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_frac"):
        return "frac"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("adhoc_dsl", "corpus_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, REPO)
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Keep every file Spark and Python create inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        import query_planner_optimizer_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(work_root, ignore_errors=True)
        return 2

    import workloads

    try:
        res = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), work)
        if args.trace:
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            res["ctx"].tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    ctx, lat = res["ctx"], res["lat"]
    e2e = res["end_to_end"]
    print(f"{args.workload} seed={args.seed} n={len(lat)} "
          f"beyond_p90={sum(x > e2e['req_p90_s'] for x in lat)} "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()), file=sys.stderr)
    print("  phases: " + " ".join(
        f"{name}={t - prev:.1f}s" for (_, prev), (name, t)
        in zip(ctx.phases, ctx.phases[1:])), file=sys.stderr)
    for why in list(ctx.failed.values())[:5] + ctx.setup_failures[:5]:
        print(f"  FAILED {why}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
