"""Pipeline-and-query benchmark: one workload per run, one fresh process.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``report: {...}``) gives sample counts, the tail percentile
used, the seed and any failed check. Everything the run writes stays in
the checkout: inputs, sinks, checkpoints, Spark's local and warehouse
dirs under ``.perfbench_tmp`` (removed at exit), the oracle cache and the
traced run's spans under ``.perfbench_cache``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: seed reserved for confirming a claim; never used while tuning a change.
HELD_OUT_SEED = 9173


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(tmp: str, cpus: int) -> None:
    """Environment for this process, the driver JVM and its Python
    workers: core count, Spark scratch dirs, temp dir, and the checkout on
    PYTHONPATH (executor-side Python imports the package)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sales_data_pipeline_gcp_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    try:
        cpus = len(os.sched_getaffinity(0))
        isolate(tmp, cpus)
        run = workloads.Run(
            workload=args.workload,
            root=ROOT,
            tmp=tmp,
            cache=cache,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            cpus=cpus,
        )
        if run.trace:
            run.tracer = Tracer()
        metrics = workloads.WORKLOADS[args.workload](run).execute()
        if run.trace:
            os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(cache, "traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    units = dict(workloads.PER_LAYER if run.trace else workloads.END_TO_END)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "cpus": cpus,
        **run.report,
        "failures": run.failures,
    }
    print("report: " + json.dumps(report, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
