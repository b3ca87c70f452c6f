"""Per-query cost of the benchmark's queries on two fixture directories.

    python3 perfbench/compare_fixtures.py --dirs <generated sf0.1> <shipped sf0.1> --reps 3

Runs every query of ``--queries`` (default: the ``queries_iterative``
set) on each directory in one session at ``local[nproc]``, ``--reps``
times, interleaving the directories within each repetition. For every
(directory, query) it prints the result's row count, and the median over
the repetitions after the first of: the query function's time (``fn_s``,
eager jobs included), the collect time (``final_s``), and the Spark jobs
each phase submitted (``eager_jobs``, ``final_jobs``), counted per job
group with the status tracker. ``--out`` keeps the table as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def run_query(spark, fn, sf: str, group: str) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(f"{group}:fn", "fn")
    t0 = time.perf_counter()
    df = fn(spark, sf)
    t1 = time.perf_counter()
    sc.setJobGroup(f"{group}:final", "final")
    rows = len(df.toPandas())
    t2 = time.perf_counter()
    return {
        "fn_s": t1 - t0,
        "final_s": t2 - t1,
        "eager_jobs": len(tracker.getJobIdsForGroup(f"{group}:fn")),
        "final_jobs": len(tracker.getJobIdsForGroup(f"{group}:final")),
        "rows": rows,
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import ITERATIVE

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--dirs", nargs="+", required=True)
    p.add_argument("--queries", nargs="+", default=list(ITERATIVE))
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--out")
    args = p.parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)

    from sales_data_pipeline_gcp_spark.plans import registry
    from sales_data_pipeline_gcp_spark.session import get_spark

    spark = get_spark("perfbench-compare", cpus=cpus, extra={"spark.ui.showConsoleProgress": "false"})
    queries = registry.all_queries()
    samples: dict[tuple[str, str], list[dict]] = {}
    try:
        for rep in range(args.reps):
            for d in args.dirs:
                for name in args.queries:
                    s = run_query(spark, queries[name].fn, d, f"{rep}:{d}:{name}")
                    samples.setdefault((d, name), []).append(s)
                    print(f"rep {rep} {d} {name}: " + json.dumps({k: round(v, 3) for k, v in s.items()}), flush=True)
    finally:
        spark.stop()
    table = []
    for (d, name), ss in samples.items():
        kept = ss[1:] or ss
        row = {"dir": d, "query": name, "rows": ss[-1]["rows"]}
        for k in ("fn_s", "final_s", "eager_jobs", "final_jobs"):
            row[k] = statistics.median(s[k] for s in kept)
        row["total_s"] = row["fn_s"] + row["final_s"]
        table.append(row)
    print(f"{'query':30s} {'dir':>40s} {'rows':>7s} {'fn_s':>7s} {'final_s':>8s} {'total_s':>8s} {'eager':>6s} {'final':>6s}")
    for r in sorted(table, key=lambda r: (r["query"], r["dir"])):
        print(f"{r['query']:30s} {r['dir'][-40:]:>40s} {r['rows']:7d} {r['fn_s']:7.2f} {r['final_s']:8.2f} "
              f"{r['total_s']:8.2f} {r['eager_jobs']:6.1f} {r['final_jobs']:6.1f}")
    for d in args.dirs:
        tot = sum(r["total_s"] for r in table if r["dir"] == d)
        print(f"pass total {d}: {tot:.2f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(table, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
