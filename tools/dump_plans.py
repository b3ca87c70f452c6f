"""Dump ``explain('formatted')`` for named queries to <out-dir>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py --out plans/r12 --tag after q_a q_b ...

Plan evidence only — builds each DataFrame (no execution beyond what the
query function itself runs, e.g. eager checkpoints/streams) and writes the
formatted physical plan. Run from any checkout; imports the package next to
this file's parent.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--iter",
        action="store_true",
        help="also dump PER-ITERATION (pre-checkpoint) plans for iterative "
        "operators: every materialize()/localCheckpoint routed through "
        "operators.dedup.materialize writes its loop-body plan to "
        "<out>/<query>_<tag>_iters/, numbered from 01 per query (a final "
        "explain of a checkpointed loop is a vacuous scan of the last "
        "checkpoint; the loop-body plans are where Exchange/Join deltas "
        "are visible)",
    )
    args = ap.parse_args()

    from sales_data_pipeline_gcp_spark.operators import dedup
    from sales_data_pipeline_gcp_spark.plans.registry import all_queries
    from sales_data_pipeline_gcp_spark.session import get_spark

    spark = get_spark("dump-plans")
    os.makedirs(args.out, exist_ok=True)
    all_q = all_queries()
    for name in args.queries:
        if args.iter:
            dedup._PLAN_DUMP_SEQ = 0
            os.environ["SPARK_GRAFT_PLAN_DUMP_DIR"] = os.path.join(
                args.out, f"{name}_{args.tag}_iters"
            )
        try:
            df = all_q[name].fn(spark, args.sf_dir)
        finally:
            if args.iter:
                os.environ.pop("SPARK_GRAFT_PLAN_DUMP_DIR", None)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
