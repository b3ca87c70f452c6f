"""Run-to-run spread of the benchmark's metrics over several seeds.

    python3 perfbench/steady.py --workloads ingest_batch queries_tpch --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
and prints, per workload and metric, the median, the inter-quartile
distance as a share of the median (the acceptance check's spread) and
the metric's bound from BENCHMARK.json, plus each run's wall time.
``--out`` keeps every run's result line as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["report"] = next((json.loads(l[len("report: "):]) for l in lines if l.startswith("report: ")), None)
    return res, wall


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--out")
    args = p.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    record = []
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        walls, failed = [], 0
        for seed in args.seeds:
            res, wall = run_once(w, seed, args.seconds)
            record.append({"workload": w, "seed": seed, "wall_s": wall, "result": res})
            shown = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"  {w} seed {seed}: {wall:.1f} s, failed {res['failed']}, {shown}", flush=True)
            walls.append(wall)
            failed += res["failed"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {len(args.seeds)} runs, run wall median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f}), failed checks {failed}")
        for k, vs in values.items():
            sp = spread(vs) if len(vs) >= 2 and statistics.median(vs) else float("nan")
            print(f"  {k:32s} median {statistics.median(vs):12.5g}  spread {sp:6.3f}  bound {bounds.get(k)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
