"""Benchmark runner: executes the engine's declared queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no driver
collect). Each query's reported time is the MEDIAN of 3 steady-state runs
(after an untimed warmup run): a single timed run on a shared box can be
doubled — or sixteen-folded, as one round-2 entry was — by one GC pause or
a neighbor's burst.

**The sweep runs in FRESH-PROCESS SHARDS** (round-6 VERDICT item 2). A
single-process 236-query sweep accumulates block-manager residue,
checkpoint blocks, and JIT/GC pressure that billed later queries a uniform
~1.29x inflation with 4-6x storms on trivial plan-free queries (round-6
record: 280.6s total vs round 5's 185.0s for code that did not change).
Sharding bounds the accumulated state any query can inherit to its own
shard's ~30 predecessors, and every shard starts with a clean JVM: new
block manager, empty code cache, no checkpoint blocks. Per-shard session
startup (~15s) is NOT counted in any query's timing.

The driver records only a 2000-char tail of stdout (verified: rounds 1-3
all have ``parsed: null`` with a mid-dict tail), and 122+ query names at
~15 chars average cannot fit a 2000-char JSON line. So the official
record is split honestly:

- the FINAL stdout line is a complete, parseable JSON object sized to fit
  the tail: the total over ALL queries plus per-query medians for the
  SLOWEST queries (the cost leaders — exactly the rows truncation lost in
  round 3), with ``queries_omitted`` counting the fast ones cut;
- each sweep writes its full per-query record to a DATED raw file under
  ``.bench/`` (gitignored) tagged with a ``window`` id — a plain sweep
  NEVER touches the committed record (round-7 VERDICT item 3: the
  driver's post-merge sweep clobbered the curated 206.0s record with a
  storm-window 325.9s single sweep in the worktree);
- ``BENCH_FULL.json`` (committed) is written ONLY by the explicit
  ``--merge`` path over named raw sweeps, carries a ``provenance`` field
  naming every merged window, and holds every query's min-across-sweeps
  median PLUS an ``isolated`` column: the top N_ISOLATED cost leaders
  re-measured after each sweep in fresh-process sub-shards of 5 — even a
  ~30-query shard can leave enough residue to inflate its own tail, and a
  single 20-query isolated process polluted ITSELF (it billed q_pagerank
  8-19s for a 3.2s plan), so the official record carries both numbers,
  and each isolated row is tagged with the window it came from (round-7
  ADVICE: isolated rows must not mix provenance classes silently);
- ``bench_runs.json`` (gitignored) gets the raw per-run samples.

Both the stdout line and the committed record split the total into
``streaming_floor_sec`` (the 4 genuinely micro-batch streaming queries,
whose ~25-30s is a fixed scheduling + checkpoint-fs floor measured to be
independent of state size) and ``plan_cost_sec`` (everything else), so
registry growth cannot mask plan regressions behind the fixed floor
(round-7 VERDICT item 7).
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time

RUNS_PER_QUERY = 3
#: cost leaders re-measured in a fresh process after the sweep (see above).
N_ISOLATED = 20
#: fresh-process shards for the sweep; ~30 queries per shard bounds the
#: block-manager/JIT residue any query can inherit from its predecessors.
N_SHARDS = 8

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _measure(spark, all_q, names: list[str], sf_dir: str) -> dict[str, list[float]]:
    """Warm + time each named query in the CURRENT process; returns raw
    samples per query. Shared by the shard workers and the isolated pass."""
    runs: dict[str, list[float]] = {}
    for name in names:
        q = all_q[name]
        # first run pays codegen/compile; time RUNS_PER_QUERY steady-state
        # runs and report the median (outlier-proof official record)
        materialize(q.fn(spark, sf_dir))
        samples = []
        for _ in range(RUNS_PER_QUERY):
            t0 = time.perf_counter()
            materialize(q.fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 4))
        # adaptive re-measure: a >3x spread within one query's runs means an
        # environmental event (GC storm, checkpoint-block eviction) landed
        # mid-measurement — median-of-3 cannot outvote TWO polluted runs
        # (observed: [8.6, 7.9, 1.6] for a query whose steady state is
        # 1.6 s). Extra runs are cheap relative to a wrong official record.
        while len(samples) < 2 * RUNS_PER_QUERY and max(samples) > 3 * min(samples):
            gc.collect()
            t0 = time.perf_counter()
            materialize(q.fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 4))
        runs[name] = samples
        # drop Python refs to per-run localCheckpoint RDDs so the JVM
        # ContextCleaner can evict their blocks BETWEEN queries — otherwise
        # checkpoint blocks from every prior run pile up in the block
        # manager and a later query pays the eviction/GC bill mid-timing
        # (the round-2 37s minhash outlier class)
        gc.collect()
    return runs


#: Untimed JVM warmup set run by every shard before its timed loop: a
#: fresh JVM's first ~5 queries otherwise pay scheduler/codegen JIT
#: compilation that a mid-sweep query never sees (measured: shard
#: positions 0-4 read a 1.31x median ratio vs round 5 while warm
#: positions read 1.05-1.14x). Five cheap, operator-diverse shapes
#: compile the hot paths (agg, join, window, sort, non-parquet scan).
WARMUP_QUERIES = (
    "q_agg_group",
    "q_join_inner",
    "q_window_rank",
    "q_sort_multi",
    "q_scan_csv_schema",
)


def _session_with_tables(app: str, sf_dir: str):
    from sales_data_pipeline_gcp_spark.io import TABLES, load
    from sales_data_pipeline_gcp_spark.session import get_spark

    spark = get_spark(app)
    for t in TABLES:
        load(spark, sf_dir, t).count()
    return spark


def _shard_worker(out_path: str, names: list[str]) -> None:
    """Fresh-process entry: measure ``names`` and dump raw samples."""
    from sales_data_pipeline_gcp_spark.plans import registry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session_with_tables("bench-shard", sf_dir)
    all_q = registry.all_queries()
    for w in WARMUP_QUERIES:  # untimed: pay the fresh JVM's JIT bill here
        materialize(all_q[w].fn(spark, sf_dir))
    runs = _measure(spark, all_q, names, sf_dir)
    with open(out_path, "w") as f:
        json.dump(runs, f)
    spark.stop()


def _floor_names() -> set[str]:
    """The genuinely micro-batch streaming queries (tag ``streaming`` AND
    no oracle — the batch-mode window aggregates are tagged streaming but
    cost like any other plan). Their cost is a fixed scheduling +
    checkpoint-fs floor (~25-30s/sweep, measured independent of state
    size), reported separately so it cannot mask plan regressions."""
    from sales_data_pipeline_gcp_spark.plans import registry

    return {
        n
        for n, q in registry.all_queries().items()
        if "streaming" in q.tags and q.oracle is None
    }


def _split_totals(queries: dict[str, float]) -> dict[str, float]:
    floor = _floor_names()
    streaming = round(sum(s for n, s in queries.items() if n in floor), 4)
    total = round(sum(queries.values()), 4)
    return {
        "value": total,
        "streaming_floor_sec": streaming,
        "plan_cost_sec": round(total - streaming, 4),
    }


def _official_line(queries: dict[str, float], sf: float, extra: dict) -> str:
    """Build the final stdout line: complete JSON under the driver's
    2000-char stdout tail — slowest queries up to a byte budget, the rest
    counted in ``queries_omitted``; full record in BENCH_FULL.json."""
    budget = 1600
    selected: dict[str, float] = {}
    for name, sec in sorted(queries.items(), key=lambda kv: (-kv[1], kv[0])):
        trial = dict(selected)
        trial[name] = sec
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        selected[name] = sec
    payload = {
        "metric": "total_query_wall_sec",
        **_split_totals(queries),
        "unit": "sec",
        "queries": {n: selected[n] for n in sorted(selected)},
        "sf": sf,
        "n_queries": len(queries),
        "queries_omitted": len(queries) - len(selected),
        # callers supply full_record: the curated BENCH_FULL.json exists
        # only on the --merge path; a plain sweep's authoritative record
        # is its own dated raw file (round-8 ADVICE: the old hardcoded
        # BENCH_FULL.json pointer could disagree with a stale committed
        # record)
        **extra,
    }
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never emit an untailable line
        raise RuntimeError(f"official bench line {len(line)} bytes > 1900")
    return line


def run_shard(tmp: str, tag: str, shard: list[str]) -> dict[str, list[float]]:
    """Measure the ``shard`` queries in a fresh ``--shard-worker`` subprocess
    (own JVM; its startup is untimed), logging to ``tmp``; returns each
    query's timed runs."""
    out = os.path.join(tmp, f"shard_{tag}.json")
    log = os.path.join(tmp, f"shard_{tag}.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--shard-worker", out, *shard],
            stdout=lf,
            stderr=subprocess.STDOUT,
            env=os.environ,
        )
    if proc.returncode != 0:
        with open(log) as lf:
            tail = lf.read()[-2000:]
        raise RuntimeError(f"bench shard {tag} failed (rc={proc.returncode}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from sales_data_pipeline_gcp_spark.plans import registry

    names = sorted(registry.all_queries())

    # striped shards over the sorted names (spreads each heavy family
    # across shards instead of clustering it), each measured sequentially
    # in a fresh subprocess (own JVM; startup is untimed)
    runs: dict[str, list[float]] = {}
    with tempfile.TemporaryDirectory(prefix="bench_shards_") as tmp:
        for i in range(N_SHARDS):
            runs.update(run_shard(tmp, str(i), names[i::N_SHARDS]))

        timings = {n: round(statistics.median(s), 4) for n, s in runs.items()}

        # Isolated column: re-measure the N_ISOLATED slowest queries in
        # fresh-process sub-shards of 5, slowest first — a fresh process is
        # the only reading free of sweep residue (same-context isolated
        # stayed ~2x above fresh-process on the cost leaders), and the
        # sub-sharding keeps the isolated pass from polluting ITSELF: a
        # single 20-query isolated process billed q_pagerank 8-19s for a
        # 3.2s plan from its neighbors' accumulated checkpoint blocks.
        leaders = sorted(timings, key=lambda n: (-timings[n], n))[:N_ISOLATED]
        iso_runs: dict[str, list[float]] = {}
        for j in range(0, len(leaders), 5):
            iso_runs.update(run_shard(tmp, f"iso{j // 5}", leaders[j : j + 5]))

    isolated = {n: round(statistics.median(s), 4) for n, s in iso_runs.items()}
    runs.update({n + "/isolated": s for n, s in iso_runs.items()})

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_runs.json"), "w") as f:
        json.dump(
            {"runs": runs, "sf": sf, "runs_per_query": RUNS_PER_QUERY, "n_shards": N_SHARDS},
            f,
            indent=1,
            sort_keys=True,
        )

    # A plain sweep writes ONLY a dated raw record under .bench/ — the
    # committed BENCH_FULL.json changes only via the explicit --merge path
    # (so a driver-initiated sweep leaves the worktree clean, and a single
    # storm-window sweep can never clobber the curated min-of-N record).
    window = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    raw_dir = os.path.join(here, ".bench")
    os.makedirs(raw_dir, exist_ok=True)
    raw_path = os.path.join(raw_dir, f"sweep_{window}.json")
    with open(raw_path, "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_sec",
                **_split_totals(timings),
                "unit": "sec",
                "queries": timings,
                "isolated": isolated,
                "isolated_note": "cost leaders re-measured post-sweep in fresh-process sub-shards of 5 (new JVM each: clean block manager, empty code cache); 'queries' medians come from 8 fresh-process JIT-warmed shards of ~30 queries each, so residue exposure is bounded to one shard",
                "window": window,
                "sf": sf,
                "runs_per_query": RUNS_PER_QUERY,
                "n_shards": N_SHARDS,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    rel_raw = os.path.relpath(raw_path, here)
    print(_official_line(timings, sf, {"raw_record": rel_raw, "full_record": rel_raw}))


def merge(paths: list[str], out_dir: str | None = None) -> None:
    """Merge N back-to-back BENCH_FULL.json records into one by taking the
    per-query MIN of each run's median, for both the sweep and isolated
    columns (the round-6 VERDICT's sanctioned min-of-N-sweeps statistic).
    The box suffers multi-minute host-noise storms that can cover all of
    one run's samples for a query (observed: a ~10-min window billed a
    0.33s query 5.4-8.7s across all its samples AND retries); a storm
    window is unlikely to cover the same query in independent sweeps, so
    the min across sweeps is the noise-robust per-query estimator. Writes
    the merged BENCH_FULL.json and prints the official stdout line."""
    records = [json.load(open(p)) for p in paths]
    # isolated-only supplements (records with no sweep column, used to
    # fill leaders the per-run top-20s missed, or to re-read a row in a
    # cleaner window) are NOT sweeps; the base record for sf/runs_per_query
    # metadata must be a real sweep regardless of argument order.
    sweeps = [r for r in records if r.get("queries")]
    if not sweeps:
        raise SystemExit("--merge needs at least one record with a 'queries' sweep column")
    base = sweeps[0]
    n_sweeps = len(sweeps)
    queries = {
        n: min(r["queries"][n] for r in sweeps if n in r["queries"])
        for n in {k for r in sweeps for k in r["queries"]}
    }
    # isolated rows only for the MERGED record's own top-N cost leaders:
    # each run picks leaders from its OWN (possibly storm-inflated) sweep,
    # so a query can carry an isolated reading from exactly the one run
    # that stormed on it (observed: a 2.5s query holding a 13.7s
    # "isolated" row because only the polluted run promoted it). Each
    # winning row is tagged with the window (dated sweep id / supplement
    # tag) it came from, so the provenance class of every isolated number
    # is explicit in the committed record.
    leaders = sorted(queries, key=lambda n: (-queries[n], n))[:N_ISOLATED]
    isolated: dict[str, float] = {}
    isolated_window: dict[str, str] = {}
    for n in leaders:
        candidates = [
            (r.get("isolated", {})[n], r.get("window", f"arg{i}"), "sweep" if r.get("queries") else "supplement")
            for i, r in enumerate(records)
            if n in r.get("isolated", {})
        ]
        if candidates:
            sec, window, kind = min(candidates)
            isolated[n] = sec
            isolated_window[n] = f"{window}/{kind}"
    here = out_dir or os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_sec",
                **_split_totals(queries),
                "unit": "sec",
                "queries": queries,
                "isolated": isolated,
                "isolated_window": isolated_window,
                "isolated_note": base["isolated_note"]
                + f"; record is the per-query MIN across {n_sweeps} "
                "back-to-back sweeps (host-noise storms can cover one "
                "sweep's full sample set for a query; independent sweeps "
                "don't storm on the same query); isolated_window tags each "
                "isolated row with the sweep/supplement window whose "
                "reading won",
                "provenance": {
                    "merged_from": [
                        {
                            "path": os.path.relpath(p, here),
                            "window": r.get("window"),
                            "kind": "sweep" if r.get("queries") else "isolated-supplement",
                            "total": r.get("value"),
                        }
                        for p, r in zip(paths, records)
                    ],
                    "merged_at": time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
                    "statistic": "per-query min of per-sweep median-of-3",
                },
                "sf": base["sf"],
                "runs_per_query": base["runs_per_query"],
                "n_shards": base.get("n_shards"),
                "n_sweeps": n_sweeps,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(_official_line(queries, base["sf"], {"n_sweeps": n_sweeps, "full_record": "BENCH_FULL.json"}))


def isolated_supplement(names: list[str]) -> None:
    """Measure the named queries isolated (fresh-process sub-shards of 5,
    same hygiene as the post-sweep isolated pass) and write a dated
    isolated-only supplement record under .bench/ for --merge. This is the
    reproducible path for re-reading a cost leader in a cleaner window —
    supplements carry their own window tag so the merged record never
    mixes provenance classes silently (round-7 ADVICE)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    iso_runs: dict[str, list[float]] = {}
    with tempfile.TemporaryDirectory(prefix="bench_iso_") as tmp:
        for j in range(0, len(names), 5):
            iso_runs.update(run_shard(tmp, f"iso{j // 5}", names[j : j + 5]))
    window = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    here = os.path.dirname(os.path.abspath(__file__))
    raw_dir = os.path.join(here, ".bench")
    os.makedirs(raw_dir, exist_ok=True)
    raw_path = os.path.join(raw_dir, f"isolated_{window}.json")
    with open(raw_path, "w") as f:
        json.dump(
            {
                "isolated": {n: round(statistics.median(s), 4) for n, s in iso_runs.items()},
                "isolated_runs": iso_runs,
                "isolated_note": "isolated-only supplement (fresh-process sub-shards of 5)",
                "window": window,
                "sf": sf,
                "runs_per_query": RUNS_PER_QUERY,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(raw_path)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--shard-worker":
        _shard_worker(sys.argv[2], sys.argv[3:])
    elif len(sys.argv) > 2 and sys.argv[1] == "--merge":
        merge(sys.argv[2:])
    elif len(sys.argv) > 2 and sys.argv[1] == "--isolated":
        isolated_supplement(sys.argv[2:])
    else:
        main()
