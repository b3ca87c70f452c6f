# Round-end verification targets. `make sweep` is the gate that must pass
# before a round ends: full tests at sf0.01, the parity suite again at
# sf0.1 (catches magnitude-dependent bugs — decimal overflow past 2^53,
# window-order tie ambiguity — that sf0.01 cannot see), then the benchmark.

PY := python

.PHONY: test parity-sf01 parity-sf1 parity-sf1-derived bench perf sweep

test:
	$(PY) -m pytest tests/ -x -q

parity-sf01:
	$(PY) -m pytest tests/test_parity.py -q

parity-sf1:
	SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 $(PY) -m pytest tests/test_parity.py -q

# DuckDB oracle differential at the DERIVED sf1 (~6M rows; build the
# fixtures first: `python scale_fixtures.py` then optionally
# `--fresh-vocab` / `--sf10`). Writes/updates PARITY_SF1.json.
parity-sf1-derived:
	$(PY) parity_sf1.py

# a plain bench run writes a dated raw record under .bench/; curate the
# committed BENCH_FULL.json via `python bench.py --merge <raw records>`
bench:
	$(PY) bench.py

# both BENCHMARK.json workloads, once untraced (end-to-end metrics) and
# once traced (per-layer metrics), in the tier-1 test environment; the last
# stdout line of each run is its result. `make perf SEED=9173` is the
# held-out seed.
SEED ?= 1
PERF_ENV := SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local

perf:
	for w in ingest_batch queries_iterative; do for t in 0 1; do \
	  $(PERF_ENV) $(PY) perfbench/run.py --workload $$w --seed $(SEED) --seconds 8 --trace $$t || exit 1; \
	done; done

sweep: test parity-sf1 bench
