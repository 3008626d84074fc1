# Developer entry points. `make pre-driver` is the gate to run before
# every driver round: the 50-query window on a VANILLA SparkSession,
# compared against the DuckDB oracles at the driver's own scale —
# exits non-zero on any diff (VERDICT r6 directive #6).

PY ?= python3

.PHONY: test pre-driver mirror-sf001 mirror-sf01 bench bench-wide calibrate plans perfbench perfbench-test scale-sweep

# The tier-1 suite exactly as ROADMAP.md states it: one Spark core per
# schedulable host core and no early exit.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Simulate the driver's CORRECTNESS gate: vanilla session, sf0.01,
# first-50 window, DuckDB compare. Fails loudly on any diff.
pre-driver:
	$(PY) scripts/driver_sim.py

# Full oracle mirrors (every DuckDB-oracled query, not just the window).
mirror-sf001:
	$(PY) -m pytest tests/test_oracle_parity.py -m sf001 -q

mirror-sf01:
	$(PY) -m pytest tests/test_oracle_parity.py -m sf01 -q

bench:
	$(PY) bench.py

bench-wide:
	$(PY) bench.py --wide

# 10-second host-state check (both frozen calibration probes, no
# queries) — run before trusting any perf number on this box.
calibrate:
	$(PY) bench.py --calibrate

plans:
	$(PY) -m collimate_spark.plans

# The repository benchmark (BENCHMARK.json): both workloads, seed 1.
perfbench:
	$(PY) perfbench/run.py --workload all --seed 1

perfbench-test:
	$(PY) -m pytest perfbench/tests -q -p no:cacheprovider

# Quadratic-candidate screen (VERDICT r7 #8): pair-emitting dedup family
# at 10x corpus on the MUTATED replication slice (true pair output grows
# ~linearly there, so work growth is the signal), PLUS the heavy
# non-dedup surface screen at the second decade (VERDICT r8 #8).
# Rewrites both marked sweep sections of BASELINE.md.
scale-sweep:
	$(PY) scripts/scale_sweep.py --update-baseline
	$(PY) scripts/scale_sweep.py --surface --update-baseline
