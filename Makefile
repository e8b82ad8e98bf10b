# Gate entry points — the pre-merge contract, spelled out so a habit of
# running bare `pytest` (which defaults to -m 'not slow' for the fast
# loop) cannot silently shrink what "green" means.

PY ?= python
SF ?= /root/testdata/sf0.01
SF_SMALL ?= /root/testdata/sf0.001
SEED ?= 101
WORKLOAD ?= analytics
SEEDS ?= 101-110

.PHONY: test test-full oracle oracle-small audit gate perfbench perfbench-ab bench-legacy

# fast feedback loop (<5 min): everything not marked slow
test:
	$(PY) -m pytest tests/ -q

# the FULL suite — streaming/ingest equivalence, Derby lifecycle,
# recall studies; this is the pre-merge test gate (~10 min)
test-full:
	$(PY) -m pytest tests/ -q -m "slow or not slow"

# cross-engine correctness gate: every registered query vs its DuckDB
# oracle (run at BOTH scale factors — sf0.001 catches scale-coupled
# constants that sf0.01 hides)
oracle:
	$(PY) tools/check_oracle.py $(SF)

oracle-small:
	$(PY) tools/check_oracle.py $(SF_SMALL)

# physical-plan scale contract (pushdown, broadcast, no corpus-global
# windows, no cartesians)
audit:
	$(PY) tools/explain_audit.py

# the complete pre-merge gate
gate: test-full oracle oracle-small audit

# the repository benchmark: the BENCHMARK.json command for each workload at
# SEED, untraced; each run prints one JSON line (perfbench/README.md)
perfbench:
	python3 perfbench/run.py --workload ingest --seed $(SEED) --seconds 1 --trace 0
	python3 perfbench/run.py --workload analytics --seed $(SEED) --seconds 1 --trace 0

# alternated parent/change pairs of the benchmark at SEEDS: medians,
# quartiles, each metric against its bound and, with CLAIM=<metric>, the
# claim rule (tools/perfbench_ab.py); PARENT is a checkout of the commit
# to compare against
perfbench-ab:
	$(if $(PARENT),,$(error set PARENT=<checkout of the parent commit>))
	python3 tools/perfbench_ab.py --parent $(PARENT) --workload $(WORKLOAD) --seeds $(SEEDS) $(if $(CLAIM),--claim $(CLAIM))

# legacy catalog-query timings behind BENCH_r*.json, not the benchmark —
# run dead LAST on an idle machine (bench.py refuses to emit JSON at
# 1-min load >= 1.5)
bench-legacy:
	$(PY) bench.py
