# Gate entry points — the pre-merge contract, spelled out so a habit of
# running bare `pytest` (which defaults to -m 'not slow' for the fast
# loop) cannot silently shrink what "green" means.

PY ?= python
SF ?= /root/testdata/sf0.01
SF_SMALL ?= /root/testdata/sf0.001

.PHONY: test test-full oracle oracle-small audit gate bench perfbench

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

# benchmark — run dead LAST on an idle machine (bench.py refuses to emit
# JSON at 1-min load >= 1.5)
bench:
	$(PY) bench.py

# repository benchmark gate (BENCHMARK.json): the planted-fault self-test,
# then one short seeded run of every declared workload; fails unless each
# run reports correct
perfbench:
	$(PY) perfbench/selftest.py
	for w in $$($(PY) -c "import json; print(*(w['name'] for w in json.load(open('BENCHMARK.json'))['workloads']))"); do \
		$(PY) perfbench/run.py --workload $$w --seed 1 --seconds 5 --trace 0 | tail -n 1 | \
			$(PY) -c "import json, sys; r = json.load(sys.stdin); print(json.dumps(r)); sys.exit(not r['correct'])" || exit 1; \
	done
