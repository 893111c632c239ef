# Pre-snapshot gate (round-14 verdict item 4): run this before any
# end-of-round snapshot.  Two consecutive rounds lost their bench
# artifact to one broken query — the gate makes the check mechanical.
#
#   make gate      # full suite + 183-query oracle census + bench pass
#   make test      # pytest only
#   make census    # regenerate CORRECTNESS_local_sf001.json (sf0.01)
#   make bench     # one bench pass at sf0.1 (bench_latest.json)
#   make stress    # shuffle-volume tiers -> STRESS_SHUFFLE.json

.PHONY: gate test census census-fresh bench stress

test:
	python -m pytest tests/ -q

census:
	python parity_snapshot.py

# Round-15 verdict item 2: a package commit 10 min after the census
# regen silently de-proved the artifact.  Red when any watched source
# mtime is newer than CORRECTNESS_local_sf001.json.
census-fresh:
	python census_gate.py

bench:
	python bench.py
	@python -c "import json; d=json.load(open('bench_latest.json')); \
	  errs=d.get('errors'); \
	  assert not errs, f'bench recorded per-query errors: {errs}'; \
	  regs=d.get('regressions') or []; \
	  print(f\"bench OK: {d['value']}s over {len(d['queries'])} queries; \
	  {len(regs)} regression(s) vs {d.get('baseline_artifact')}\"); \
	  [print('  REGRESSION:', r) for r in regs]"

gate: test census bench census-fresh
	@echo "gate PASSED: suite green, census green + fresh, bench rc=0 with no errors"

stress:
	SPARK_GRAFT_STRESS_ONLY=column_mapping,dv_curve python stress_shuffle.py
