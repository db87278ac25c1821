# Developer conveniences (the reference drives everything through make too)

.PHONY: test correctness correctness-sf01 bench bench-ingest smoke gate gate-full commit-evidence scale-curve scale-curve-wide scale-canary

# The full pre-round-close gate: run this before finishing any round.
# Catches fixture regenerations (VERDICT r04), oracle drift, and bench
# crashes in one command.  Ends by committing any driver-written round
# evidence (BENCH_rNN / CORRECTNESS_rNN) so it can't be left untracked
# at round close (ADVICE r04 item 2, recurred r05).
gate: test correctness bench commit-evidence

# Stage each evidence file independently: an atomic `git add glob1 glob2`
# exits 128 and stages NOTHING if either glob matches no files (e.g. a
# round that wrote only CORRECTNESS after a bench crash — ADVICE r06).
# Both the staged-diff check and the commit are scoped to the evidence
# paths so a developer's unrelated staged files are never swept in.
commit-evidence:
	@for f in BENCH_r*.json CORRECTNESS_r*.json; do \
		[ -e "$$f" ] && git add "$$f"; \
	done; \
	if ! git diff --cached --quiet -- 'BENCH_r*.json' 'CORRECTNESS_r*.json'; then \
		git commit -m "Track round evidence artifacts" -- BENCH_r*.json CORRECTNESS_r*.json; \
	else \
		echo "round evidence already tracked"; \
	fi

# gate + the sf0.1 oracle sweep: slower, but scale-dependent divergences
# (float rounding boundaries, negative zero, quota floors) only surface
# on the bigger fixture — plus the two-decade scale canary, which fails
# loudly on any shape measuring super-linear off the documented
# baseline allowlist (VERDICT r08 item 6)
gate-full: gate correctness-sf01 scale-canary

# Standing scale-regression canary: refit alpha_last (sf0.1 -> synthetic
# sf1) for the representative shapes; exit 1 on any undocumented
# super-linear exponent. Generates the synthetic input on first use.
scale-canary:
	python tools/scale_canary.py

correctness-sf01:
	python tools/check_correctness.py /root/testdata/sf0.1

test:
	python -m pytest tests/ -x -q
	python -m pytest perfbench/tests -q

correctness:
	python tools/check_correctness.py /root/testdata/sf0.01

bench:
	python bench.py

bench-ingest:
	python tools/bench_ingest.py

# One-decade scaling-exponent probe over the driver fixtures
scale-curve:
	python tools/bench_scale_curve.py

# Two-decade probe: synthesizes a sf1-class input from sf0.1 (timing
# only — correctness never runs on synthetic data) and refits the
# exponents through it; reproduces docs/SCALING.md "A second decade"
scale-curve-wide:
	@[ -d /tmp/spark_graft_sf_x10 ] || python tools/gen_scale_data.py 10
	python tools/bench_scale_curve.py --extra 1.0=/tmp/spark_graft_sf_x10

smoke:
	python -c "from __spark_entry__ import entry, queries, oracle_sql; \
from neo4j_to_clickhouse_spark import get_spark; \
s = get_spark('smoke', master='local[4]', shuffle_partitions=4); \
print(entry(s).count(), 'rows |', len(queries()), 'queries |', len(oracle_sql()), 'oracles')"
