# One-command verification ladder (VERDICT r4 next-step #7).
#
#   make verify        — the full three-level gate:
#                          1. pytest tests/ (parity, goldens, plan asserts,
#                             registry window guards)
#                          2. full-catalog DuckDB oracle sweep at sf0.01
#                             (driver-identical compare, all 194 entries)
#                          3. cross-parallelism invariance sweep
#                             (local[4] vs local[32], value-identical)
#   make verify-quick  — oracle sweep at sf0.001 only (~5 min), for
#                        iterating on a single operator
#   make bench         — one bench.py JSON line at sf0.01
#   make loc           — the package's Python line count (the size metric)
#
# Every target exits non-zero on the first failing level. `make test` runs
# the whole suite (no -x) and fails if any test failed; `make -k verify`
# runs the later levels past a failing one. Runtimes on a quiet local[32]
# host: pytest ~13 min, oracle sweep ~12 min, invariance ~20 min.

PY ?= python
SF_ORACLES ?= /root/testdata/sf0.01
SF_QUICK ?= /root/testdata/sf0.001

.PHONY: verify verify-quick test oracles invariance bench loc

verify: test oracles invariance

test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracles:
	$(PY) tools/check_oracles.py $(SF_ORACLES)

invariance:
	$(PY) tools/check_invariance.py

verify-quick:
	$(PY) tools/check_oracles.py $(SF_QUICK)

bench:
	SPARK_GRAFT_SF_DIR=$(SF_ORACLES) $(PY) bench.py

loc:
	@find facebook_page_scrapy_spark -name '*.py' | xargs cat | wc -l
