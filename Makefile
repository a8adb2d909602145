# One-command regression gate: `make check` = full test suite (incl. the
# full-catalog DuckDB oracle gate) + the benchmark's own tests + a
# 6-query mini-bench at sf0.01 + the leak/copy self-check.  `make test`
# is exactly the ROADMAP Tier-1 verify command, so the local gate and the
# verify gate cannot drift apart.  Individual targets below for faster
# loops.

MINIBENCH_QUERIES = q01_pricing_summary,q26_minhash_near_dups,q30_knn_lsh,q50_validated_lineitem,q101_streaming_tumbling_e2e,q110_bm25_retrieval

.PHONY: check test benchtest minibench selfcheck oracle bench sweep-sf1

check: test benchtest minibench selfcheck

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
		SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

benchtest:
	python3 -m pytest perfbench/tests -q

minibench:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
	SPARK_GRAFT_QUERIES=$(MINIBENCH_QUERIES) python bench.py

selfcheck:
	python tools/selfcheck.py

oracle:
	python tools/oracle_check.py

bench:
	python bench.py

# Full-catalog Spark-vs-DuckDB hash sweep at the sf1 decade (~25-40 min;
# regenerates nothing — run tools/make_sf1.py first in a fresh container).
sweep-sf1:
	python tools/sweep_sf1.py
