.PHONY: test test-full test-norename bench perfbench-selftest smoke lint

# the object-store semantics gate (r15): the full index / docstore /
# IVF-PQ / compaction suites against the rename-less backend
# (metastore.NoRenameMetastore — generation-pointer swaps, no atomic
# rename anywhere). Proves the durability protocols' cloud form.
test-norename:
	SPARK_GRAFT_METASTORE=norename python -m pytest \
	  tests/test_metastore_contract.py tests/test_metastore_norename.py \
	  tests/test_index_commits.py tests/test_index_v2.py \
	  tests/test_docstore.py tests/test_ivfpq_store.py tests/test_pq.py \
	  tests/test_icontains_index.py tests/test_search_index.py -q

# fast suite: oracle parity at sf0.001 + unit/property/plan/streaming
# tests, MINUS the `full`-marked slow long-tail (pytest.ini deselects
# them so the driver's verification window fits — r16 verdict #3)
test:
	python -m pytest tests/ -q

# CI gate: EVERYTHING — the `full`-marked slow tests plus parity at
# BOTH sf0.001 and sf0.01 (driver correctness scale)
test-full:
	SPARK_GRAFT_FULL=1 python -m pytest tests/ -q -m "full or not full"

# one JSON line of per-query wall times at $(or $(SPARK_GRAFT_SF_DIR),/root/testdata/sf0.1)
bench:
	python bench.py

# the movies-catalog benchmark's output checks: each holds on real output
# and fails on a deliberately corrupted one (perfbench/README.md)
perfbench-selftest:
	python3 perfbench/run.py --self-test

# driver-contract smoke: entry() rows + queries()/oracle_sql() key invariant
smoke:
	python -c "import __spark_entry__ as E; \
	from pyspark.sql import SparkSession; \
	s = SparkSession.builder.master('local[8]').config('spark.sql.shuffle.partitions','8').config('spark.ui.enabled','false').getOrCreate(); \
	print('entry rows:', E.entry(s).count()); \
	q, o = E.queries(), E.oracle_sql(); assert set(q) >= set(o); \
	print('queries:', len(q), 'oracles:', len(o))"

lint:
	python -m compileall -q djangoadmin_postgresql_2_elasticseach_spark tests bench.py __spark_entry__.py
