import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from djangoadmin_postgresql_2_elasticseach_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session", autouse=True)
def _index_cache_dir(tmp_path_factory):
    """Index builds cached by path identity (search/index.py,
    operators/similarity.py) go to this session's own tmp dir, so a run
    never reuses another process's builds from the shared default
    ``<tmp>/spark_graft_index_cache``. A cache dir the caller set wins."""
    os.environ.setdefault(
        "SPARK_GRAFT_INDEX_CACHE", str(tmp_path_factory.mktemp("index_cache"))
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def spark_jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result). Job ids are global and
    monotonic, so the count is the gap between the last job of one
    probe and the first job of the next (pool threads' jobs included;
    a probe's count() may itself run more than one job)."""
    import uuid

    sc = spark.sparkContext

    def probe():
        g = f"probe-{uuid.uuid4()}"
        sc.setJobGroup(g, g)
        spark.range(1).count()
        sc.setJobGroup("other", "other")
        return sorted(sc.statusTracker().getJobIdsForGroup(g))

    before = probe()
    out = fn()
    after = probe()
    return after[0] - before[-1] - 1, out


def register_views(con, sf_dir: str) -> None:
    """Register the testdata parquet tables as DuckDB views, mirroring the
    driver harness."""
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )


# True when the default metastore is the POSIX one (atomic rename).
# SPARK_GRAFT_METASTORE=norename (the `make test-norename` gate) swaps
# in the object-store semantics profile, under which a handful of tests
# that pin the POSIX rename-swap PHYSICAL layout are skipped — their
# generation-form equivalents are pinned in test_metastore_norename.py.
import os as _os

POSIX_METASTORE = (
    _os.environ.get("SPARK_GRAFT_METASTORE", "").lower() != "norename"
)


# ---------------------------------------------------------------------------
# r16 verdict #3: the slow long-tail tests (measured call time >= ~10 s
# in the r16 full-suite duration capture; together ~30 of the suite's
# ~57 minutes) carry the `full` marker and are DESELECTED by the
# default run (pytest_collection_modifyitems below) so the driver's
# verification window fits the suite. A full test named by node id on
# the command line still runs, and any explicit `-m` expression decides
# on its own (`make test-full` passes `-m "full or not full"` to run
# everything). Curation rule:
# tests that guard paths CHANGED in the current round must NOT be
# listed here — the driver re-verifies those by default. (r16 keeps the
# snowball SQL-parity pair, the streaming-index tick trio, the
# posting_index_upsert oracle parity, compaction file bounds and the
# combined-index tick-analyzer guard in the default run for exactly
# that reason.)
FULL_ONLY = {
    "test_admin_write.py::test_edit_flows_into_incremental_etl",
    "test_admin_write.py::test_update_stamps_modified_keeps_created",
    "test_ann_recall.py::test_rerank_and_adc_recall_bounds",
    "test_ann_recall.py::test_rerank_recall_grows_with_shortlist",
    "test_ann_recall.py::test_residual_ivfpq_recall_floors",
    "test_ann_recall.py::test_residual_recall_grows_with_nprobe",
    "test_cdc_etl.py::test_cdc_sees_bridge_only_edit_timestamp_poll_cannot",
    "test_cdc_etl.py::test_cdc_tick_maintains_docstore_serving_without_source",
    "test_cdc_etl.py::test_cdc_tick_maintains_posting_index",
    "test_cdc_etl.py::test_cdc_tick_matches_timestamp_tick",
    "test_corpus_ops.py::test_assembly_pipeline_end_to_end",
    "test_corpus_ops.py::test_dedup_clusters_long_chain_logarithmic_rounds",
    "test_corpus_ops.py::test_dedup_clusters_raises_on_nonconvergence",
    "test_corpus_ops.py::test_minhash_index_persist_and_incremental",
    "test_docstore.py::test_compactions_carry_and_fold_docstore",
    "test_dsir_mmr.py::test_weighted_sample_statistics_and_determinism",
    "test_dsl_indexed.py::test_match_phrase_slop_semantics_and_parity",
    "test_dsl_indexed.py::test_upsert_tick_then_serving_consistent",
    "test_empty_inputs.py::test_dedup_family_empty",
    "test_es_dsl.py::test_explicit_sort_overrides_relevance",
    "test_es_dsl.py::test_reference_nested_actor_body",
    "test_es_dsl.py::test_reference_query_string_body",
    "test_graph.py::test_pagerank_matches_power_iteration",
    "test_hybrid_and_skew.py::test_hybrid_indexed_is_index_resident_and_matches_scan_branches",
    "test_icontains_index.py::test_auto_falls_back_on_every_precondition",
    "test_icontains_index.py::test_preconditions_raise_loudly",
    "test_index_commits.py::test_index_stats_tracks_live_corpus",
    "test_index_commits.py::test_multifield_index_serves_multimatch_bm25",
    "test_index_commits.py::test_tiered_compaction_folds_hot_partition_only",
    "test_index_v2.py::test_element_field_refuses_phrase_and_dsl_falls_back",
    "test_metastore_norename.py::test_norename_crash_before_pointer_publish_serves_old_view",
    "test_metastore_norename.py::test_norename_full_compaction_is_a_pointer_swap",
    "test_metastore_norename.py::test_norename_icontains_and_docstore_serve_after_swap",
    "test_metastore_norename.py::test_norename_ivfpq_full_lifecycle",
    "test_metastore_norename.py::test_norename_tiered_delegates_to_generation_rewrite",
    "test_oracle_parity.py::test_query_matches_oracle[multimatch_fuzzy-/root/testdata/sf0.001]",
    "test_oracle_parity.py::test_query_matches_oracle[pipeline_assembly-/root/testdata/sf0.001]",
    "test_pipeline.py::test_pipeline_matches_hand_composed_assembly",
    "test_pq.py::test_residual_ivfpq_ticks_upsert_equal_one_shot",
    "test_properties.py::test_admin_save_matches_reference_model",
    "test_properties.py::test_bloom_never_false_negative",
    "test_properties.py::test_kmv_merge_associative_and_bounded",
    "test_properties.py::test_scd2_sequential_batches_reconstruct_history",
    "test_properties.py::test_upsert_sequence_converges_to_max_version",
    "test_reference_data_parity.py::test_golden_nested_actor_greg_camp_6",
    "test_reference_data_parity.py::test_golden_query_string_na",
    "test_scd.py::test_two_batches_build_version_chain",
    "test_search_api.py::test_fuzzy_multimatch_camp",
    "test_search_index.py::test_analyzed_corpus_cache_builds_and_invalidates",
    "test_search_index.py::test_match_phrase_from_index_equals_scan",
    "test_sqlite_source.py::test_migrate_destructive_and_idempotent",
    "test_streaming_dedup.py::test_streaming_neardup_dedup_via_persisted_index",
    "test_unicode_tokens.py::test_stemmer_matches_snowball_on_converged_vocab",
}


def pytest_collection_modifyitems(config, items):
    named = {a.split("tests/")[-1] for a in config.args if "::" in a}
    keep, drop = [], []
    for item in items:
        key = item.nodeid.split("tests/")[-1]
        if key in FULL_ONLY or key.split("[")[0] in FULL_ONLY:
            item.add_marker(pytest.mark.full)
            if not config.option.markexpr and not (
                key in named or key.split("[")[0] in named
            ):
                drop.append(item)
                continue
        keep.append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep
