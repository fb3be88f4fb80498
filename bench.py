"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (driver captures the LAST 2000 chars of stdout, so the
FINAL line must be a compact parseable JSON summary — r5's single giant
line overflowed that capture and left BENCH_r05.json unparseable):
  line 1: full detail JSON (per-query warm+cold maps), also written to
          bench_detail.json next to this file;
  final line: compact summary {"metric", "value", "unit", "cold_sec",
          "sf", "n_queries", "detail_file"}.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side row transfer) — the honest analogue of writing to a real
sink. Quadratic verification-path operators (all-pairs jaccard/cosine)
are excluded; their LSH/banded scale paths are benched instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from djangoadmin_postgresql_2_elasticseach_spark import registry
from djangoadmin_postgresql_2_elasticseach_spark.session import get_spark

BENCH_QUERIES = [
    # scan + group-agg throughput
    "pricing_summary",
    # broadcast join chains + agg
    "revenue_by_nation",
    # the flagship denormalizing doc build (reference ETL shape)
    "denorm_orders",
    # incremental predicate scan
    "incremental_events",
    # distinct-array aggregation (API layer shape)
    "customer_order_arrays",
    "string_agg_nations",
    "supplier_order_structs",
    "events_daily_counts",
    "user_sessions",
    "user_sessions_sliced",
    "event_funnel",
    "cohort_retention",
    "asof_last_purchase",
    "range_purchase_windows",
    "resample_daily_ffill",
    "skew_safe_distinct_users",
    "incremental_rollup",
    "upsert_merge_docs",
    "admin_save_docs",
    "top_parts_per_nation",
    "shipping_priority",
    "returned_top_customers",
    "revenue_rollup",
    "order_status_pivot",
    "json_props_stats",
    # search surface
    "terms_agg_parts",
    "nested_exists",
    "multimatch_fuzzy",
    "bm25_topk",
    "multimatch_bm25",
    "match_phrase",
    "analyze_tokens",
    "inverted_df",
    "query_string_search",
    # text analysis
    "lang_id",
    "text_quality",
    "token_counts",
    "doc_fingerprint",
    "rolling_fingerprint",
    # dedup scale paths (LSH/banded, not all-pairs)
    "dedup_exact",
    "minhash_dedup_pairs",
    "incremental_minhash_dedup",
    "duplicated_passages",
    "remove_dup_passages",
    "simhash",
    # corpus preparation
    "chunk_documents",
    "scrub_pii",
    "clean_corpus",
    "split_corpus",
    "tfidf_vectors",
    "doc_lm_logprob",
    "quality_classifier",
    "source_mixture",
    "top_bigrams",
    "bigram_pmi",
    "repetition_stats",
    "decontaminate",
    "dedup_clusters",
    "source_quota",
    "sample_to_budget",
    "pack_sequences",
    "tar_shard_roundtrip",
    "pack_windows",
    "pipeline_assembly",
    "corpus_stats",
    "event_value_percentiles",
    "user_value_quartiles",
    "hll_distinct_users",
    "zorder_key_events",
    "compaction_bins_events",
    "kmv_distinct_users",
    "kmv_intersection_users",
    "cms_heavy_users",
    "fuzzy_name_pairs",
    "bloom_semi_lineitem",
    "dq_orders_checks",
    "profile_orders",
    "value_quantile_sketch",
    "triangle_part_pairs",
    "scd2_customer_history",
    # similarity search
    "ann_brute_topk",
    "pq_topk_adc",
    "int8_cosine_topk",
    "ann_ivf_topk",
    "ivf_pq_topk",
    "ann_knn_join",
    "embedding_neardup_lsh",
    "label_centroids",
    "hybrid_search_rrf",
    "semantic_dedup",
    # multimodal: real PNG encode -> Arrow -> decode round trip
    "media_metadata",
    # r9: DSIR selection, MMR re-rank, dataset auditing
    "importance_resample_docs",
    "mmr_rerank_topk",
    "snapshot_diff_orders",
    "key_skew_events",
    "vocab_coverage_top",
    "shingle_novelty_docs",
    "mmr_batch_topk",
    "weighted_sample_docs",
    "mmr_hybrid_topk",
    # r10: string-keyed MMR; persisted IVF-PQ index build + pruned
    # probe + exact re-rank + greedy (the full ANN->diversity path)
    "mmr_string_ids_topk",
    "mmr_ivfpq_topk",
    # r11: the index INGEST cost, benched on its own (mmr_ivfpq_topk now
    # probes the build-once cached index — the serving number; the cold
    # pass pays the one-time cache build, warm is steady-state probes)
    "ivfpq_index_build",
    # r10/r11: tick-maintained artifact forms — each benches build + N
    # append ticks + the artifact-served read (ingest-shaped work; the
    # one-shot reads they amortize are benched separately above)
    "incremental_vocab_coverage",
    "incremental_shingle_novelty",
    "incremental_inverted_df",
    "incremental_bm25_topk",
    "incremental_match_phrase",
    "posting_index_upsert",
    "incremental_ivfpq_topk",
    # r11: one pipeline pass maintaining minhash+token-count+shingle
    "pipeline_tick_upkeep",
    # r12: SERVE-ONLY reads against build-once cached indexes — the
    # steady-state serving numbers the ingest composites above hide
    # (cold pass pays the one-time cache build, warm is pure serving);
    # plus the index-served fuzzy multi_match (build + 2 ticks + the
    # dictionary-expansion serve)
    "bm25_serve_topk",
    "match_phrase_serve",
    "ivfpq_serve_topk",
    "multimatch_bm25_from_index",
    # r12 second half: the bool-DSL body served from the cached posting
    # index (set-operation candidate resolution + residual predicate),
    # and the Structured-Streaming-maintained index (two micro-batch
    # upsert ticks + the BM25 serve — streaming-ingest-shaped)
    "dsl_search_from_index",
    "streaming_index_bm25",
    # stored-fields tier: zero-corpus-read DSL serving + GET-by-id
    "dsl_search_stored",
    "doc_lookup_stored",
    # ordered sloppy phrase from the positional postings
    "match_phrase_slop_serve",
    # r13: ANN serve with payload from the vector index's OWN
    # stored-fields tier (no float-table / corpus read in the plan),
    # and hybrid retrieval entirely from the two index tiers (BM25
    # posting probe + ADC probe, RRF fusion)
    "ivfpq_serve_payload",
    "hybrid_serve_rrf",
    # r13: full IVFADC — ADC shortlist + exact re-rank over vectors
    # stored IN the index (embeddings table never in the plan)
    "ivfpq_serve_rerank",
    # r14: the admin icontains surface served from the index tier
    # (termdict-contains prefilter + pruned posting probe + docstore
    # residual verify — zero corpus reads; cold pays the one-time
    # unstemmed-index cache build, warm is the serving number)
    "icontains_from_index",
    # r15: the API-layer auto-dispatcher over the same surface — one
    # conditional above the served form; benched so the dispatch
    # layer's cost (and any future fallback regression) stays visible
    # (r14 verdict task #8)
    "icontains_auto",
    # r15: residual IVFADC — cell-pruned per-cell-ADC probe and the
    # stored-tier exact re-rank (cold pays the cached build+train)
    "residual_ivfpq_topk",
    "residual_ivfpq_rerank",
    # r13 (r12 verdict #8): the headline reference-API shapes — the
    # admin/REST surface (SURVEY P7-P9, O2/O3, A8) and the scan-based
    # ES-DSL bool body — benched directly; all sub-second
    "term_search",
    "paginate_orders",
    "admin_list_filter",
    "detail_lookup",
    "icontains_search",
    "match_all_limit",
    "count_envelope",
    "dsl_bool_search",
    "paginate_after",
    # Exclusions (every registry query NOT listed above, with why —
    # r12 verdict #8 requires each to be documented):
    # - kmeans_assign: driver-coordinated iterative loop — at bench
    #   scale its wall time is per-job scheduling latency, not
    #   throughput.
    # - split_leakage_safe: composes minhash_dedup_pairs +
    #   dedup_clusters + split_corpus, all three benched individually —
    #   including it would double-count their work in the total.
    # - ngram_jaccard, embedding_neardup: all-pairs quadratic
    #   VERIFICATION paths (oracle-checked for correctness); their
    #   scale paths — minhash_dedup_pairs, embedding_neardup_lsh,
    #   simhash — are benched instead.
    # - simhash_neardup_pairs: at the registry params (4 bands of 8
    #   bits) band buckets have FIXED 256-value cardinality, so bucket
    #   occupancy grows linearly with the corpus and the candidate
    #   pair join is quadratic-at-scale (measured 11 s at sf0.1 —
    #   ~12% of the whole bench by itself); the banded `simhash`
    #   signature query is benched, the pair join stays a
    #   correctness-oracled verification shape.
    # - minhash_signatures: the signature-build component of
    #   minhash_dedup_pairs (benched) — double-count otherwise.
]


# Fixed-plan CONTROL queries (code untouched for many rounds) with their
# BASELINE.md 3-run-median values on this host: the summary emits
# host_factor = geometric mean of (this run / median), so a degraded host
# window is machine-readable in BENCH_rN.json instead of needing forensic
# per-query comparison against git history (r13 verdict #8). ~1.0 =
# healthy host; sustained >1.2 = degraded window, read totals accordingly.
HOST_CONTROLS = {
    "pricing_summary": 1.48,
    "revenue_by_nation": 1.23,
    "ann_brute_topk": 0.28,
}


def host_factor(timings: dict[str, float]) -> float | None:
    import math

    ratios = [
        timings[q] / m for q, m in HOST_CONTROLS.items() if timings.get(q)
    ]
    if not ratios:
        return None
    return round(math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 3)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the bench keeps its own 32-slot default (its detail files are keyed
    # by it); the engine's default follows the host's CPUs
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
        ),
        extra_conf={
            # The ContextCleaner races task-completion events against
            # accumulator GC when queries are dropped back-to-back,
            # logging spurious "non-existent accumulator" stack traces
            # into the bench tail. The bench process lives ~1 min;
            # skipping cleanup entirely removes the race at no cost.
            "spark.cleaner.referenceTracking": "false",
            # progress bars are noise in a captured bench tail
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen, the noop sink, and the OS page cache +
    # parquet footers once, so measured timings reflect steady-state
    # throughput rather than first-touch costs
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_testdata

    for df in load_testdata(spark, sf_dir).values():
        df.count()

    def run_pass() -> dict[str, float]:
        out: dict[str, float] = {}
        for name in BENCH_QUERIES:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    # Pass 1 (recorded as cold): every query pays its own first-touch
    # Catalyst analysis + codegen + index-artifact builds. Pass 2 is the
    # steady-state throughput number — the per-job compile constants are
    # amortized exactly as they would be over a 100 TB run, so it is the
    # headline. Both totals are emitted so compile-cost regressions stay
    # visible instead of polluting the throughput metric (r3's 285 s was
    # exactly this noise on a contended machine).
    cold = run_pass()
    timings = run_pass()

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    detail = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_sec": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "host_factor": host_factor(timings),
        "sf": float(sf) if sf else None,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    detail_file = os.path.join(here, "bench_detail.json")
    with open(detail_file, "w") as fh:
        json.dump(detail, fh, indent=1)
    # ALSO write a per-core-count copy: the driver runs the bench at two
    # core counts back-to-back, and in r15 the second (8-core) run
    # clobbered the 32-core detail — PERF_r15 could then diff nothing
    # (n_common: 0, r15 verdict what's-wrong #4). The per-cpus file
    # survives the second run, so per-query round-over-round comparison
    # stays possible from the committed artifacts.
    detail_file_c = os.path.join(here, f"bench_detail_c{cpus}.json")
    with open(detail_file_c, "w") as fh:
        json.dump(detail, fh, indent=1)
    # full detail first (greppable in logs), compact summary LAST so the
    # driver's 2000-char tail capture always contains one whole JSON line
    print(json.dumps(detail))
    # second-to-last line: the slowest queries as a compact map, so the
    # driver's 2000-char tail capture usually retains SOME per-query
    # numbers even though the full detail line overflows it (r15 verdict
    # what's-wrong #4). Capped at 25 — the final summary line must
    # always fit in the tail whole.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:25]
    )
    print(json.dumps({"metric": "slowest_queries_sec", "queries": slowest}))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_sec",
                "value": total,
                "unit": "sec",
                "cold_sec": round(sum(cold.values()), 3),
                "host_factor": host_factor(timings),
                "sf": float(sf) if sf else None,
                "n_queries": len(timings),
                "detail_file": "bench_detail.json",
            }
        )
    )


if __name__ == "__main__":
    main()
