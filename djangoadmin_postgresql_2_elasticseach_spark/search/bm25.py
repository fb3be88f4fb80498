"""BM25 ranked retrieval — the full-text relevance operator behind the
reference's ES search surface (SURVEY §2.9 T2/O5; ES's default
similarity IS BM25, reference etl/json/es_movies.json mappings). The
deterministic 3·exact+1·fuzzy scorer in search/query.py stays as the
golden-test surface; this module is the production-ranking counterpart,
Spark-first and oracle-checked.

Plan shape (deliberate — two aggregations, zero per-term joins):
1. tokenize → explode → ONE groupBy(doc) computing doc length AND the
   per-query-term term frequencies as pivoted conditional sums (the
   query has a handful of terms, so tf columns are a fixed small set);
2. ONE global single-row aggregate over that frame computing N, avgdl,
   and per-term document frequencies;
3. broadcast cross-join of the 1-row stats + native column expression
   for Σ idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) → top-k via
   TakeOrderedAndProject.

At 100 TB both shuffles carry (doc_id, dl, tf...) rows — never token
postings across the wire twice, never document bodies. For a served
corpus, stage 1's output is the materialized index: store it
partitioned and step 2/3 become a scan of ~|query| columns.

idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Robertson–Sparck Jones
form ES uses, always ≥ 0); scores rounded to 4dp for cross-engine
float-determinism, ties broken by id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.tuning import spread
from ..session import persist_scoped
from .query import analyze_query, field_tokens, fuzzy_distance

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k docs by BM25 score for `query`. Returns (id, score).

    Terms are the ANALYZED stream on both sides (tokenize → stopwords →
    snowball, exactly like ES's BM25 which scores post-analysis terms);
    a frame carrying a persisted ``tokens`` column skips re-analysis."""
    qterms = analyze_query(query)
    if not qterms:
        raise ValueError("empty query after analysis")

    has_index = "tokens" in dict(docs.dtypes)
    base = docs.select(id_col, "tokens") if has_index else docs.select(id_col, text_col)
    toks = spread(base).select(
        F.col(id_col), F.explode(field_tokens(base, text_col)).alias("term")
    )
    per_doc = persist_scoped(
        toks.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum((F.col("term") == F.lit(t)).cast("long")).alias(f"tf{i}")
                for i, t in enumerate(qterms)
            ],
        ),
        "bm25.scan_per_doc",
    )
    # persist: same double-read as multi_match_bm25 — the stats branch
    # re-ran the explode+aggregate under its BroadcastExchange;
    # previous invocation's entry released on the next call
    # (session.persist_scoped)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(qterms))
        ],
    )
    return _score_per_doc(per_doc, stats, len(qterms), id_col, k, k1, b)


def _score_per_doc(
    per_doc: DataFrame,
    stats: DataFrame,
    n_terms: int,
    id_col: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Stage 3 of the BM25 plan — broadcast the 1-row stats, build the
    RSJ score as ONE native column expression, top-k. Shared by the
    corpus-scan scorer and the persisted-index serving path so the
    score arithmetic exists once (two hand-kept copies would have to
    stay bit-identical for the 4dp parity assertions)."""
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(n_terms):
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / norm
    tf_cols = [F.col(f"tf{i}") for i in range(n_terms)]
    matched = (F.greatest(*tf_cols) if len(tf_cols) > 1 else tf_cols[0]) > 0
    return (
        scored.filter(matched)
        .select(F.col(id_col), F.round(score, 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def _stats_literals(n_docs: int, avgdl: float | None) -> list:
    """An indexed field's driver-side N and avgdl
    (search/index.index_field_stats) as the literal ``n_docs`` and
    ``avgdl`` columns _score_per_doc reads."""
    return [
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(avgdl).cast("double").alias("avgdl"),
    ]


def bm25_topk_from_index(
    spark,
    path: str,
    query: str,
    field: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = K1,
    b: float = B,
    stem: bool | None = None,
) -> DataFrame:
    """BM25 served from the persisted posting index (search/index.py
    build/append_posting_index) — the production path: the corpus is
    NEVER scanned or re-analyzed at query time, and since r12 neither
    is the O(corpus) doclens table. The pieces:

    - postings are read with a partition filter (crc32 token bucket
      computed driver-side from the INDEX's persisted n_buckets) plus
      a pushed `token IN (...)` predicate, so the scan opens ≤ |terms|
      bucket directories and skips non-matching row groups (files are
      token-sorted at write);
    - per-term document frequencies are COUNTs over those same pruned
      postings (one live row per (doc, token));
    - N and avgdl come from the commit-maintained field stats
      (index_field_stats — a meta-sidecar read, plus one collected
      churn-bounded dead correction when tombstones exist), NOT a
      full-doclens aggregate per query, and enter the score as
      literals: the plan holds no stats relation to scan or broadcast;
    - dl comes OFF THE POSTING ROWS themselves (Lucene's
      norms-with-postings: the pruned bucket probe already holds the
      length norm, and the O(corpus) doclens table is not in the serve
      plan at all — the r12 verdict's last serving flag).

    Identical output to bm25_topk over the same docs — N appends ==
    one-shot (tf/dl/df are per-doc facts, df a COUNT over disjoint
    batches). ``stem`` defaults to the index's persisted build-time
    setting (_index_meta.json): the query goes through the same
    analyzer the stored tokens did — a stemmed query against a
    stem=False index would silently match nothing."""
    from .index import (
        field_stem as IX_field_stem,
        index_field_stats,
        read_posting_meta,
        read_postings,
        term_buckets,
    )

    meta = read_posting_meta(path)
    if stem is None:  # default to the FIELD's build-time analyzer
        stem = IX_field_stem(meta, field)
    qterms = analyze_query(query, stem=stem)
    if not qterms:
        raise ValueError("empty query after analysis")
    buckets = term_buckets(qterms, meta["n_buckets"])
    posts = read_postings(spark, path).filter(
        (F.col("field") == field)
        & F.col("tkb").isin(buckets)
        & F.col("token").isin(list(set(qterms)))
    )
    pivot = posts.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("token") == F.lit(t), F.col("tf")).otherwise(0)
            ).alias(f"tf{i}")
            for i, t in enumerate(qterms)
        ],
        # every live posting row of a doc carries the doc's length
        # norm, so dl falls out of the SAME pruned probe
        F.max("dl").alias("dl"),
    )
    # df over the PRUNED postings (live rows are one per (doc, token))
    dfs = posts.agg(
        *[
            F.coalesce(
                F.sum((F.col("token") == F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"df{i}")
            for i, t in enumerate(qterms)
        ]
    )
    stats = dfs.select(
        "*", *_stats_literals(*index_field_stats(spark, path, field))
    )
    scored = _score_per_doc(pivot, stats, len(qterms), "doc_id", k, k1, b)
    return (
        scored if id_col == "doc_id"
        else scored.withColumnRenamed("doc_id", id_col)
    )


def multi_match_bm25(
    docs: DataFrame,
    query: str,
    fields: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    max_edits: int = 1,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """ES-shaped ``multi_match`` ranking: per-field BM25, combined with
    ``best_fields`` (the ES default: doc score = MAX over fields), with
    fuzzy term expansion — each index term within ``max_edits`` of an
    analyzed query term scores with its own document frequency, scaled
    by Lucene's fuzzy boost ``1 − distance/len(term)``.

    This is the production-ranking counterpart of
    ``query.multi_match_fuzzy`` (which stays the deterministic golden
    scorer): on the reference's real dataset it reproduces the
    reference's pinned top-1 for the fuzzy "camp" golden
    (tests/test_reference_data_parity.py) — a short title field with an
    exact match outranks long-description matches through BM25 length
    normalization, exactly the behavior the reference asserts.

    Plan: per field — explode analyzed tokens → per-doc (dl, tf per
    matched term) in ONE aggregation → 1-row stats broadcast → score;
    fields union by doc with max. Scores round to 4dp, ties break by id.
    """
    qterms = analyze_query(query)
    if not qterms:
        raise ValueError("empty query after analysis")

    dtypes = dict(docs.dtypes)
    per_field_scores = []
    for field in fields:
        # carry the persisted token column through the projection when
        # the frame has one (field_tokens resolves it by name)
        tok_col = (
            "tokens"
            if field == "text" and "tokens" in dtypes
            else f"{field}_tokens"
        )
        keep = tok_col if tok_col in dtypes else field
        base = spread(docs.select(id_col, keep)).select(
            F.col(id_col), F.explode(field_tokens(docs, field)).alias("term")
        )
        # fuzzy expansion condition + boost per (query term, index term)
        matched = None
        for i, qt in enumerate(qterms):
            exact = F.col("term") == F.lit(qt)
            # threshold-bounded OSA distance (Damerau: a transposition
            # is ONE edit, ES transpositions:true) — NULL past
            # max_edits; within a match d IS the distance for the boost
            d = fuzzy_distance(F.col("term"), qt, max_edits)
            cond = exact | d.isNotNull() if max_edits > 0 else exact
            boost = F.when(exact, F.lit(1.0)).otherwise(
                F.lit(1.0) - d / F.greatest(F.length(F.col("term")), F.lit(1))
            )
            m = F.when(cond, boost).otherwise(F.lit(None)).alias(f"b{i}")
            matched = [m] if matched is None else matched + [m]
        per_doc = persist_scoped(
            base.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("dl"),
                # tf of matched terms and max boost per query term
                *[
                    F.sum(F.when(F.col("term").isNotNull() & m.isNotNull(), 1)
                          .otherwise(0)).alias(f"tf{i}")
                    for i, m in enumerate(matched)
                ],
                *[F.max(m).alias(f"bo{i}") for i, m in enumerate(matched)],
            ),
            # slot per field: one invocation persists one frame per
            # scored field, all read by the same final action — a
            # shared slot would release a sibling mid-query
            f"bm25.multimatch_per_doc.{field}",
        )
        # persist: per_doc feeds BOTH the 1-row stats aggregate and the
        # scored branch, and stats crosses back in under a
        # BroadcastExchange — left lazy, the fuzzy-expansion scan
        # (per-token threshold-bounded OSA distance against every query
        # term, the dominant cost of this ranker) executed once per
        # branch per field. Slim O(N_docs)-row frame; previous
        # invocation's CacheManager entry released on the next call
        # (session.persist_scoped).
        stats = per_doc.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
                for i in range(len(qterms))
            ],
        )
        scored = per_doc.crossJoin(F.broadcast(stats))
        fs = F.lit(0.0)
        for i in range(len(qterms)):
            tf = F.col(f"tf{i}").cast("double")
            df = F.col(f"df{i}").cast("double")
            idf = F.log(
                F.lit(1.0)
                + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
            )
            norm = tf + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
            )
            term_score = idf * tf * F.lit(k1 + 1.0) / norm
            fs = fs + F.when(
                F.col(f"tf{i}") > 0,
                term_score * F.coalesce(F.col(f"bo{i}"), F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        per_field_scores.append(
            scored.filter(
                sum((F.col(f"tf{i}") > 0).cast("int") for i in range(len(qterms)))
                > 0
            ).select(F.col(id_col), fs.alias("fscore"))
        )
    allf = per_field_scores[0]
    for p in per_field_scores[1:]:
        allf = allf.unionByName(p)
    return (
        allf.groupBy(id_col)
        .agg(F.round(F.max("fscore"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def multimatch_bm25_from_index(
    spark,
    path: str,
    query: str,
    fields: tuple[str, ...] = ("text", "source"),
    id_col: str = "doc_id",
    k: int = 10,
    max_edits: int = 1,
    k1: float = K1,
    b: float = B,
    stem: bool | None = None,
    max_expansions: int | None = None,
) -> DataFrame:
    """ES ``multi_match`` (best_fields, fuzziness=1) served from the
    persisted MULTI-FIELD posting index — the reference's actual search
    shape (ETLTests-2.json multi_match bodies) on the incremental index
    tier. Execution is Lucene's own fuzzy plan:

    1. expand each analyzed query term against the TERM DICTIONARY
       (the tick-maintained termdict/ artifact — vocabulary-sized,
       sublinear in corpus; Lucene intersects an automaton with its FST
       term dict, here it is one vectorized OSA-distance scan), collect
       the matched (field, token, boost-per-query-term) rows — bounded
       by vocabulary within ``max_edits`` of the query;
    2. prune the postings scan to the candidate tokens' bucket
       directories (the index's persisted n_buckets) + a pushed
       ``token IN``; join the broadcast candidate table to attach
       boosts;
    3. per field: one aggregation to per-doc (tf_i, max boost_i),
       df_i from the same frame, N/avgdl from the commit-maintained
       field stats as literals (index_stats, one call for all fields —
       no stats relation in the plan), dl off the posting rows themselves (no doclens
       scan in the plan) — then the identical RSJ
       score · Lucene fuzzy boost (1 − d/len(term)) expression the
       scan-based ``multi_match_bm25`` builds, best_fields MAX across
       fields, 4dp rounding, ties by id.

    Identical output to ``multi_match_bm25`` over the same corpus
    (oracle-pinned). ``max_expansions``: optional per-term cap on
    dictionary expansions, highest boost kept (Lucene's maxExpansions)
    — leave None for exact scan parity."""
    from .index import (
        field_stem as IX_field_stem,
        index_stats,
        read_posting_meta,
        read_postings,
        read_termdict,
        term_buckets,
    )

    meta = read_posting_meta(path)
    if stem is None:
        stems = {IX_field_stem(meta, f) for f in fields}
        if len(stems) > 1:
            # one query string is analyzed ONCE; fields indexed under
            # different analyzers cannot share that stream — serve the
            # mixed case per-field (or from the scan) instead
            raise ValueError(
                f"fields {list(fields)} were indexed under different "
                "analyzers — a single multi_match query stream cannot "
                "serve both"
            )
        stem = stems.pop()
    qterms = analyze_query(query, stem=stem)
    if not qterms:
        raise ValueError("empty query after analysis")
    missing = [f for f in fields if f not in meta["fields"]]
    if missing:
        raise ValueError(
            f"index at {path} has fields {meta['fields']}; query asks "
            f"for unindexed {missing}"
        )

    # 1. dictionary expansion → candidate rows (field, token, b0..bn)
    # where b_i is the token's Lucene fuzzy boost against query term i
    # (1.0 exact, 1 − d/len fuzzy, None no match). Exact-only queries
    # skip the dictionary entirely — the candidates ARE the query terms
    # (a term absent from the index just matches no postings). Fuzzy
    # queries scan the slim termdict pruned to the reachable LENGTH
    # BAND (an edit changes length by ≤ max_edits) — never the
    # postings, never the corpus.
    n = len(qterms)
    if max_edits <= 0:
        byft: dict = {}
        for f in fields:
            for i, qt in enumerate(qterms):
                row = byft.setdefault((f, qt), [f, qt] + [None] * n)
                row[2 + i] = 1.0
        expanded = [tuple(r) for r in byft.values()]
    else:
        lens_q = [len(t) for t in qterms]
        td = read_termdict(
            spark, path, fields=tuple(fields),
            length_between=(min(lens_q) - max_edits, max(lens_q) + max_edits),
        )
        bexprs = []
        for i, qt in enumerate(qterms):
            exact = F.col("token") == F.lit(qt)
            d = fuzzy_distance(F.col("token"), qt, max_edits)
            boost = F.when(exact, F.lit(1.0)).otherwise(
                F.lit(1.0)
                - d / F.greatest(F.length(F.col("token")), F.lit(1))
            )
            bexprs.append(
                F.when(exact | d.isNotNull(), boost).alias(f"b{i}")
            )
        any_match = None
        for i in range(n):
            c = F.col(f"b{i}").isNotNull()
            any_match = c if any_match is None else (any_match | c)
        expanded = [
            tuple(r)
            for r in td.select("field", "token", *bexprs)
            .filter(any_match)
            .collect()
        ]
    if max_expansions is not None:
        kept: list = []
        for i in range(n):
            hits = sorted(
                (r for r in expanded if r[2 + i] is not None),
                key=lambda r: (-r[2 + i], r[0], r[1]),
            )[:max_expansions]
            kept.extend(hits)
        seen, dedup = set(), []
        for r in kept:
            if (r[0], r[1]) not in seen:
                seen.add((r[0], r[1]))
                dedup.append(r)
        expanded = dedup
    if not expanded:
        return spark.createDataFrame([], f"{id_col} long, score double")

    # 2. bucket-pruned postings probe + broadcast boost attachment
    cand = spark.createDataFrame(
        expanded,
        "field string, token string, "
        + ", ".join(f"b{i} double" for i in range(n)),
    )
    cand_tokens = sorted({r[1] for r in expanded})
    buckets = term_buckets(cand_tokens, meta["n_buckets"])
    posts = read_postings(spark, path).filter(
        F.col("field").isin(list(fields))
        & F.col("tkb").isin(buckets)
        & F.col("token").isin(cand_tokens)
    )
    joined = posts.join(F.broadcast(cand), ["field", "token"])

    # 3. per-field BM25 with fuzzy boosts, best_fields combine; the
    # stats of all fields come from one index_stats call (one dead
    # correction collect when tombstones exist)
    field_stats = index_stats(spark, path)
    per_field_scores = []
    for field in fields:
        pf = joined.filter(F.col("field") == field)
        per_doc = pf.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(F.col(f"b{i}").isNotNull(), F.col("tf")).otherwise(
                        0
                    )
                ).alias(f"tf{i}")
                for i in range(len(qterms))
            ],
            *[F.max(F.col(f"b{i}")).alias(f"bo{i}") for i in range(len(qterms))],
            F.max("dl").alias("dl"),
        )
        dfs = per_doc.agg(
            *[
                F.coalesce(
                    F.sum((F.col(f"tf{i}") > 0).cast("long")), F.lit(0)
                ).alias(f"df{i}")
                for i in range(len(qterms))
            ]
        )
        n_docs, sum_dl = field_stats.get(field, (0, 0))
        stats = dfs.select(
            "*", *_stats_literals(n_docs, sum_dl / n_docs if n_docs else None)
        )
        scored = per_doc.crossJoin(F.broadcast(stats))
        fs = F.lit(0.0)
        for i in range(len(qterms)):
            tf = F.col(f"tf{i}").cast("double")
            df = F.col(f"df{i}").cast("double")
            idf = F.log(
                F.lit(1.0)
                + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
            )
            norm = tf + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
            )
            term_score = idf * tf * F.lit(k1 + 1.0) / norm
            fs = fs + F.when(
                F.col(f"tf{i}") > 0,
                term_score * F.coalesce(F.col(f"bo{i}"), F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        per_field_scores.append(
            scored.select(F.col("doc_id").alias(id_col), fs.alias("fscore"))
        )
    allf = per_field_scores[0]
    for p in per_field_scores[1:]:
        allf = allf.unionByName(p)
    return (
        allf.groupBy(id_col)
        .agg(F.round(F.max("fscore"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
