"""Hybrid lexical+vector retrieval via reciprocal-rank fusion (RRF).

The reference serves purely lexical search (ES BM25 over the ru_en
analyzer, etl/json/es_movies.json); a training-data/RAG pipeline at
100 TB pairs that with embedding retrieval. RRF is the standard
score-free fusion (Cormack/Clarke/Buettcher, SIGIR'09; ES exposes the
same `rrf` retriever): each ranked list contributes 1/(k0 + rank), so
wildly different score scales (BM25 vs cosine) never need calibration.

Plan shape — both branches end in TakeOrderedAndProject (k rows each),
so the fusion join is a ≤(k_lex + k_vec)-row frame: rank assignment and
the full-outer merge are driver-trivial no matter the corpus size. At
100 TB the expensive parts are exactly the two retrievals, each already
scale-shaped (BM25 over the persisted analyzed index, ANN via the IVF
index); fusion adds nothing to the shuffle budget.

Determinism: ranks are integers; 1/(k0+rank) sums identically in IEEE
double on any engine; output rounded to 6dp with id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60  # the constant from the RRF paper; ES uses the same default


def rank_of(
    topk: DataFrame, order_col: str, id_col: str, ascending: bool = False
) -> DataFrame:
    """Attach 1-based rank to an already-LIMITed top-k frame.

    The single-partition Window is deliberate and safe: the input is a
    top-k result (k rows), never a corpus-sized frame. ``ascending``
    ranks distances (smaller = better) instead of scores.
    """
    order = F.asc(order_col) if ascending else F.desc(order_col)
    w = Window.orderBy(order, F.col(id_col))
    return topk.select(
        F.col(id_col), F.row_number().over(w).alias("rank")
    )


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    k0: int = RRF_K,
) -> DataFrame:
    """Fuse ranked lists (each (id, rank)) into top-k by RRF score.

    score(d) = Σ_lists 1/(k0 + rank_list(d)), lists where d is absent
    contribute 0. Returns (id_col, rrf_score) ordered desc, id tiebreak.
    """
    if not ranked:
        raise ValueError("no ranked lists to fuse")
    merged = None
    for i, r in enumerate(ranked):
        branch = r.select(
            F.col(r.columns[0]).alias(id_col),
            (F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))).alias(f"c{i}"),
        )
        merged = (
            branch
            if merged is None
            else merged.join(branch, id_col, "full_outer")
        )
    score = None
    for i in range(len(ranked)):
        c = F.coalesce(F.col(f"c{i}"), F.lit(0.0))
        score = c if score is None else score + c
    return (
        merged.select(
            F.col(id_col), F.round(score, 6).alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    k_branch: int = 20,
    k0: int = RRF_K,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """BM25 top-k_branch ∪ cosine top-k_branch → RRF top-k.

    `emb`'s id column is taken to identify the same document as
    `docs[doc_id_col]` (the testdata embeddings are keyed 1:1 to
    documents). Returns (doc_id, rrf_score).
    """
    from ..operators.similarity import brute_force_topk
    from .bm25 import bm25_topk

    lex = rank_of(
        bm25_topk(docs, query_text, id_col=doc_id_col, k=k_branch),
        "score",
        doc_id_col,
    )
    vec = rank_of(
        brute_force_topk(emb, query_vec, k=k_branch, id_col=vec_id_col),
        "cos_sim",
        vec_id_col,
    )
    return rrf_fuse([lex, vec], id_col=doc_id_col, k=k, k0=k0)


def hybrid_topk_indexed(
    spark,
    posting_path: str,
    ivfpq_path: str,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    k_branch: int = 20,
    k0: int = RRF_K,
    probe_hamming: int = 1,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """The FULLY INDEX-RESIDENT hybrid retrieval serve: lexical branch
    = BM25 off the persisted posting index (dl on the posting rows —
    the pruned bucket probe is the whole read), vector branch = ADC off the
    persisted IVF-PQ index (partition-pruned bucket probe, quantizers
    from the sidecar), fused by RRF. NEITHER branch touches a corpus
    or float table — this is the 100 TB serving shape: two
    index-directory probes, each ending in TakeOrderedAndProject, and
    a ≤(2·k_branch)-row fusion join (ES's `rrf` retriever over its own
    index tiers). Both branch rankings are pinned to their one-shot
    oracles elsewhere; the fusion arithmetic is integer-rank exact.

    `emb`'s vec_id is taken to key the same documents as the posting
    index's doc_id (the testdata 1:1 contract, same as hybrid_topk).
    Returns (doc_id, rrf_score) top-k, 6dp, id tiebreak."""
    from ..operators.similarity import _ivfpq_meta, ivfpq_query_indexed
    from .bm25 import bm25_topk_from_index

    lex = rank_of(
        bm25_topk_from_index(
            spark, posting_path, query_text, id_col=doc_id_col, k=k_branch
        ),
        "score",
        doc_id_col,
    )
    meta = _ivfpq_meta(ivfpq_path)
    vec = rank_of(
        ivfpq_query_indexed(
            spark, ivfpq_path, meta["codebooks"], query_vec,
            meta["planes"], k=k_branch, probe_hamming=probe_hamming,
            id_col="vec_id",
        ),
        "approx_dist",
        "vec_id",
        ascending=True,  # ADC is a distance: smaller = better
    )
    return rrf_fuse([lex, vec], id_col=doc_id_col, k=k, k0=k0)
