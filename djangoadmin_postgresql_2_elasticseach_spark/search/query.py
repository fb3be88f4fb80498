"""Search queries — the reference's ES query-DSL surface (SURVEY §2.9)
over the `documents` table / denormalized doc frames.

Implements: term query (T3), match with analyzer (T1/T5), fuzzy
multi_match with deterministic scoring + top-k ranking (T2/O5), nested
query (T4 — see operators/relational.nested_exists), terms agg (T6 — see
operators/relational.terms_agg_parts), match-all+size (T7 = .limit).

ANALYZER-FAITHFUL since r5: ES runs the field's analyzer on BOTH the
indexed text and the query (reference es_movies.json ru_en chain:
tokenize → stopwords → snowball en+ru), so match/multi_match here
analyze both sides with the FULL chain too — replaying the reference's
Postman goldens against its real postgres dataset exposed the bare-
tokenize divergence (query_string "N//A": 587 hits tokenized vs the
reference's 7 analyzed — tests/test_reference_data_parity.py).

Scoring is deliberately NOT a BM25 clone (SURVEY §7 risk register: ES
scores are not replicable bit-for-bit); it is a documented deterministic
scheme: score = 3·exact-token hits + 1·fuzzy (levenshtein≤1) hits,
tie-broken by id. Goldens come from the DuckDB oracle, not from ES.
(``bm25.multi_match_bm25`` is the ES-ranking-shaped counterpart.)

Scale: token arrays are computed in-scan (native expressions inside
whole-stage codegen); for a served index the analyzed-token column is
materialized at write time so queries skip re-analysis — the Spark
equivalent of ES's inverted index build. Pass ``tokens_col`` /
``*_tokens`` columns (search/index.analyzed_corpus_cached) to consume
the persisted artifact instead of re-analyzing in-query.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ALL_STOPWORDS, analyze

# Python twin of functions.text.tokenize for the query string itself —
# the same analyzer must hit both sides of the match (ES analyzes the
# query with the field's analyzer too).
_QUERY_SPLIT = re.compile(r"[^0-9a-zA-ZЀ-ӿ]+")
_STOPSET = frozenset(ALL_STOPWORDS)


def query_tokens(query: str) -> list[str]:
    """Tokenizer-only query split (lowercase, non-alphanumeric breaks)."""
    return [t for t in _QUERY_SPLIT.split(query.lower()) if t]


def analyze_query(query: str, stem: bool = True) -> list[str]:
    """FULL-analyzer query tokens: tokenize → stopword filter →
    snowball stem — the python twin of ``functions.text.analyze``, so
    the query goes through exactly what the indexed text went through.
    ``stem=False`` mirrors an index built with ``stem=False`` (the
    serving side MUST match the index's analyzer, search/index.py)."""
    from ..functions.snowball import stem as _stem

    toks = [t for t in query_tokens(query) if t not in _STOPSET]
    return [_stem(t) for t in toks] if stem else toks


def damerau_variants(term: str) -> list[str]:
    """Adjacent-transposition variants of a literal query term — the
    strings at Damerau/OSA distance exactly 1 from ``term`` that plain
    levenshtein counts as 2 edits. ES ``fuzziness`` defaults to
    ``transpositions: true`` (a swap of two adjacent characters costs
    ONE edit), which ``F.levenshtein`` alone misses; enumerating the
    len-1 swap variants of the QUERY term (a literal) turns the gap
    into a cheap IN-list probe against index tokens.

    Ruled-out note (r6 audit, reference etl/json/ETLTests-2.json
    fuzzy-"camp" golden): on the reference's real 999-film dump NO
    analyzed corpus token is an adjacent transposition of 'camp'
    (acmp/cmap/capm all absent), so OSA≤1 ≡ levenshtein≤1 there and
    the 23-vs-24 divergence is NOT a transposition artifact — see
    tests/test_reference_data_parity.py for the full enumeration.
    """
    out: list[str] = []
    seen = {term}
    for i in range(len(term) - 1):
        if term[i] != term[i + 1]:
            s = term[:i] + term[i + 1] + term[i] + term[i + 2 :]
            if s not in seen:
                seen.add(s)
                out.append(s)
    return out


def fuzzy_cond(x: F.Column, term: str, max_edits: int) -> F.Column:
    """Boolean Column: token ``x`` within OSA (Damerau with
    non-overlapping transpositions — ES ``transpositions: true``)
    distance ``max_edits`` of the literal ``term``.

    ``levenshtein(x, term) <= k`` plus, for the transposition-as-one-
    edit cases, ``lev(x, swap(term)) <= k-1`` per adjacent-swap variant
    (equality when k==1). Exact for k <= 1; for k >= 2 covers one
    transposition + (k-1) classic edits but not two transpositions —
    every call site here uses k=1 (ES AUTO for the reference's 3-5 char
    query terms).
    """
    cond = F.levenshtein(x, F.lit(term), max_edits) >= 0
    if max_edits >= 1:
        variants = damerau_variants(term)
        if variants:
            if max_edits == 1:
                cond = cond | x.isin(variants)
            else:
                for s in variants:
                    cond = cond | (
                        F.levenshtein(x, F.lit(s), max_edits - 1) >= 0
                    )
    return cond


def fuzzy_distance(x: F.Column, term: str, max_edits: int) -> F.Column:
    """OSA distance of token ``x`` from literal ``term`` as a Column,
    NULL when past ``max_edits`` — the distance twin of ``fuzzy_cond``
    for scorers that weight by edit distance (bm25 fuzzy boost)."""
    lev = F.levenshtein(x, F.lit(term), max_edits)
    cands = [F.when(lev >= 0, lev)]
    if max_edits >= 1:
        for s in damerau_variants(term):
            if max_edits == 1:
                cands.append(F.when(x == F.lit(s), F.lit(1)))
            else:
                l2 = F.levenshtein(x, F.lit(s), max_edits - 1)
                cands.append(F.when(l2 >= 0, l2 + 1))
    return F.least(*cands) if len(cands) > 1 else cands[0]


def field_tokens(docs: DataFrame, field: str):
    """Analyzed token-array expression for ``field``: the persisted
    ``<field>_tokens`` column when the frame carries one (index-time
    analysis), else the analyzer chain in-scan. Array fields analyze
    each element and flatten (ES multi-valued field semantics)."""
    dtypes = dict(docs.dtypes)
    tok_col = "tokens" if field == "text" and "tokens" in dtypes else f"{field}_tokens"
    if tok_col in dtypes:
        return F.col(tok_col)
    if dtypes.get(field, "").startswith("array"):
        return F.flatten(F.transform(F.col(field), lambda e: analyze(e)))
    return analyze(f"`{field}`")


def term_query(docs: DataFrame, field: str, value: str) -> DataFrame:
    """Exact keyword match (reference ETLTests-2.json:220 term query)."""
    return docs.filter(F.col(field) == F.lit(value))


def match_query(
    docs: DataFrame, field: str, query: str, text_col: str | None = None
) -> DataFrame:
    """Analyzed single-field match (ES ``match``, default OR operator):
    any ANALYZED query token present in the ANALYZED field tokens."""
    toks = field_tokens(docs, text_col or field)
    qtoks = analyze_query(query)
    cond = None
    for t in qtoks:
        c = F.array_contains(toks, t)
        cond = c if cond is None else (cond | c)
    return docs.filter(cond if cond is not None else F.lit(False))


def multi_match_fuzzy(
    docs: DataFrame,
    query: str,
    fields: list[tuple[str, float]],
    id_col: str = "doc_id",
    k: int = 20,
    max_edits: int = 1,
) -> DataFrame:
    """Fuzzy multi_match + relevance top-k (reference ETLTests-2.json:123
    `multi_match` with fuzziness:auto over 5 fields): the
    ``multi_match_scores`` rows ranked by (score desc, id asc)."""
    scored = multi_match_scores(docs, query, fields, max_edits=max_edits)
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def multi_match_scores(
    docs: DataFrame,
    query: str,
    fields: list[tuple[str, float]],
    max_edits: int = 1,
) -> DataFrame:
    """Every doc the multi_match hits, with its ``score`` column, unsorted.

    score = Σ_fields weight · (3·#exact-token-hits + 1·#fuzzy-hits)
    where fuzzy = OSA/Damerau distance ≤ max_edits (and not exact) —
    transpositions count as ONE edit, matching ES ``fuzziness`` with
    its default ``transpositions: true`` (see ``fuzzy_cond``).
    Deterministic and oracle-reproducible.

    ``max_edits=0`` is exact-only: the fuzzy term is SKIPPED entirely
    (not levenshtein≤0 — that predicate still costs a scan of every
    token), so a non-fuzzy multi_match can never match a doc with zero
    exact hits.
    """
    from ..plans.tuning import spread

    docs = spread(docs)  # levenshtein×tokens is CPU-bound; see tuning.py
    score = F.lit(0.0)
    qtoks = analyze_query(query)
    for field, weight in fields:
        # NULL field → empty token set, NOT a NULL score: a single null
        # field must not poison the whole sum (real-data regression —
        # the reference's "Star Camp" golden doc has a NULL description
        # and must still win on its title match)
        toks = F.coalesce(
            F.array_distinct(field_tokens(docs, field)),
            F.array().cast("array<string>"),
        )
        for t in qtoks:
            exact = F.array_contains(toks, t).cast("int")
            if max_edits > 0:
                # threshold-bounded OSA: banded levenshtein (early-exit
                # DP) OR the query term's adjacent-transposition
                # variants — ES transpositions:true semantics
                fuzzy = (
                    F.size(
                        F.filter(
                            toks,
                            lambda x: fuzzy_cond(x, t, max_edits)
                            & (x != F.lit(t)),
                        )
                    )
                    > 0
                ).cast("int")
                score = score + F.lit(weight) * (3 * exact + 1 * fuzzy)
            else:
                score = score + F.lit(weight) * (3 * exact)
    return docs.withColumn("score", score).filter(F.col("score") > 0)


def phrase_condition(toks, terms: list[str], slop: int = 0):
    """Boolean Column: the analyzed ``terms`` occur IN ORDER in the
    token-array expression ``toks`` with at most ``slop`` total
    position gaps — the single source of phrase semantics for both
    ``match_phrase`` and the DSL interpreter's ``match_phrase`` branch.

    slop=0 is the consecutive fast path: one native expression — no
    explode, no join: ``exists(start positions, all terms line up from
    start)``. ``F.get`` (0-based, NULL past the end) keeps the probe
    ANSI-safe when the document is shorter than the phrase (the
    descending start sequence it produces then yields only NULL probes
    → false).

    slop>0 is the ordered window match: an increasing position chain
    p0<p1<…<p_{n-1}, term i at p_i, with p_{n-1} − p0 ≤ n−1+slop
    (total inter-term gaps ≤ slop). The chain is found GREEDILY —
    each step takes the smallest matching position after the previous
    one, which is optimal for the ordered criterion, so the whole
    check is one nested native expression per start position.
    Documented divergence from Lucene's SloppyPhraseScorer: ES slop
    also buys REORDERING (a transposition costs 2 slop); this
    implementation matches in query order only — same spirit as the
    stopword-gap divergence, and mirrored exactly by the DuckDB
    oracle."""
    import functools
    import operator

    if not terms:
        raise ValueError("empty phrase after analysis")
    n = len(terms)
    if slop <= 0:
        starts = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
        aligned = F.exists(
            starts,
            lambda i: functools.reduce(
                operator.and_,
                [
                    F.get(toks, i + F.lit(j)) == F.lit(t)
                    for j, t in enumerate(terms)
                ],
            ),
        )
        return (F.size(toks) >= n) & aligned

    idxs = F.sequence(F.lit(0), F.size(toks) - F.lit(1))

    def _positions_of(term):
        # single-arg lambda factory: a 2-arg lambda would be read by
        # F.filter as (element, index) and silently change semantics
        return F.filter(idxs, lambda i: F.get(toks, i) == F.lit(term))

    positions = [_positions_of(t) for t in terms]
    return (F.size(toks) >= n) & _sloppy_chain(positions, n, slop)


def _min_after(arr, p):
    """Smallest element of ``arr`` strictly after ``p`` (NULL if none)
    — the greedy step of the ordered sloppy chain."""
    return F.array_min(F.filter(arr, lambda x: x > p))


def _sloppy_chain(positions: list, n: int, slop: int):
    """exists(p0 ∈ positions[0], greedy chain through positions[1..]
    stays inside the n−1+slop window). Shared by the corpus-scan
    phrase and the positional-postings serving path (identical
    semantics by construction). array_min of an empty filter is NULL,
    which nulls the window comparison → false — ANSI-safe."""
    def chain(p0):
        prev = p0
        for j in range(1, n):
            prev = _min_after(positions[j], prev)
        if n == 1:
            return F.lit(True)
        return prev.isNotNull() & (prev <= p0 + F.lit(n - 1 + slop))

    return F.exists(positions[0], chain)


def match_phrase(
    docs: DataFrame, field: str, phrase: str, slop: int = 0
) -> DataFrame:
    """ES ``match_phrase``: the ANALYZED query terms must occur in
    order in the field's analyzed token stream, consecutively at the
    default ``slop=0`` or within ``slop`` total position gaps (see
    phrase_condition for the ordered-slop contract and the documented
    reordering divergence). Returns the matching rows with the input
    frame's full schema (callers project).

    Documented divergence from ES: the analyzer chain REMOVES stopwords
    without leaving position gaps, so a phrase spanning a stopword
    ("hash the table" → [hash, tabl]) matches text where the stopword
    was likewise removed. ES with position increments would require
    slop≥1 there; our semantics equal ES on stopword-free phrases and
    are mirrored exactly by the DuckDB oracle.
    """
    qt = analyze_query(phrase)
    if slop <= 0:
        return docs.filter(
            phrase_condition(field_tokens(docs, field), qt, slop=0)
        )
    # slop>0 references the token stream once PER TERM and once per
    # greedy step — materialize it as a column first, or the in-plan
    # analyzer expression is duplicated into every reference and the
    # resolved tree explodes (Catalyst max-iterations)
    tmp = docs.withColumn("__mp_tokens", field_tokens(docs, field))
    return tmp.filter(
        phrase_condition(F.col("__mp_tokens"), qt, slop=slop)
    ).drop("__mp_tokens")
