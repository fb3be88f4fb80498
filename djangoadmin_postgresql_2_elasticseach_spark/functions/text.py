"""Text-analysis chain — the Spark realization of the reference's
``ru_en`` Elasticsearch analyzer (reference ``etl/json/es_movies.json:4-40``:
standard tokenizer → lowercase → en/ru stopwords → en stemmer →
en possessive stemmer → ru stemmer).

Everything is a native Column expression (regexp split, higher-order
filter/transform) so the chain stays inside whole-stage codegen.
Stemming is the FULL Snowball pair (Porter2 english + snowball russian)
from functions/snowball.py, emitted as one F.transform stage per stemmer
step with per-token script-dispatch gates — deterministic, JVM-side, and
reproduced verbatim in the DuckDB oracle from the same stage functions.

Where stemming runs: the posting index's write path
(search/index.py:_posting_partials) calls ``analyze(stem=False)`` and
stems the batch's distinct tokens on the driver with ``snowball.stem``,
so its plans carry no stemmer expression; queries stem in Python too
(search/query.py:analyze_query). The in-plan stemmer chain below serves
the corpus operators and the analyzed-doc tables.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Unicode-aware token boundary: any run of non-letter/digit characters.
TOKEN_SPLIT_RE = r"[^\p{L}\p{Nd}]+"

# The COMPLETE Lucene `_english_` stopword set (33 words — Lucene
# EnglishAnalyzer's default stop set; reference es_movies.json:9-13 names
# it as `_english_`).
EN_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
]
# The COMPLETE Lucene `_russian_` stopword set (the Snowball russian stop
# list Lucene ships as russian_stop.txt; reference es_movies.json:14-18
# names it as `_russian_`).
RU_STOPWORDS = [
    "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как", "а",
    "то", "все", "она", "так", "его", "но", "да", "ты", "к", "у", "же",
    "вы", "за", "бы", "по", "только", "ее", "мне", "было", "вот", "от",
    "меня", "еще", "нет", "о", "из", "ему", "теперь", "когда", "даже",
    "ну", "вдруг", "ли", "если", "уже", "или", "ни", "быть", "был",
    "него", "до", "вас", "нибудь", "опять", "уж", "вам", "ведь", "там",
    "потом", "себя", "ничего", "ей", "может", "они", "тут", "где",
    "есть", "надо", "ней", "для", "мы", "тебя", "их", "чем", "была",
    "сам", "чтоб", "без", "будто", "чего", "раз", "тоже", "себе", "под",
    "будет", "ж", "тогда", "кто", "этот", "того", "потому", "этого",
    "какой", "совсем", "ним", "здесь", "этом", "один", "почти", "мой",
    "тем", "чтобы", "нее", "сейчас", "были", "куда", "зачем", "всех",
    "никогда", "можно", "при", "наконец", "два", "об", "другой", "хоть",
    "после", "над", "больше", "тот", "через", "эти", "нас", "про",
    "всего", "них", "какая", "много", "разве", "три", "эту", "моя",
    "впрочем", "хорошо", "свою", "этой", "перед", "иногда", "лучше",
    "чуть", "том", "нельзя", "такой", "им", "более", "всегда", "конечно",
    "всю", "между",
]
ALL_STOPWORDS = EN_STOPWORDS + RU_STOPWORDS

# Stemming is the full Snowball pair (Porter2 english + snowball
# russian) from functions/snowball.py — the same algorithms Lucene's
# english_stemmer/russian_stemmer filters are generated from (reference
# es_movies.json:10-33). The possessive stemmer of the reference chain
# is a structural no-op here: the tokenizer splits on apostrophes.


def tokenize(col: Column | str) -> Column:
    """lowercase + split on non-alphanumeric runs, drop empty tokens.

    Matches the oracle expression
    ``list_filter(regexp_split_to_array(lower(x), '[^\\p{L}\\p{Nd}]+'), t -> t <> '')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: t != "")


def remove_stopwords(tokens: Column, stopwords: list[str] | None = None) -> Column:
    """Drop stopword tokens (order-preserving) — the analyzer's en/ru
    stop filters."""
    sw = F.array(*[F.lit(s) for s in (stopwords or ALL_STOPWORDS)])
    return F.filter(tokens, lambda t: ~F.array_contains(sw, t))


def stem_token(t: Column) -> Column:
    """Full snowball stem (Porter2 en, then snowball ru — the reference
    filter order) of a single token Column.

    PRECONDITION: input must be an analyzer token (lowercased, produced
    by ``tokenize`` — no punctuation). The stages communicate in-band
    with ``!``/``#``/``%`` prefix markers (snowball.py module
    docstring); a raw string starting with one of those characters would
    be mistaken for a marked intermediate (its first char silently
    stripped or stemming skipped). ``tokenize`` can never emit such a
    token, but callers feeding arbitrary strings must clean them first.
    """
    from . import snowball

    return snowball.stem_token_column(t)


def stem_tokens(toks: Column) -> Column:
    """Snowball-stem every element of a token-array Column (one
    F.transform per stemmer stage — stays JVM-side).

    Same PRECONDITION as ``stem_token``: elements must be ``tokenize``
    output (the in-band ``!``/``#``/``%`` marker scheme is unambiguous
    only on punctuation-free lowercase tokens)."""
    from . import snowball

    return snowball.stem_array_column(toks)


def stem_sql(arr_sql: str) -> str:
    """The SAME stemmer chain as DuckDB SQL over an array expression —
    emitted from the identical stage functions (functions/snowball.py),
    so oracle and engine cannot drift."""
    from . import snowball

    return snowball.stem_array_sql(arr_sql)


def _tokenize_sql(col_sql: str) -> str:
    """``tokenize`` as Spark SQL text over a string expression — parses
    to the same split/lower/filter tree the Column form builds."""
    from .snowball import _spark_str

    return (
        f"filter(split(lower({col_sql}), {_spark_str(TOKEN_SPLIT_RE)}), "
        "sbt -> sbt != '')"
    )


def _stopwords_sql(arr_sql: str) -> str:
    """``remove_stopwords`` (full en+ru stop set) as Spark SQL text."""
    from .snowball import _spark_str

    sw = ", ".join(_spark_str(s) for s in ALL_STOPWORDS)
    return (
        f"filter({arr_sql}, sbs -> NOT array_contains(array({sw}), sbs))"
    )


def analyze(col: Column | str, stem: bool = True) -> Column:
    """Full ru_en analyzer chain → array<string> of analyzed tokens.

    ``col`` as a SQL fragment (a backtick-quoted column name or any
    string-typed SQL expression) takes the ONE-parse path: the whole
    chain — tokenizer, stop sets, and the full Snowball pair — is
    emitted as a single SQL string (~10 ms of Python) and parsed
    server-side by ``F.expr`` in ONE py4j call (~0.1 s). The Column
    form builds the same tree through tens of thousands of py4j
    round-trips (~10-60 s of driver time per fresh process — it was
    the engine's single largest plan-construction cost, paid by every
    cold process that touches the analyzer). Identical output: each
    emitter stage maps to the same Catalyst expression, pinned
    bit-for-bit over the full corpus + the published Snowball
    vocabularies (tests/test_unicode_tokens.py::test_analyze_sql_parity,
    tests/test_snowball.py). Column inputs (e.g. a higher-order lambda
    variable) keep the Column path."""
    if isinstance(col, str):
        from .snowball import stem_array_spark_sql

        sql = _stopwords_sql(_tokenize_sql(col))
        if stem:
            sql = stem_array_spark_sql(sql)
        return F.expr(sql)
    toks = remove_stopwords(tokenize(col))
    if stem:
        toks = stem_tokens(toks)
    return toks


def token_bigrams(toks: Column, as_struct: bool = False) -> Column:
    """Adjacent token pairs of a token array (empty array below 2
    tokens) — the ONE definition of "bigram" shared by top_bigrams,
    bigram_pmi, and repetition_stats, so a tokenizer or boundary change
    lands everywhere at once. String form joins with a single space
    (tokens never contain spaces — tokenize splits on non-alphanumerics);
    struct form keeps (a, b) separate for per-side count joins."""
    n = F.size(toks)
    if as_struct:
        def pair(i):
            return F.struct(
                F.element_at(toks, i).alias("a"),
                F.element_at(toks, i + 1).alias("b"),
            )

        empty = F.array().cast("array<struct<a:string,b:string>>")
    else:
        def pair(i):
            return F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            )

        empty = F.array().cast("array<string>")
    return F.when(n >= 2, F.transform(F.sequence(F.lit(1), n - 1), pair)).otherwise(
        empty
    )


def winnow_fingerprints(toks: Column, k: int = 8, w: int = 16) -> Column:
    """Winnowing fingerprints of a token array (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every k-token gram,
    then keep the MINIMUM hash of each w-gram window, distinct. The
    winnowing guarantee: two documents sharing a verbatim token run of
    ≥ w+k-1 tokens (23 at the defaults) ALWAYS share at least one
    fingerprint — exact-substring duplicate detection with ~n/w
    fingerprints per doc instead of n (the suffix-array result of Lee
    et al. 2022 "Deduplicating Training Data Makes Language Models
    Better", re-expressed as a per-row column expression + equi-join
    instead of a monolithic offline index).

    Docs with ≥1 gram but fewer than w windows contribute their single
    global-min fingerprint; docs under k tokens contribute none. Gram
    hash = first 8 md5 hex chars of the space-joined gram as a long —
    the same engine-portable construction as the MinHash family.

    PERF: this composed single-expression form re-evaluates the gram
    array in each WHEN branch — fine for a one-off column, 10× too slow
    on a corpus scan. Hot-path callers (duplicated_passage_pairs) stage
    `gram_hashes` and `winnow_from_grams` through separate projections
    so each array is computed once per row (measured 13.9 s → 1.0 s on
    the 5k-doc bench corpus)."""
    return winnow_from_grams(gram_hashes(toks, k), w)


def gram_hashes(toks: Column, k: int = 8) -> Column:
    """array<long> of k-token-gram hashes (empty under k tokens) — the
    winnowing input. One md5 per gram position."""
    n = F.size(toks)

    def gram_hash(i):
        return F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 8), 16, 10
        ).cast("long")

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - k + 1), gram_hash)
    ).otherwise(F.array().cast("array<long>"))


def winnow_from_grams(grams: Column, w: int = 16) -> Column:
    """Distinct per-window minima of a gram-hash array — the winnowing
    selection step. Bind `grams` to a NAMED column (separate select)
    before calling when the input expression is expensive; the three
    branches below each reference it."""
    ng = F.size(grams)
    return (
        F.when(
            ng >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), ng - w + 1),
                    lambda i: F.array_min(F.slice(grams, i, w)),
                )
            ),
        )
        .when(ng >= 1, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<long>"))
    )


def word_shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) of an ALREADY
    MATERIALIZED token-array column.

    Callers must pre-project the token array into its own select
    (`.select(tokenize(c).alias("_w")).select(word_shingles_of(F.col("_w")))`):
    passing `tokenize(...)` directly embeds the full split expression
    inside the transform lambda, where Spark does not hoist loop
    invariants — the tokenizer re-runs per shingle index, O(tokens²)
    per document (measured 7.7 s vs 1.2 s on the sf0.1 corpus). The
    projection boundary survives CollapseProject because the alias is
    referenced more than once."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(toks, i + 1, n)
        ),
    )
    return F.array_distinct(grams)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) of the lowercased
    tokenized text — the dedup shingle unit.

    Word-level shingles stay distinctive even for small-vocabulary
    corpora (character n-grams of such corpora all collide, turning the
    LSH posting lists into hot keys — a skew trap at scale).

    PERFORMANCE: this inline form re-evaluates the tokenizer per
    shingle index (O(tokens²) per doc — see word_shingles_of). Keep it
    for oracle-twin expression parity on SMALL frames; hot paths must
    pre-project the token array and call word_shingles_of."""
    return word_shingles_of(tokenize(col), n)


def char_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of the whitespace-normalized lowercase
    text — the shingle set for Jaccard / MinHash dedup.

    Native expression: sequence(1, len-n+1) → transform(substring) →
    array_distinct. Stays JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(c), r"\s+", " ")
    # sequence(a, b) counts DOWN when a > b — guard the short-string case.
    idx = F.when(
        F.length(norm) >= n, F.sequence(F.lit(1), F.length(norm) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: norm.substr(i, F.lit(n)))
    return F.array_distinct(grams)
