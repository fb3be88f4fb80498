"""Index-served ES-DSL execution (search_indexed) — the same bodies the
scan-based interpreter runs, with full-text leaves resolved against the
incremental posting index (reference entry point C: ES executes every
text clause against its inverted index; _source is fetched for hits
only). Parity contract: byte-identical responses down both paths over
the whole replayed reference corpus AND the targeted construct matrix,
including after tick upserts."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.operators.denorm import (
    film_changeset,
    movie_docs,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import (
    _apply_query,
    _index_candidates,
    search,
    search_frame_indexed,
    search_indexed,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    build_posting_index,
    read_posting_meta,
    upsert_posting_index,
)
from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_movies
from tests import movies_fixtures

REF_COLLECTION = "/root/reference/etl/json/ETLTests-2.json"

needs_ref = pytest.mark.skipif(
    not os.path.exists(REF_COLLECTION), reason="reference repo not mounted"
)


ROWS = [
    # (doc_id, text, source, lang, n_chars)
    (1, "spark shuffles data across the cluster", "web crawl", "en", 120),
    (2, "the join strategy broadcasts small tables", "web crawl", "en", 210),
    (3, "spark joins use hash partitioning", "books", "en", 300),
    (4, "vector embeddings power similarity search", "books", "en", 180),
    (5, "la tabla de datos es muy grande", "wiki", "es", 160),
    (6, "spark streaming handles late data with watermarks", "wiki", "en", 420),
    (7, "hash tables back the aggregation operator", "web crawl", "en", 250),
    (8, "the the a an of", "wiki", "en", 90),  # all stopwords
    (9, "sparks fly when shuffle partitions skew", "books", "en", 310),
    (10, "broadcast joins avoid shuffling the big side", "forum", "en", 270),
]


def _with_tokens(df):
    """Persisted index-time analysis (the analyzed_corpus_cached shape):
    carrying `tokens`/`source_tokens` keeps the giant analyzer
    expression out of every scan-path plan — analyzer parity itself is
    pinned in test_search_index/test_snowball; THIS file pins the
    set-operation candidate resolution."""
    from djangoadmin_postgresql_2_elasticseach_spark.functions.text import analyze

    return df.withColumn("tokens", analyze(F.col("text"))).withColumn(
        "source_tokens", analyze(F.col("source"))
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _with_tokens(
        spark.createDataFrame(
            ROWS,
            "doc_id long, text string, source string, lang string, n_chars long",
        )
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def index_path(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dslidx") / "posting")
    build_posting_index(
        corpus, path, fields=("text", "source"), id_col="doc_id",
        tokens_col={"text": "tokens", "source": "source_tokens"},
    )
    return path


def _normalize(resp: dict) -> dict:
    return json.loads(json.dumps(resp, default=str, sort_keys=True))


def assert_parity(spark, corpus, body, index_path, id_col="doc_id"):
    a = _normalize(search(corpus, body, id_col=id_col))
    b = _normalize(search_indexed(spark, corpus, body, index_path, id_col=id_col))
    assert a == b, f"index-served response diverged for body {body}"
    return a


def test_bool_intersect_anti_residual(spark, corpus, index_path):
    """must(match)∧must(match) intersect via semi-joins, exactly-servable
    must_not anti-joins, the range leaf stays residual — and the split
    is pinned, not just the values."""
    body = {
        "query": {
            "bool": {
                "must": [
                    {"match": {"text": "spark"}},
                    {"match": {"source": "books web"}},
                ],
                "filter": [{"range": {"n_chars": {"gte": 100}}}],
                "must_not": [{"match": {"text": "partitioning"}}],
            }
        },
        "size": 20,
    }
    resp = assert_parity(spark, corpus, body, index_path)
    # musts: docs 1, 3 (spark ∧ (books|web)); must_not drops 3
    assert {h["_id"] for h in resp["hits"]["hits"]} == {"1"}
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is not None
    assert residual == {"bool": {"filter": [{"range": {"n_chars": {"gte": 100}}}]}}


def test_match_leaf_exactly_served(spark, corpus, index_path):
    body = {"query": {"match": {"text": "joins"}}, "size": 20}
    resp = assert_parity(spark, corpus, body, index_path)
    assert resp["hits"]["total"]["value"] >= 2  # docs 3, 10 at least
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is not None and residual is None


def test_match_phrase_leaf_served_from_positions(spark, corpus, index_path):
    body = {"query": {"match_phrase": {"text": "hash partitioning"}}, "size": 20}
    resp = assert_parity(spark, corpus, body, index_path)
    assert resp["hits"]["total"]["value"] == 1
    assert resp["hits"]["hits"][0]["_id"] == "3"


def test_should_union_exactly_servable(spark, corpus, index_path):
    body = {
        "query": {
            "bool": {
                "should": [
                    {"match": {"text": "watermarks"}},
                    {"match": {"source": "forum"}},
                ]
            }
        },
        "size": 20,
    }
    resp = assert_parity(spark, corpus, body, index_path)
    assert resp["hits"]["total"]["value"] == 2  # docs 6 and 10
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is not None and residual is None


def test_should_with_unservable_child_falls_back(spark, corpus, index_path):
    body = {
        "query": {
            "bool": {
                "should": [
                    {"match": {"text": "watermarks"}},
                    {"range": {"n_chars": {"lte": 100}}},
                ]
            }
        },
        "size": 20,
    }
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is None and residual == body["query"]
    assert_parity(spark, corpus, body, index_path)


def test_query_string_explicit_fields_served(spark, corpus, index_path):
    body = {
        "query": {
            "query_string": {
                "query": "similarity OR skew",
                "fields": ["text", "source"],
            }
        },
        "size": 20,
    }
    resp = assert_parity(spark, corpus, body, index_path)
    assert resp["hits"]["total"]["value"] >= 2
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is not None and residual is None


def test_multimatch_fuzzy_superset_rescored(spark, corpus, index_path):
    """multi_match candidates come from the term-dictionary expansion;
    the leaf itself stays residual so the per-doc-local scorer re-runs
    over the pruned rows only — scores and order must be identical."""
    body = {
        "query": {
            "multi_match": {
                "query": "spark joins",
                "fields": ["text", "source"],
                "fuzziness": "auto",
            }
        },
        "size": 20,
    }
    resp = assert_parity(spark, corpus, body, index_path)
    # 'sparks' (doc 9) is one edit from 'spark' — the fuzzy expansion
    # must keep it in the candidate set
    assert "9" in {h["_id"] for h in resp["hits"]["hits"]}
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is not None and residual == body["query"]


def test_all_stopword_match_matches_nothing(spark, corpus, index_path):
    body = {"query": {"match": {"text": "the of an"}}, "size": 20}
    resp = assert_parity(spark, corpus, body, index_path)
    assert resp["hits"]["total"]["value"] == 0


def test_unindexed_field_falls_back(spark, corpus, index_path):
    body = {"query": {"match": {"lang": "en"}}, "size": 20}
    meta = read_posting_meta(index_path)
    cands, residual = _index_candidates(spark, index_path, body["query"], meta)
    assert cands is None and residual == body["query"]
    assert_parity(spark, corpus, body, index_path)


def test_aggregations_run_over_index_pruned_frame(spark, corpus, index_path):
    body = {
        "query": {"match": {"text": "spark"}},
        "size": 0,
        "aggs": {"by_source": {"terms": {"field": "source"}}},
    }
    assert_parity(spark, corpus, body, index_path)


def test_upsert_tick_then_serving_consistent(spark, corpus, tmp_path):
    """After a tick upsert (doc 4 gains the term 'spark', doc 1 loses
    it), the index-served responses track the post-tick corpus exactly
    — the reference's PG→ES loop: search reflects the latest bulk."""
    path = str(tmp_path / "posting")
    build_posting_index(
        corpus, path, fields=("text", "source"), id_col="doc_id",
        tokens_col={"text": "tokens", "source": "source_tokens"},
    )
    changed = _with_tokens(
        corpus.sparkSession.createDataFrame(
            [
                (4, "spark vector embeddings power similarity search", "books", "en", 190),
                (1, "plain shuffles move data across the cluster", "web crawl", "en", 120),
            ],
            "doc_id long, text string, source string, lang string, n_chars long",
        )
    ).localCheckpoint(eager=True)
    upsert_posting_index(
        changed, path, fields=("text", "source"), id_col="doc_id",
        tokens_col={"text": "tokens", "source": "source_tokens"},
    )
    post_corpus = corpus.join(
        changed.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(changed)
    body = {"query": {"match": {"text": "spark"}}, "size": 20}
    resp = assert_parity(spark, post_corpus, body, path)
    ids = {h["_id"] for h in resp["hits"]["hits"]}
    assert "4" in ids and "1" not in ids


@needs_ref
def test_reference_bodies_route_correctly_and_movies_parity(
    spark, tmp_path_factory
):
    """Every reference Postman body routes through `_index_candidates`
    as designed: constructs outside the index's mapping (nested,
    term-on-keyword-id, default-fields query_string, multi_match over
    unindexed array fields, pure aggs) must FALL BACK — search_indexed
    is then `search` by construction, so executing both would compare a
    function with itself; the value is pinning the routing decision.
    The one full execution is the reference's fuzzy multi_match SHAPE
    restricted to the indexed (title, description) mapping — end-to-end
    response parity on the reference-shaped movies corpus, index path
    actually taken."""
    d = str(tmp_path_factory.mktemp("movies_dslidx"))
    movies_fixtures.build(d)
    t = load_movies(spark, d)
    docs = movie_docs(
        film_changeset(
            t["film_work"], t["genre"], t["person"],
            t["genre_film_work"], t["person_film_work"],
        )
    ).localCheckpoint(eager=True)
    path = str(tmp_path_factory.mktemp("movies_dslidx_p") / "posting")
    build_posting_index(
        docs.select(
            "id",
            "title",
            F.coalesce("description", F.lit("")).alias("description"),
        ),
        path,
        fields=("title", "description"),
        id_col="id",
    )
    meta = read_posting_meta(path)
    coll = json.load(open(REF_COLLECTION, encoding="utf-8"))
    routed = 0
    for item in coll.get("item", []):
        raw = item.get("request", {}).get("body", {}).get("raw", "")
        if not raw:
            continue
        body = json.loads(raw)
        q = body.get("query")
        cands, residual = _index_candidates(spark, path, q, meta)
        # none of the reference bodies fits the (title, description)
        # text mapping — each must take the exact-fallback route
        assert cands is None and residual == q, f"unexpected routing: {raw[:80]}"
        routed += 1
    assert routed >= 5
    # the reference's multi_match body shape on the indexed mapping:
    # fuzzy expansion via the term dictionary, re-scored over candidates
    body = {
        "query": {
            "multi_match": {
                "query": "camp",
                "fuzziness": "auto",
                "fields": ["title", "description"],
            }
        },
        "size": 10,
    }
    cands, residual = _index_candidates(spark, path, body["query"], meta)
    assert cands is not None and residual == body["query"]
    assert_parity(spark, docs, body, path, id_col="id")
    # a mapping that ALSO indexes the nested actors.name field (one
    # element_tokens column) makes the reference's nested body — the
    # one remaining text construct — index-servable verbatim
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        element_tokens,
    )

    npath = str(tmp_path_factory.mktemp("movies_dslidx_n") / "posting")
    build_posting_index(
        docs.select(
            "id",
            "title",
            F.coalesce("description", F.lit("")).alias("description"),
        ).join(
            docs.select(
                "id", element_tokens("actors_names").alias("an_tokens")
            ),
            "id",
        ),
        npath,
        fields=("title", "description", "actors.name"),
        id_col="id",
        tokens_col={"actors.name": "an_tokens"},
    )
    nmeta = read_posting_meta(npath)
    nested_body = json.loads(
        [
            item["request"]["body"]["raw"]
            for item in coll.get("item", [])
            if "nested" in item.get("request", {}).get("body", {}).get("raw", "")
        ][0]
    )
    cands, residual = _index_candidates(
        spark, npath, nested_body["query"], nmeta
    )
    assert cands is not None and residual is None
    assert_parity(spark, docs, nested_body, npath, id_col="id")


def test_match_phrase_slop_semantics_and_parity(spark, tmp_path):
    """Ordered sloppy phrase: total inter-term gaps <= slop, in query
    order only (the documented Lucene reordering divergence). Hand
    goldens + scan==index parity + shared budget across 3 terms."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        build_posting_index,
        match_phrase_from_index,
    )
    from djangoadmin_postgresql_2_elasticseach_spark.search.query import (
        match_phrase,
    )

    from djangoadmin_postgresql_2_elasticseach_spark.functions.text import (
        analyze,
    )

    rows = [
        (1, "alpha beta gamma"),            # gaps 0,0
        (2, "alpha gap beta gamma"),        # gaps 1,0
        (3, "alpha gap gap beta gamma"),    # gaps 2,0
        (4, "beta alpha gamma"),            # out of order
        (5, "alpha gap beta gap gamma"),    # gaps 1,1
        (6, "alpha beta"),                  # missing gamma
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    # ONE raw-text case first: the sloppy chain over an IN-PLAN
    # analyzer stream must not blow up Catalyst resolution (the
    # materialize-tokens-once fix in query.match_phrase)
    assert sorted(
        r.doc_id
        for r in match_phrase(raw, "text", "alpha beta", slop=1).collect()
    ) == [1, 2, 5, 6]
    # the rest run over the persisted token column (analysis-at-ingest)
    docs = raw.withColumn("tokens", analyze(F.col("text"))).localCheckpoint(
        eager=True
    )
    p = str(tmp_path / "slopidx")
    build_posting_index(
        docs, p, fields=("text",), id_col="doc_id",
        tokens_col={"text": "tokens"},
    )

    def scan_ids(phrase, slop):
        return sorted(
            r.doc_id for r in match_phrase(docs, "text", phrase, slop=slop).collect()
        )

    def idx_ids(phrase, slop):
        return sorted(
            r.doc_id
            for r in match_phrase_from_index(
                spark, p, phrase, field="text", slop=slop
            ).collect()
        )

    cases = [
        ("alpha beta", 0, [1, 6]),
        ("alpha beta", 1, [1, 2, 5, 6]),
        ("alpha beta", 2, [1, 2, 3, 5, 6]),
        # 3 terms share ONE budget: doc 5 needs 2 (1+1), doc 2 needs 1
        ("alpha beta gamma", 0, [1]),
        ("alpha beta gamma", 1, [1, 2]),
        ("alpha beta gamma", 2, [1, 2, 3, 5]),
        # order is required at any slop (documented divergence)
        ("beta alpha", 0, [4]),
        ("alpha gamma", 1, [1, 4]),
    ]
    for phrase, slop, want in cases:
        assert scan_ids(phrase, slop) == want, (phrase, slop)
        assert idx_ids(phrase, slop) == want, ("index", phrase, slop)


def test_dsl_slop_body_both_paths(spark, corpus, index_path):
    body = {
        "query": {
            "match_phrase": {"text": {"query": "spark partitioning", "slop": 2}}
        },
        "size": 20,
    }
    resp = assert_parity(spark, corpus, body, index_path)
    # doc 3 "spark joins use hash partitioning" — 3 tokens between after
    # analysis? 'spark joins use hash partitioning' -> [spark, join,
    # use, hash, partit...]: gaps = 3 -> slop 2 misses, slop 3 hits
    body3 = {
        "query": {
            "match_phrase": {"text": {"query": "spark partitioning", "slop": 3}}
        },
        "size": 20,
    }
    resp3 = assert_parity(spark, corpus, body3, index_path)
    assert resp3["hits"]["total"]["value"] >= resp["hits"]["total"]["value"]


# ---------------------------------------------------------------------------
# hits.total rides the page query: the count is an observation below
# the sort, the collapse window and the search_after filter, so it must
# equal an independent count() of the matched frame on every page shape
# ---------------------------------------------------------------------------

WIDE_SCHEMA = "doc_id long, text string, source string, lang string, n_chars long"
SHUFFLE = {"match": {"text": "shuffle"}}
STOPWORDS = {"match": {"text": "the of an"}}


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """40 docs over 4 partitions: every page below holds fewer hits than
    the total, so a count that saw only the rows the page needed would
    come out short."""
    rows = [
        (i, f"spark {'shuffle' if i % 2 else 'join'} number {i}",
         f"src{i % 3}", "en", 100 + i)
        for i in range(1, 41)
    ]
    docs = _with_tokens(
        spark.createDataFrame(rows, WIDE_SCHEMA).repartition(4, "doc_id")
    ).localCheckpoint(eager=True)
    assert docs.rdd.getNumPartitions() >= 4
    path = str(tmp_path_factory.mktemp("wideidx") / "posting")
    build_posting_index(
        docs, path, fields=("text", "source"), id_col="doc_id",
        tokens_col={"text": "tokens", "source": "source_tokens"},
    )
    return docs, path


@pytest.mark.parametrize("served", ["scan", "index"])
@pytest.mark.parametrize(
    "body, want_total, want_hits",
    [
        ({"query": SHUFFLE, "from": 5, "size": 3}, 20, 3),
        # counted before the collapse: one hit per source, 40 matches
        ({"query": {"match": {"text": "spark"}},
          "collapse": {"field": "source"}, "size": 10}, 40, 3),
        # counted before the cursor filter
        ({"query": SHUFFLE, "sort": [{"n_chars": "asc"}],
          "search_after": [110, 10], "size": 3}, 20, 3),
        # a null cursor: the optimizer proves the page empty and drops
        # the observation with it — the total must survive (its page is
        # not pinned)
        ({"query": SHUFFLE, "sort": [{"n_chars": "asc"}],
          "search_after": [None, 10], "size": 3}, 20, None),
        # a scored frame, ranked only by the page's top-k
        ({"query": {"multi_match": {"query": "shufle", "fields": ["text"],
                                    "fuzziness": "auto"}}, "size": 3}, 20, 3),
        ({"query": STOPWORDS, "size": 3}, 0, 0),
        ({"query": STOPWORDS, "from": 2, "size": 3}, 0, 0),
        ({"query": STOPWORDS, "collapse": {"field": "source"}, "size": 3}, 0, 0),
        ({"query": SHUFFLE, "size": 0}, 20, 0),
    ],
    ids=[
        "from", "collapse", "search_after", "search_after_null", "fuzzy",
        "stopwords", "stopwords_from", "stopwords_collapse", "size0",
    ],
)
def test_total_equals_independent_count(
    spark, wide, served, body, want_total, want_hits
):
    docs, path = wide
    if served == "index":
        resp = search_indexed(spark, docs, body, path, id_col="doc_id")
        frame, _ = search_frame_indexed(
            spark, docs, body["query"], path, "doc_id"
        )
    else:
        resp = search(docs, body, id_col="doc_id")
        frame, _ = _apply_query(docs, body["query"], "doc_id")
    assert frame.count() == want_total
    assert resp["hits"]["total"]["value"] == want_total
    if want_hits is not None:
        assert len(resp["hits"]["hits"]) == want_hits


def test_match_response_spark_job_budget(spark, wide):
    """An index-served match response is one page action: hits.total
    rides it as an observation instead of a count() that re-runs the
    candidate probe, the semi-join and the docstore read. Pinned at the
    one-pass job count, so a second pass cannot creep back. Job ids are
    global and monotonic, so the count is the id delta between two
    probe jobs (the tick budget test in test_index_v2.py does the same)."""
    import uuid

    sc = spark.sparkContext

    def probe_id():
        g = f"probe-{uuid.uuid4()}"
        sc.setJobGroup(g, g)
        spark.range(1).count()
        sc.setJobGroup("other", "other")
        return max(sc.statusTracker().getJobIdsForGroup(g))

    docs, path = wide
    body = {"query": SHUFFLE, "size": 3}
    n0 = probe_id()
    resp = search_indexed(spark, docs, body, path, id_col="doc_id")
    jobs = probe_id() - n0 - 1
    assert resp["hits"]["total"]["value"] == 20
    # one page action: candidate probe, semi-join and docstore read
    # (the two-pass response took 9)
    assert jobs <= 5, f"match response job budget blown: {jobs}"


def test_total_exact_over_sort_merge_join(spark, wide):
    """With broadcasts off the candidate semi-join is a sort-merge join,
    whose output is sorted by doc_id within each partition — already in
    a match page's order, which lets a top-k stop after `size` rows a
    partition. The total must still count every match."""
    docs, path = wide
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        resp = search_indexed(
            spark, docs, {"query": SHUFFLE, "size": 3}, path, id_col="doc_id"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert resp["hits"]["total"]["value"] == 20
    assert [h["_id"] for h in resp["hits"]["hits"]] == ["1", "3", "5"]
