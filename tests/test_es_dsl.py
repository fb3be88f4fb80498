"""ES query-DSL interpreter driven by the reference's ACTUAL Postman
query bodies (etl/json/ETLTests-2.json) against the movies fixture —
the reference's entry point C (search over ES) on our engine, with
goldens re-derived for the synthetic corpus (SURVEY §5.2)."""

from __future__ import annotations

import json
import os

import pytest

from djangoadmin_postgresql_2_elasticseach_spark.operators.denorm import (
    film_changeset,
    movie_docs,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import search
from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_movies
from tests import movies_fixtures
from tests.movies_fixtures import _u

REF_COLLECTION = "/root/reference/etl/json/ETLTests-2.json"


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("movies_dsl"))
    movies_fixtures.build(d)
    t = load_movies(spark, d)
    return movie_docs(
        film_changeset(
            t["film_work"], t["genre"], t["person"],
            t["genre_film_work"], t["person_film_work"],
        )
    ).cache()


def _ref_bodies() -> dict[str, dict]:
    """The reference's raw request bodies, keyed by a stable slug."""
    coll = json.load(open(REF_COLLECTION, encoding="utf-8"))
    out = {}
    for i, item in enumerate(coll.get("item", [])):
        raw = item.get("request", {}).get("body", {}).get("raw", "")
        if raw:
            out[f"item{i}"] = json.loads(raw)
    return out


needs_ref = pytest.mark.skipif(
    not os.path.exists(REF_COLLECTION), reason="reference repo not mounted"
)


def test_match_all_total(docs):
    # Postman item 1: GET _search → total count (reference golden: 999)
    resp = search(docs, {"query": {"match_all": {}}, "size": 0})
    assert resp["hits"]["total"]["value"] == 10


@needs_ref
def test_reference_query_string_body(docs):
    # item 2: {"query_string": {"query": "N//A"}} — tokens n, a
    body = _ref_bodies()["item1"]
    resp = search(docs, body)
    ids = {h["_id"] for h in resp["hits"]["hits"]}
    assert _u("6f", 3) in ids  # the planted "N//A value present N/A here"


@needs_ref
def test_reference_fuzzy_multimatch_body(docs):
    # item 3: multi_match "camp", fuzziness auto, the reference's exact
    # field list — top hit pinned (reference asserts a fixed _id)
    body = _ref_bodies()["item2"]
    resp = search(docs, body, id_col="id")
    ids = [h["_id"] for h in resp["hits"]["hits"]]
    assert ids, "fuzzy search found nothing"
    assert ids[0] == _u("6f", 1)  # 'camp' exact in title+description
    scores = [h["_score"] for h in resp["hits"]["hits"]]
    assert scores == sorted(scores, reverse=True)


@needs_ref
def test_reference_nested_actor_body(docs):
    # item 4: nested actors → bool → match actors.name "Greg Camp"
    body = _ref_bodies()["item3"]
    resp = search(docs, body)
    ids = {h["_id"] for h in resp["hits"]["hits"]}
    assert ids == {_u("6f", 1), _u("6f", 2), _u("6f", 5), _u("6f", 8)}


@needs_ref
def test_reference_term_bodies(docs):
    # items 5-6: term by id → single writer / empty director (goldens
    # re-derived: the reference pins its own dump's uuids)
    bodies = _ref_bodies()
    one_writer = dict(bodies["item4"])
    one_writer["query"]["term"]["id"]["value"] = _u("6f", 7)
    resp = search(docs, one_writer)
    src = resp["hits"]["hits"][0]["_source"]
    assert src["writers_names"] == ["Craig Hutchinson"]

    no_director = dict(bodies["item5"])
    no_director["query"]["term"]["id"]["value"] = _u("6f", 6)
    resp = search(docs, no_director)
    assert resp["hits"]["hits"][0]["_source"]["director"] == ""


@needs_ref
def test_reference_terms_agg_body(docs):
    # item 7: size=0 + terms agg on genre, size 100 (reference: 26 buckets)
    body = _ref_bodies()["item6"]
    resp = search(docs, body)
    assert resp["hits"]["hits"] == []
    buckets = resp["aggregations"]["uniq_genres"]["buckets"]
    assert len(buckets) == 4
    assert {b["key"] for b in buckets} == {"Action", "Drama", "Комедия", "Sci-Fi"}
    by = {b["key"]: b["doc_count"] for b in buckets}
    assert by["Action"] == 4


def test_unknown_construct_raises(docs):
    with pytest.raises(NotImplementedError):
        search(docs, {"query": {"more_like_this": {"like": "x"}}})


def test_bool_should_or_semantics(docs):
    resp = search(docs, {"query": {"bool": {"should": [
        {"term": {"id": {"value": _u("6f", 1)}}},
        {"term": {"id": {"value": _u("6f", 2)}}},
    ]}}, "size": 10})
    assert {h["_id"] for h in resp["hits"]["hits"]} == {_u("6f", 1), _u("6f", 2)}


def test_bool_must_not_excludes(docs):
    resp = search(docs, {"query": {"bool": {
        "must": [{"match_all": {}}],
        "must_not": [{"match": {"title": "camp"}}],
    }}, "size": 20})
    ids = {h["_id"] for h in resp["hits"]["hits"]}
    assert _u("6f", 1) not in ids  # 'camp' in its title
    assert resp["hits"]["total"]["value"] < 10


def test_range_query_on_rating(docs):
    resp = search(docs, {"query": {"range": {"imdb_rating": {"gte": 8.0}}}, "size": 20})
    src = [h["_source"] for h in resp["hits"]["hits"]]
    assert src and all(s["imdb_rating"] >= 8.0 for s in src)


def test_match_phrase_consecutive(docs):
    # construct a guaranteed phrase from the corpus itself: find any doc
    # with >= 2 description tokens and assert its own bigram matches
    row = [
        h["_source"] for h in
        search(docs, {"query": {"match_all": {}}, "size": 10})["hits"]["hits"]
        if h["_source"]["description"] and len(h["_source"]["description"].split()) >= 2
    ][0]
    toks = [t.lower() for t in row["description"].split()[:2]]
    phrase = " ".join(toks)
    got = search(docs, {"query": {"match_phrase": {"description": phrase}}, "size": 10})
    assert got["hits"]["total"]["value"] >= 1


def test_from_pagination(docs):
    all_ids = [h["_id"] for h in search(docs, {"query": {"match_all": {}}, "size": 10})["hits"]["hits"]]
    page2 = [h["_id"] for h in search(docs, {"query": {"match_all": {}}, "size": 3, "from": 3})["hits"]["hits"]]
    assert page2 == all_ids[3:6]


def test_multimatch_without_fuzziness_is_exact_only(spark):
    # "sparc" is levenshtein-1 from "spark": it must match ONLY when
    # fuzziness is requested (regression: max_edits=0 used to be coerced
    # to 1, making non-fuzzy multi_match fuzzy anyway)
    frame = spark.createDataFrame(
        [(1, "spark engine"), (2, "sparc engine x"), (3, "nothing here")],
        "doc_id long, text string",
    )
    body = {"query": {"multi_match": {"query": "spark", "fields": ["text"]}}, "size": 10}
    exact = search(frame, body, id_col="doc_id")
    assert [h["_id"] for h in exact["hits"]["hits"]] == ["1"]
    body["query"]["multi_match"]["fuzziness"] = "auto"
    fuzzy = search(frame, body, id_col="doc_id")
    assert [h["_id"] for h in fuzzy["hits"]["hits"]] == ["1", "2"]


def test_multi_field_sort_lexicographic(spark):
    # ES applies sort keys first-key-primary; regression: a per-key
    # orderBy loop kept only the LAST key
    frame = spark.createDataFrame(
        [(1, "b", 10), (2, "a", 5), (3, "a", 9), (4, "b", 1)],
        "doc_id long, grp string, val long",
    )
    body = {
        "query": {"match_all": {}},
        "sort": [{"grp": {"order": "asc"}}, {"val": {"order": "desc"}}],
        "size": 10,
    }
    got = [h["_id"] for h in search(frame, body, id_col="doc_id")["hits"]["hits"]]
    assert got == ["3", "2", "1", "4"]


def test_terms_ids_exists_prefix_wildcard(spark):
    frame = spark.createDataFrame(
        [
            (1, "en", "alpha story"),
            (2, "ru", "beta story"),
            (3, "de", None),
            (4, "en", "alphabet soup"),
        ],
        "doc_id long, lang string, text string",
    )

    def ids(body):
        return sorted(
            int(h["_id"])
            for h in search(frame, body, id_col="doc_id")["hits"]["hits"]
        )

    assert ids({"query": {"terms": {"lang": ["en", "de"]}}, "size": 10}) == [1, 3, 4]
    assert ids({"query": {"ids": {"values": [2, 4]}}, "size": 10}) == [2, 4]
    assert ids({"query": {"exists": {"field": "text"}}, "size": 10}) == [1, 2, 4]
    assert ids({"query": {"prefix": {"text": "alpha"}}, "size": 10}) == [1, 4]
    assert ids({"query": {"wildcard": {"text": "alpha* soup"}}, "size": 10}) == [4]
    assert ids({"query": {"wildcard": {"text": "?eta story"}}, "size": 10}) == [2]
    # wildcard escaping: a literal dot must not regex-match any char
    frame2 = spark.createDataFrame(
        [(1, "a.b"), (2, "axb")], "doc_id long, text string"
    )
    got = sorted(
        int(h["_id"])
        for h in search(
            frame2, {"query": {"wildcard": {"text": "a.b"}}, "size": 10},
            id_col="doc_id",
        )["hits"]["hits"]
    )
    assert got == [1]
    # composes inside bool
    assert ids({
        "query": {"bool": {
            "must": [{"prefix": {"text": "alpha"}}],
            "must_not": [{"ids": {"values": [4]}}],
        }},
        "size": 10,
    }) == [1]


def test_metric_and_histogram_aggregations(spark):
    import datetime as dt

    def ts(day, hour):
        return dt.datetime(2024, 3, day, hour, 30)

    frame = spark.createDataFrame(
        [
            (1, "en", 10.0, ts(1, 9)),
            (2, "en", 30.0, ts(1, 15)),
            (3, "ru", 20.0, ts(2, 9)),
            (4, "ru", 40.0, ts(2, 10)),
        ],
        "doc_id long, lang string, price double, created timestamp",
    )
    resp = search(frame, {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {
            "avg_price": {"avg": {"field": "price"}},
            "n_langs": {"cardinality": {"field": "lang"}},
            "by_day": {
                "date_histogram": {"field": "created", "calendar_interval": "day"},
                "aggs": {"day_rev": {"sum": {"field": "price"}}},
            },
            "price_bands": {"histogram": {"field": "price", "interval": 25.0}},
            "by_lang": {
                "terms": {"field": "lang"},
                "aggs": {"max_price": {"max": {"field": "price"}}},
            },
        },
    }, id_col="doc_id")
    a = resp["aggregations"]
    assert a["avg_price"]["value"] == 25.0
    assert a["n_langs"]["value"] == 2
    days = {b["key"][:10]: b for b in a["by_day"]["buckets"]}
    assert days["2024-03-01"]["doc_count"] == 2
    assert days["2024-03-01"]["day_rev"]["value"] == 40.0
    assert days["2024-03-02"]["day_rev"]["value"] == 60.0
    bands = {b["key"]: b["doc_count"] for b in a["price_bands"]["buckets"]}
    assert bands == {0.0: 2, 25.0: 2}  # 10,20 → [0,25); 30,40 → [25,50)
    langs = {b["key"]: b for b in a["by_lang"]["buckets"]}
    assert langs["en"]["max_price"]["value"] == 30.0
    assert langs["ru"]["max_price"]["value"] == 40.0


def test_search_after_keyset_pagination(spark):
    frame = spark.createDataFrame(
        [(i, "en", float(100 - i)) for i in range(1, 8)],
        "doc_id long, lang string, price double",
    )
    body = {
        "query": {"match_all": {}},
        "sort": [{"price": {"order": "desc"}}],
        "size": 3,
    }
    p1 = search(frame, body, id_col="doc_id")["hits"]["hits"]
    assert [h["_id"] for h in p1] == ["1", "2", "3"]
    assert p1[-1]["sort"] == [97.0, 3]          # cursor = sort keys + id
    body["search_after"] = p1[-1]["sort"]
    p2 = search(frame, body, id_col="doc_id")["hits"]["hits"]
    assert [h["_id"] for h in p2] == ["4", "5", "6"]
    body["search_after"] = p2[-1]["sort"]
    p3 = search(frame, body, id_col="doc_id")["hits"]["hits"]
    assert [h["_id"] for h in p3] == ["7"]


def test_total_counts_every_row_of_a_presorted_frame(spark):
    """A range scan arrives sorted by id within each partition — the
    page's own order — so a top-k may stop after `from + size` rows a
    partition; hits.total is observed under it and must still see all."""
    frame = spark.range(0, 100, numPartitions=4).withColumnRenamed(
        "id", "doc_id"
    )
    for body in (
        {"query": {"match_all": {}}, "size": 3},
        {"query": {"match_all": {}}, "from": 4, "size": 3},
    ):
        resp = search(frame, body, id_col="doc_id")
        assert resp["hits"]["total"]["value"] == 100
        start = body.get("from", 0)
        assert [h["_id"] for h in resp["hits"]["hits"]] == [
            str(i) for i in range(start, start + 3)
        ]


def test_collapse_one_hit_per_field_value(spark):
    frame = spark.createDataFrame(
        [
            (1, "srcA", 5.0),
            (2, "srcA", 9.0),
            (3, "srcB", 7.0),
            (4, "srcB", 2.0),
        ],
        "doc_id long, source string, price double",
    )
    body = {
        "query": {"match_all": {}},
        "sort": [{"price": {"order": "desc"}}],
        "collapse": {"field": "source"},
        "size": 10,
    }
    resp = search(frame, body, id_col="doc_id")
    assert resp["hits"]["total"]["value"] == 4   # total is pre-collapse
    got = [h["_id"] for h in resp["hits"]["hits"]]
    assert got == ["2", "3"]                     # best per source, by sort


def test_bucket_aggs_omit_docs_missing_field(spark):
    """ES bucket aggs skip docs without the field — a NULL key must not
    crash the bucket builder (regression: None.isoformat())."""
    import datetime as dt

    frame = spark.createDataFrame(
        [
            (1, "en", 10.0, dt.datetime(2024, 3, 1, 9, 0)),
            (2, None, None, None),
            (3, "en", 30.0, dt.datetime(2024, 3, 1, 15, 0)),
        ],
        "doc_id long, lang string, price double, created timestamp",
    )
    resp = search(frame, {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {
            "by_day": {"date_histogram": {"field": "created", "calendar_interval": "day"}},
            "by_lang": {"terms": {"field": "lang"}},
            "bands": {"histogram": {"field": "price", "interval": 25.0}},
        },
    }, id_col="doc_id")
    a = resp["aggregations"]
    assert [b["doc_count"] for b in a["by_day"]["buckets"]] == [2]
    assert {b["key"]: b["doc_count"] for b in a["by_lang"]["buckets"]} == {"en": 2}
    assert sum(b["doc_count"] for b in a["bands"]["buckets"]) == 2


def test_explicit_sort_overrides_relevance(spark):
    """An explicit body sort takes precedence over relevance order on a
    scored query (ES semantics); `_score` in the sort list names the
    relevance column. search_after cursors then follow the body keys."""
    frame = spark.createDataFrame(
        [
            (1, "spark alpha", 10.0),
            (2, "spark", 99.0),
            (3, "spark alpha beta", 50.0),
        ],
        "doc_id long, text string, price double",
    )
    # relevance order would be [1, 3, 2] (scores 6, 6, 3; id tiebreak)
    mm = {"multi_match": {"query": "spark alpha", "fields": ["text"]}}
    rel = [h["_id"] for h in search(frame, {"query": mm, "size": 10}, id_col="doc_id")["hits"]["hits"]]
    assert rel == ["1", "3", "2"]
    body = {"query": mm, "sort": [{"price": {"order": "desc"}}], "size": 10}
    got = [h["_id"] for h in search(frame, body, id_col="doc_id")["hits"]["hits"]]
    assert got == ["2", "3", "1"]  # by price, NOT by relevance
    # the per-hit sort cursor carries the body keys (price, id)
    first = search(frame, body, id_col="doc_id")["hits"]["hits"][0]
    assert first["sort"] == [99.0, 2]
    # search_after resumes on the price cursor
    body2 = dict(body, search_after=[99.0, 2])
    got2 = [h["_id"] for h in search(frame, body2, id_col="doc_id")["hits"]["hits"]]
    assert got2 == ["3", "1"]
    # _score in the sort maps to the relevance column
    body3 = {"query": mm, "sort": [{"_score": {"order": "asc"}}], "size": 10}
    got3 = [h["_id"] for h in search(frame, body3, id_col="doc_id")["hits"]["hits"]]
    assert got3 == ["2", "1", "3"]  # ascending score, id tiebreak in the 6-6 tie
