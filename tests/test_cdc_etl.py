"""CDC-driven ETL (streaming/cdc.py) vs the timestamp poll
(streaming/incremental.py): byte-identical docs on the reference's
edit discipline, version checkpoints, bridge-edit capture (which the
timestamp predicate cannot see — reference etl/main.py:35), and
delete propagation."""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_movies
from djangoadmin_postgresql_2_elasticseach_spark.sources.state import JsonFileState
from djangoadmin_postgresql_2_elasticseach_spark.sources.txlog import (
    TxLog,
    tx_merge,
    tx_overwrite,
    tx_read,
)
from djangoadmin_postgresql_2_elasticseach_spark.streaming.cdc import TxlogCdcEtl
from djangoadmin_postgresql_2_elasticseach_spark.streaming.incremental import (
    IncrementalEtl,
)
from tests import movies_fixtures

TABLES = "film_work genre person genre_film_work person_film_work".split()


def _canon(rows):
    """Order-insensitive canonical form: row dicts with every inner
    list sorted (array order is plan-dependent), keyed by id."""

    def fix(v):
        if isinstance(v, list):
            return sorted((json.dumps(fix(x), default=str, sort_keys=True) for x in v))
        if hasattr(v, "asDict"):
            return fix(v.asDict(recursive=True))
        if isinstance(v, dict):
            return {k: fix(x) for k, x in v.items()}
        return v

    out = {}
    for r in rows:
        d = fix(r.asDict(recursive=True))
        out[d["id"]] = json.dumps(d, default=str, sort_keys=True)
    return out


@pytest.fixture()
def txdir(spark, tmp_path, tmp_path_factory):
    """Movies fixture loaded into five txlog tables (v0 each)."""
    fixture = str(tmp_path_factory.mktemp("cdc_fixture"))
    movies_fixtures.build(fixture)
    frames = load_movies(spark, fixture)
    paths = {}
    for t in TABLES:
        p = str(tmp_path / t)
        os.makedirs(p)
        tx_overwrite(frames[t], p)
        paths[t] = p
    return paths


def _capture_sink(store):
    def sink(df, entity):
        store.setdefault(entity, []).extend(df.collect())

    return sink


def _tx_tables(spark, paths):
    return {t: tx_read(spark, paths[t]) for t in TABLES}


def test_cdc_tick_matches_timestamp_tick(spark, tmp_path, txdir):
    """Cold-start backfill AND an fw/p/g edit script produce byte-
    identical movies docs from both change sources; the CDC checkpoint
    is the txlog version."""
    ts_store, cdc_store = {}, {}
    ts = IncrementalEtl(
        JsonFileState(str(tmp_path / "ts.json")),
        _tx_tables(spark, txdir),
        _capture_sink(ts_store),
    )
    cdc = TxlogCdcEtl(
        spark,
        JsonFileState(str(tmp_path / "cdc.json")),
        txdir,
        _capture_sink(cdc_store),
    )
    ts.run_tick()
    cdc.run_tick()
    for entity in ("movies", "genres", "persons"):
        assert _canon(ts_store[entity]) == _canon(cdc_store[entity]), entity
    assert len(_canon(ts_store["movies"])) == 10

    # edit script in the reference's discipline (modified bumped):
    # person rename, film rating change — applied via tx_merge
    t1 = dt.datetime(2024, 3, 1)
    person_edit = (
        tx_read(spark, txdir["person"])
        .filter(F.col("full_name") == "Greg Camp")
        .withColumn("full_name", F.lit("Gregory Camp"))
        .withColumn("modified", F.lit(t1).cast("timestamp"))
    )
    assert person_edit.count() == 1
    tx_merge(spark, txdir["person"], person_edit, "id")
    film_edit = (
        tx_read(spark, txdir["film_work"])
        .orderBy("id")
        .limit(1)
        .withColumn("rating", F.lit(8.1).cast("double"))
        .withColumn("modified", F.lit(t1).cast("timestamp"))
    )
    tx_merge(spark, txdir["film_work"], film_edit, "id")

    ts_store.clear()
    cdc_store.clear()
    ts.tables = _tx_tables(spark, txdir)  # re-read snapshots
    n_ts = ts.run_tick()
    n_cdc = cdc.run_tick()
    assert n_ts["movies"] == n_cdc["movies"]["docs"] > 0
    for entity in ("movies", "genres", "persons"):
        assert _canon(ts_store.get(entity, [])) == _canon(
            cdc_store.get(entity, [])
        ), entity

    # checkpoint == txlog version, per trigger table
    st = JsonFileState(str(tmp_path / "cdc.json"))
    for t in TABLES:
        assert st.get_state(f"cdc:movies:{t}", "") == str(
            TxLog(txdir[t]).latest_version()
        )

    # quiescent: no new versions → zero-doc tick
    assert cdc.run_tick() == {
        e: {"docs": 0, "deletes": 0} for e in ("movies", "genres", "persons")
    }


def test_cdc_sees_bridge_only_edit_timestamp_poll_cannot(spark, tmp_path, txdir):
    """Linking a genre to a film WITHOUT touching fw/genre rows: the
    reference's OR-of-modified predicate misses it; version-diff CDC
    re-emits the film with the new genre."""
    ts_store, cdc_store = {}, {}
    ts_state = JsonFileState(str(tmp_path / "ts.json"))
    ts = IncrementalEtl(ts_state, _tx_tables(spark, txdir), _capture_sink(ts_store))
    cdc = TxlogCdcEtl(
        spark, JsonFileState(str(tmp_path / "cdc.json")), txdir,
        _capture_sink(cdc_store),
    )
    ts.run_tick()
    cdc.run_tick()

    gfw = tx_read(spark, txdir["genre_film_work"])
    film_id = movies_fixtures._u("6f", 8)
    genre_id = movies_fixtures._u("67", 2)
    assert gfw.filter(
        (F.col("film_work_id") == film_id) & (F.col("genre_id") == genre_id)
    ).count() == 0
    new_link = gfw.limit(1).select(
        F.lit(movies_fixtures._u("99", 1)).alias("id"),
        F.lit(genre_id).alias("genre_id"),
        F.lit(film_id).alias("film_work_id"),
        F.col("created"),
    )
    tx_merge(spark, txdir["genre_film_work"], new_link, "id")

    ts_store.clear()
    cdc_store.clear()
    ts.tables = _tx_tables(spark, txdir)
    n_ts = ts.run_tick()
    n_cdc = cdc.run_tick()
    assert n_ts["movies"] == 0, "timestamp poll is blind to bridge edits"
    assert n_cdc["movies"]["docs"] == 1
    (doc,) = cdc_store["movies"]
    assert doc["id"] == film_id


def test_cdc_movies_changeset_plans_no_film_work_shuffle(spark, tmp_path, txdir):
    """The CDC affected-film set is built like the timestamp path's
    (incremental.changed_film_ids): semi-joins to the broadcast change
    keys and no distinct, so its size estimate stays that of its scans
    and the film_work join broadcasts it — no sort-merge join shuffles
    film_work to meet a few changed keys."""
    from djangoadmin_postgresql_2_elasticseach_spark.plans.tuning import (
        plan_string,
    )

    cdc = TxlogCdcEtl(
        spark, JsonFileState(str(tmp_path / "cdc.json")), txdir,
        _capture_sink({}),
    )
    cdc.run_tick()
    t1 = dt.datetime(2024, 3, 1)
    tx_merge(
        spark, txdir["person"],
        tx_read(spark, txdir["person"]).orderBy("id").limit(1)
        .withColumn("modified", F.lit(t1).cast("timestamp")),
        "id",
    )
    gfw = tx_read(spark, txdir["genre_film_work"])
    tx_merge(
        spark, txdir["genre_film_work"],
        gfw.orderBy("id").limit(1).withColumn(
            "id", F.lit(movies_fixtures._u("99", 1))
        ),
        "id",
    )
    spans = cdc._spans("movies")
    assert spans["person"][0] != spans["person"][1]
    assert spans["genre_film_work"][0] != spans["genre_film_work"][1]
    docs, _ = cdc._movies(spans)
    plan = plan_string(docs, mode="simple")
    # the only shuffle joins left are txlog version diffs (tx_changes'
    # full outer join of a changed table's old and new files)
    smj = [ln.strip() for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert all("FullOuter" in ln for ln in smj), smj
    assert re.search(
        r"BroadcastHashJoin \[id#\d+\], \[film_id#\d+\], LeftSemi", plan
    ), plan[:3000]


def test_cdc_propagates_film_delete(spark, tmp_path, txdir):
    """Removing a film row emits its id to on_delete (→ ES bulk delete
    action), which the reference's insert-only loop cannot express."""
    cdc_store, deleted = {}, []
    cdc = TxlogCdcEtl(
        spark,
        JsonFileState(str(tmp_path / "cdc.json")),
        txdir,
        _capture_sink(cdc_store),
        on_delete=lambda df, entity: deleted.extend(
            (entity, r["id"]) for r in df.collect()
        ),
    )
    cdc.run_tick()

    fw = tx_read(spark, txdir["film_work"])
    victim = fw.orderBy("id").first()["id"]
    tx_overwrite(fw.filter(F.col("id") != victim), txdir["film_work"])

    cdc_store.clear()
    out = cdc.run_once("movies")
    assert out["deletes"] == 1 and ("movies", victim) in deleted
    assert all(r["id"] != victim for r in cdc_store.get("movies", []))


def test_cdc_tick_maintains_posting_index(spark, tmp_path, txdir):
    """The full reference loop, self-contained: CDC tick → denormalized
    docs → upsert into the engine's OWN posting index (instead of an
    external ES). A title edit is searchable by phrase after the next
    tick with the old version dead; a hard-deleted film disappears from
    the live index entirely."""
    import datetime as dt

    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        match_phrase_from_index,
        posting_index_cdc_sink,
        read_postings,
    )

    idx = str(tmp_path / "movies_idx")
    # compact_every=1: every tick runs the physical compaction pass —
    # pins that the maintenance hook preserves liveness semantics
    sink, on_delete = posting_index_cdc_sink(
        {"movies": idx}, fields=("title",), id_col="id", compact_every=1
    )
    cdc = TxlogCdcEtl(
        spark,
        JsonFileState(str(tmp_path / "cdc.json")),
        txdir,
        sink,
        on_delete=on_delete,
    )
    cdc.run_tick()  # cold backfill: every film's title indexed
    live = read_postings(spark, idx)
    assert live.select("doc_id").distinct().count() == 10

    # title edit in the reference's discipline → searchable next tick
    fw = tx_read(spark, txdir["film_work"])
    target = fw.orderBy("id").first()
    edit = (
        fw.filter(F.col("id") == target["id"])
        .withColumn("title", F.lit("Zebra Quantum Saga"))
        .withColumn(
            "modified", F.lit(dt.datetime(2024, 5, 1)).cast("timestamp")
        )
    )
    tx_merge(spark, txdir["film_work"], edit, "id")
    assert cdc.run_once("movies")["docs"] == 1
    hits = {
        r["doc_id"]
        for r in match_phrase_from_index(
            spark, idx, "zebra quantum", field="title"
        ).collect()
    }
    assert hits == {target["id"]}
    # the old title version is dead: the doc's live rows are exactly
    # the new title's analyzed tokens
    new_tokens = {
        r["token"]
        for r in read_postings(spark, idx)
        .filter(F.col("doc_id") == target["id"])
        .collect()
    }
    assert new_tokens == {"zebra", "quantum", "saga"}

    # hard delete another film → tombstoned out of the live index
    victim = (
        tx_read(spark, txdir["film_work"])
        .filter(F.col("id") != target["id"])
        .orderBy("id")
        .first()["id"]
    )
    tx_overwrite(
        tx_read(spark, txdir["film_work"]).filter(F.col("id") != victim),
        txdir["film_work"],
    )
    assert cdc.run_once("movies")["deletes"] == 1
    live_ids = {
        r["doc_id"]
        for r in read_postings(spark, idx).select("doc_id").distinct().collect()
    }
    assert victim not in live_ids and target["id"] in live_ids
    assert len(live_ids) == 9


def test_cdc_tick_maintains_docstore_serving_without_source(
    spark, tmp_path, txdir
):
    """The reference loop fully self-contained: CDC tick → denormalized
    docs → index upsert INCLUDING the stored-fields tier (store_cols on
    the sink establishes it on the first tick), after which a DSL body
    is answered entirely from the index directory — hit payloads from
    docstore/, candidates from the postings — with neither an external
    ES nor a read back to the source tables. A title edit is visible in
    both tiers after the next tick; a hard delete disappears from
    both."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import (
        search_indexed,
    )
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        fetch_docs,
        posting_index_cdc_sink,
        read_docstore,
    )

    idx = str(tmp_path / "movies_idx")
    sink, on_delete = posting_index_cdc_sink(
        {"movies": idx}, fields=("title",), id_col="id",
        store_cols=("title", "imdb_rating"),
    )
    cdc = TxlogCdcEtl(
        spark,
        JsonFileState(str(tmp_path / "cdc.json")),
        txdir,
        sink,
        on_delete=on_delete,
    )
    cdc.run_tick()  # cold backfill
    store = read_docstore(spark, idx)
    assert store.count() == 10
    assert set(store.columns) == {"doc_id", "title", "imdb_rating"}

    # title edit → next tick updates postings AND stored payload
    fw = tx_read(spark, txdir["film_work"])
    target = fw.orderBy("id").first()
    tx_merge(
        spark,
        txdir["film_work"],
        fw.filter(F.col("id") == target["id"])
        .withColumn("title", F.lit("Zebra Quantum Saga"))
        .withColumn(
            "modified", F.lit(dt.datetime(2024, 6, 1)).cast("timestamp")
        ),
        "id",
    )
    assert cdc.run_once("movies")["docs"] == 1
    got = fetch_docs(spark, idx, [target["id"]]).collect()
    assert len(got) == 1 and got[0].title == "Zebra Quantum Saga"

    # a search body answered with ZERO source reads: docs frame IS the
    # docstore; match resolves from the postings
    resp = search_indexed(
        spark,
        read_docstore(spark, idx),
        {"query": {"match": {"title": "zebra quantum"}}, "size": 5},
        idx,
        id_col="doc_id",
    )
    assert [h["_id"] for h in resp["hits"]["hits"]] == [str(target["id"])]
    assert resp["hits"]["hits"][0]["_source"]["title"] == "Zebra Quantum Saga"

    # hard delete leaves both tiers
    victim = (
        tx_read(spark, txdir["film_work"])
        .filter(F.col("id") != target["id"])
        .orderBy("id")
        .first()["id"]
    )
    tx_overwrite(
        tx_read(spark, txdir["film_work"]).filter(F.col("id") != victim),
        txdir["film_work"],
    )
    assert cdc.run_once("movies")["deletes"] == 1
    assert fetch_docs(spark, idx, [victim]).count() == 0
    assert read_docstore(spark, idx).count() == 9
