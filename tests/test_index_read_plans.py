"""Posting-index reads planned from the sidecar: every artifact read
takes its exact schema from the recorded ``key_type``/``store_schema``
(no footer-inference Spark job), BM25's N and avgdl enter the score as
literals (no stats relation in the plan), the recorded schemas match
the files the writers and the tiered fold produce column for column,
and a tick or delete whose key or stored-column types differ from the
recorded ones is rejected before any file changes."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.functions import text as T
from djangoadmin_postgresql_2_elasticseach_spark.search import index as IX
from djangoadmin_postgresql_2_elasticseach_spark.search.bm25 import (
    bm25_topk_from_index,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import search_indexed
from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    build_posting_index,
    compact_posting_index_tiered,
    delete_from_posting_index,
    fetch_docs,
    match_phrase_from_index,
    read_docstore,
    read_posting_meta,
    read_postings,
    read_termdict,
    upsert_posting_index,
)
from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_table
from tests.conftest import POSIX_METASTORE, SF_SMOKE, spark_jobs

QUERY = "spark vector join"
PHRASE = "data processing"
STORE = ("text", "lang", "n_chars")


@pytest.fixture(scope="module")
def toks(spark):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", *STORE, T.analyze(F.col("text")).alias("tokens"))
        .localCheckpoint(eager=True)
    )


def _build(toks, path, with_tombstones: bool, key: str = "long"):
    docs = toks.withColumn("doc_id", F.col("doc_id").cast(key))
    build_posting_index(
        docs, path, tokens_col={"text": "tokens"}, store_cols=STORE
    )
    if with_tombstones:
        upsert_posting_index(
            docs.filter(F.col("doc_id").cast("long") % 7 == 0), path,
            tokens_col={"text": "tokens"},
        )
        assert os.path.isdir(os.path.join(path, "_tombstones"))
    return docs


@pytest.fixture(scope="module", params=["no_tombstones", "tombstones"])
def index(request, toks, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("readplans") / "idx")
    _build(toks, path, request.param == "tombstones")
    return request.param == "tombstones", path


FRAMES = {
    "read_postings": lambda s, p: read_postings(s, p),
    "read_docstore": lambda s, p: read_docstore(s, p),
    "read_termdict": lambda s, p: read_termdict(s, p),
    "fetch_docs": lambda s, p: fetch_docs(s, p, [3, 14, 21]),
    "fetch_docs_frame": lambda s, p: fetch_docs(
        s, p, s.range(3, 9).withColumnRenamed("id", "doc_id")
    ),
    "match_phrase_from_index": lambda s, p: match_phrase_from_index(
        s, p, PHRASE
    ),
    "bm25_topk_from_index": lambda s, p: bm25_topk_from_index(
        s, p, QUERY, k=10
    ),
}


@pytest.mark.parametrize("frame", sorted(FRAMES))
def test_frame_build_runs_no_spark_job(spark, index, frame):
    """Planning an index read runs no Spark job: no schema is inferred
    from a footer, and N/avgdl are sidecar values. The one exception is
    BM25 over an index WITH tombstones, whose dead-doc correction is a
    real data aggregate over doclens ⋈ tombstones, collected once."""
    tombstoned, path = index
    jobs, df = spark_jobs(spark, lambda: FRAMES[frame](spark, path))
    want = 0
    if tombstoned and frame == "bm25_topk_from_index":
        want = spark_jobs(spark, lambda: IX.index_stats(spark, path))[0]
        assert want >= 1
    assert jobs == want, f"{frame}: {jobs} Spark jobs to build the frame"
    df.collect()  # and the frame runs


def test_request_plans_hold_no_local_rdd_or_stats_relation(spark, index):
    """The BM25 serve plan carries N/avgdl as literals: no createDataFrame
    (an RDD scan, `LogicalRDD`) and no second broadcast cross join for
    the stats. No other request plan scans an RDD either."""
    _tombstoned, path = index
    for name, make in FRAMES.items():
        plan = make(spark, path)._jdf.queryExecution().optimizedPlan()
        assert "LogicalRDD" not in plan.toString(), name
    bm25 = bm25_topk_from_index(spark, path, QUERY, k=10)
    plan = bm25._jdf.queryExecution().optimizedPlan().toString()
    # one cross join: the per-term df row onto the per-doc tf rows
    assert plan.count("Join Cross") == 1, plan


def test_bm25_request_job_count_is_stable(spark, index):
    """One bm25 request served three times runs the same number of
    Spark jobs each time, within the budget: 4 for the pruned postings
    probe and its df/top-k stages; with tombstones, 3 for the collected
    dead correction (tombstone broadcast, doclens partial aggregate,
    result) and 1 for the liveness anti-join's tombstone broadcast."""
    tombstoned, path = index

    def serve():
        return bm25_topk_from_index(spark, path, QUERY, k=10).collect()

    counts = [spark_jobs(spark, serve)[0] for _ in range(3)]
    assert len(set(counts)) == 1, counts
    assert counts[0] <= (8 if tombstoned else 4), counts


def test_field_stats_are_live_driver_values(spark, index):
    """index_stats / index_field_stats are plain driver values equal to
    the live doclens aggregate, with and without the dead correction."""
    _tombstoned, path = index
    live = (
        IX.read_doclens(spark, path)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .first()
    )
    assert IX.index_stats(spark, path) == {"text": (live["n"], live["s"])}
    assert IX.index_field_stats(spark, path, "text") == (
        live["n"], live["s"] / live["n"]
    )
    assert IX.index_field_stats(spark, path, "absent") == (0, None)


# ---------------------------------------------------------------------------
# recorded schemas: equal to the files, column for column
# ---------------------------------------------------------------------------


def _fields(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


@pytest.mark.parametrize("key", ["long", "string"])
def test_recorded_schemas_equal_the_inferred_ones(spark, toks, tmp_path, key):
    """Each artifact read with the recorded schema has the columns,
    order and types Spark infers from the files themselves — for a
    long-key index (the test corpora) and a string-key one (the
    reference's UUIDs, the perfbench shape)."""
    path = str(tmp_path / "idx")
    _build(toks, path, True, key=key)
    meta = read_posting_meta(path)
    assert meta["key_type"] == {"long": "bigint", "string": "string"}[key]
    assert meta["store_schema"] == "`text` string, `lang` string, `n_chars` bigint"
    for name in ("postings", "doclens", "termdict", "docstore", "_tombstones"):
        d = os.path.join(path, name)
        got = IX._read_artifact(spark, meta, d, name)
        assert _fields(got.schema) == _fields(spark.read.parquet(d).schema), name


@pytest.mark.skipif(
    not POSIX_METASTORE, reason="the tiered leaf fold needs atomic rename"
)
def test_folded_leaf_files_match_tick_files(spark, toks, tmp_path):
    """A tiered-folded postings or docstore leaf writes the same file
    columns, in the same order, as a tick does — and no partition
    column (a leaf read with the full schema would write null
    field/tkb/dsb columns into the folded file)."""
    path = str(tmp_path / "idx")
    docs = _build(toks, path, True)
    compact_posting_index_tiered(spark, path, max_files=0)

    def files(artifact):
        return {
            os.path.join(dp, f)
            for dp, _dns, fns in os.walk(os.path.join(path, artifact))
            for f in fns
            if f.endswith(".parquet")
        }

    folded = {a: files(a) for a in ("postings", "docstore")}
    upsert_posting_index(
        docs.filter(F.col("doc_id") < 5), path, tokens_col={"text": "tokens"}
    )
    parts = {"postings": {"field", "tkb"}, "docstore": {"dsb"}}
    for artifact, old in folded.items():
        tick = files(artifact) - old
        assert old and tick, artifact
        cols = {tuple(pq.read_schema(f).names) for f in old | tick}
        assert len(cols) == 1, (artifact, cols)
        assert not parts[artifact] & set(cols.pop()), artifact
    assert {r["doc_id"] for r in read_docstore(spark, path).collect()} == {
        r["doc_id"] for r in toks.select("doc_id").collect()
    }


# ---------------------------------------------------------------------------
# the recorded types are a fixed mapping: a mismatched tick is rejected
# ---------------------------------------------------------------------------


def _files(path):
    return sorted(
        (os.path.relpath(os.path.join(dp, f), path),
         os.stat(os.path.join(dp, f)).st_mtime_ns)
        for dp, _dns, fns in os.walk(path)
        for f in fns
    )


@pytest.mark.parametrize("change", ["key", "stored"])
def test_mistyped_tick_is_rejected_before_any_write(
    spark, toks, tmp_path, change
):
    path = str(tmp_path / "idx")
    docs = _build(toks, path, False)
    batch = docs.filter(F.col("doc_id") < 5)
    if change == "key":
        batch = batch.withColumn("doc_id", F.col("doc_id").cast("string"))
        match = "key type"
    else:
        batch = batch.withColumn("n_chars", F.col("n_chars").cast("double"))
        match = "stored types"
    before = _files(path)
    with pytest.raises(ValueError, match=match):
        upsert_posting_index(batch, path, tokens_col={"text": "tokens"})
    with pytest.raises(ValueError, match=match):
        IX.append_posting_index(batch, path, tokens_col={"text": "tokens"})
    if change == "key":
        with pytest.raises(ValueError, match="keys docs by bigint"):
            delete_from_posting_index(batch.select("doc_id"), path)
    assert _files(path) == before


def test_string_key_index_serves(spark, toks, tmp_path):
    """A string-key index (perfbench's and the reference's UUID shape)
    serves BM25, DSL match, phrase, GET and the docstore with the same
    answers as the long-key index over the same docs, through an
    upsert and a delete."""
    answers = {}
    for key in ("long", "string"):
        path = str(tmp_path / key)
        docs = _build(toks, path, True, key=key)
        delete_from_posting_index(
            docs.filter(F.col("doc_id").cast("long").isin(2, 9)).select(
                "doc_id"
            ),
            path,
        )
        store = read_docstore(spark, path)
        body = {"query": {"match": {"text": "spark"}}, "size": 50}
        resp = search_indexed(spark, store, body, path, id_col="doc_id")
        answers[key] = (
            [(str(r[0]), r[1]) for r in
             bm25_topk_from_index(spark, path, QUERY, k=10).collect()],
            sorted(h["_id"] for h in resp["hits"]["hits"]),
            sorted(str(r[0]) for r in
                   match_phrase_from_index(spark, path, PHRASE).collect()),
            sorted((str(r["doc_id"]), r["n_chars"]) for r in
                   fetch_docs(spark, path, [3, 14, 9]
                              if key == "long" else ["3", "14", "9"])
                   .collect()),
            sorted(str(r["doc_id"]) for r in store.collect()),
        )
    assert answers["long"] == answers["string"]
    assert "9" not in answers["string"][4]
