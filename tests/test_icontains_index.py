"""r14: the admin icontains surface served from the index tier
(termdict-contains prefilter → pruned posting probe → docstore
semi-join → residual raw-text verify) — reference admin.py:21 /
views.py:92 run `ILIKE '%q%'` corpus scans; this is the same result
set with every input file inside the index directory."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    build_posting_index,
    delete_from_posting_index,
    icontains_from_index,
    upsert_posting_index,
)
from djangoadmin_postgresql_2_elasticseach_spark.functions import text as T
from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 80)
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def idx(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("icontains") / "idx")
    toks = docs.withColumn("tokens", T.analyze(F.col("text"), stem=False))
    build_posting_index(
        toks, path, tokens_col={"text": "tokens"}, stem=False,
        store_cols=("text",),
    )
    return path


def _scan(docs, frag):
    return sorted(
        (r["doc_id"], r["text"])
        for r in docs.filter(
            F.lower(F.col("text")).contains(frag.lower())
        ).collect()
    )


def _serve(spark, idx, frag):
    return sorted(
        (r["doc_id"], r["text"])
        for r in icontains_from_index(spark, idx, frag).collect()
    )


def test_equals_scan_and_reads_only_index(spark, docs, idx):
    for frag in ("ue", "UE", "usto", "tre"):
        assert _serve(spark, idx, frag) == _scan(docs, frag), frag
    df = icontains_from_index(spark, idx, "ue")
    assert df.inputFiles() and all(idx in f for f in df.inputFiles())


def test_no_hit_fragment_returns_typed_empty(spark, docs, idx):
    df = icontains_from_index(spark, idx, "zzqqx")
    assert df.columns == ["doc_id", "text"] and df.count() == 0


def test_tracks_upsert_and_delete(spark, docs, idx):
    """The residual verify runs on the CURRENT stored payload: a doc
    upserted to no longer contain the fragment drops out even though
    its old posting rows still name it; a deleted doc vanishes; a doc
    gaining the fragment appears."""
    victim = int(
        docs.filter(F.lower("text").contains("ue")).first()["doc_id"]
    )
    new = spark.createDataFrame(
        [(victim, "nothing here"), (9001, "a shiny new QUEue doc")],
        "doc_id long, text string",
    )
    upsert_posting_index(
        new.withColumn("tokens", T.analyze(F.col("text"), stem=False)),
        idx,
        tokens_col={"text": "tokens"},
        store_cols=("text",),
    )
    got = dict(_serve(spark, idx, "ue"))
    assert victim not in got
    assert got[9001] == "a shiny new QUEue doc"
    delete_from_posting_index(
        spark.createDataFrame([(9001,)], "doc_id long"), idx
    )
    assert 9001 not in dict(_serve(spark, idx, "ue"))


def test_preconditions_raise_loudly(spark, docs, idx, tmp_path):
    with pytest.raises(ValueError, match="letter/digit"):
        icontains_from_index(spark, idx, "two words")
    with pytest.raises(ValueError, match="letter/digit"):
        icontains_from_index(spark, idx, "semi-colon")
    with pytest.raises(ValueError, match="stopword"):
        icontains_from_index(spark, idx, "th")  # inside 'the'/'that'...
    with pytest.raises(ValueError, match="dictionary terms"):
        icontains_from_index(spark, idx, "ue", max_candidate_terms=1)
    # a STEMMED index refuses (suffix rewriting breaks raw substrings)
    stemmed = str(tmp_path / "stemmed")
    build_posting_index(
        docs.withColumn("tokens", T.analyze(F.col("text"))),
        stemmed,
        tokens_col={"text": "tokens"},
        store_cols=("text",),
    )
    with pytest.raises(ValueError, match="UNSTEMMED"):
        icontains_from_index(spark, stemmed, "ue")
    # an index without the stored payload refuses (no residual verify)
    bare = str(tmp_path / "bare")
    build_posting_index(
        docs.withColumn("tokens", T.analyze(F.col("text"), stem=False)),
        bare,
        tokens_col={"text": "tokens"},
        stem=False,
    )
    with pytest.raises(ValueError, match="not stored"):
        icontains_from_index(spark, bare, "ue")


# ---------------------------------------------------------------------------
# trigram (pg_trgm-style) candidate tier
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def trgm_idx(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("icontains_trgm") / "idx")
    toks = docs.withColumn("tokens", T.analyze(F.col("text"), stem=False))
    build_posting_index(
        toks, path, tokens_col={"text": "tokens"}, stem=False,
        store_cols=("text",), char_ngrams=True,
    )
    return path


def test_trgm_equals_scan_and_tracks_ticks(spark, docs, trgm_idx):
    """The trigram-served result equals the raw scan for multi-gram
    fragments, across case and through upsert ticks (chardict is
    maintained by the same commits)."""
    for frag in ("usto", "USTO", "tre", "indow", "park"):
        assert _serve(spark, trgm_idx, frag) == _scan(docs, frag), frag
    upsert_posting_index(
        spark.createDataFrame(
            [(9100, "zzqqxx appears here")], "doc_id long, text string"
        ).withColumn("tokens", T.analyze(F.col("text"), stem=False)),
        trgm_idx,
        tokens_col={"text": "tokens"},
        store_cols=("text",),
    )
    got = dict(_serve(spark, trgm_idx, "zqqx"))
    assert got == {9100: "zzqqxx appears here"}


def test_trgm_probe_prunes_gram_buckets_and_skips_termdict(
    spark, docs, trgm_idx
):
    """The candidate probe reads ONLY pruned chardict gram-bucket
    directories (PartitionFilters on gkb), and the served query never
    opens termdict/ — the vocabulary scan is gone from the plan."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        _chardict_candidates,
        read_posting_meta,
    )

    meta = read_posting_meta(trgm_idx)
    assert meta["char_ngrams"]
    cand = _chardict_candidates(spark, trgm_idx, meta, "text", "usto")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and "gkb" in pf[0], plan[:3000]
    assert all("/chardict/" in f for f in cand.inputFiles())
    served = icontains_from_index(spark, trgm_idx, "usto")
    assert served.count() > 0
    assert not any("/termdict/" in f for f in served.inputFiles())


def test_trgm_short_fragment_falls_back_to_termdict_scan(
    spark, docs, trgm_idx
):
    """A sub-3-char fragment has no grams — served via the termdict
    scan, same results."""
    assert _serve(spark, trgm_idx, "ue") == _scan(docs, "ue")


# ---------------------------------------------------------------------------
# API-layer auto-dispatch (r15 — r14 verdict what's-wrong #3)
# ---------------------------------------------------------------------------


def _auto(spark, docs, frag, idx, **kw):
    from djangoadmin_postgresql_2_elasticseach_spark.operators.api import icontains_auto

    return icontains_auto(spark, docs, frag, index_path=idx, **kw)


@pytest.fixture(scope="module")
def auto_idx(spark, docs, tmp_path_factory):
    """Dispatcher tests get their OWN index: the shared `idx` fixture
    is mutated by the upsert/delete tests above, so it no longer
    mirrors `docs`."""
    path = str(tmp_path_factory.mktemp("icontains_auto") / "idx")
    toks = docs.withColumn("tokens", T.analyze(F.col("text"), stem=False))
    build_posting_index(
        toks, path, tokens_col={"text": "tokens"}, stem=False,
        store_cols=("text",),
    )
    return path


def test_auto_happy_path_serves_from_index(spark, docs, auto_idx):
    """Preconditions hold → the dispatcher's plan is the INDEX plan
    (every input file inside the index directory, the corpus absent)
    and the rows equal the scan."""
    df = _auto(spark, docs, "usto", auto_idx)
    assert sorted(
        (r["doc_id"], r["text"]) for r in df.collect()
    ) == _scan(docs, "usto")
    assert df.inputFiles() and all(auto_idx in f for f in df.inputFiles())


def test_auto_falls_back_on_every_precondition(
    spark, docs, auto_idx, tmp_path
):
    """Each loud precondition ValueError becomes a silent, correct
    fallback to the literal corpus scan: separator fragment, stopword
    substring, over-cap expansion, stemmed index, payload-less index,
    and no index at all — every branch returns exactly the scan rows
    with the scan's (id, field) schema."""
    cases = []
    # separator fragment + stopword substring + over-cap on a good idx
    cases.append(("semi-colon", auto_idx, {}))
    cases.append(("th", auto_idx, {}))
    cases.append(("ue", auto_idx, {"max_candidate_terms": 1}))
    # stemmed index refuses → scan
    stemmed = str(tmp_path / "stemmed")
    build_posting_index(
        docs.withColumn("tokens", T.analyze(F.col("text"))),
        stemmed, tokens_col={"text": "tokens"}, store_cols=("text",),
    )
    cases.append(("ue", stemmed, {}))
    # payload-less index refuses → scan
    bare = str(tmp_path / "bare")
    build_posting_index(
        docs.withColumn("tokens", T.analyze(F.col("text"), stem=False)),
        bare, tokens_col={"text": "tokens"}, stem=False,
    )
    cases.append(("ue", bare, {}))
    # no index configured at all → scan
    cases.append(("ue", None, {}))
    for frag, path, kw in cases:
        df = _auto(spark, docs, frag, path, **kw)
        assert df.columns == ["doc_id", "text"], (frag, path)
        got = sorted((r["doc_id"], r["text"]) for r in df.collect())
        assert got == _scan(docs, frag), (frag, path)
        # the fallback really is the scan: no index directory in the
        # plan (the corpus fixture is checkpointed — inputFiles empty)
        assert not any((path or "\x00") in f for f in df.inputFiles())


def test_auto_fallback_logs_its_reason(spark, docs, auto_idx, caplog):
    """A fallback to the scan is silent to callers but not invisible:
    the dispatcher logs the failed precondition at DEBUG (here, a
    fragment inside the stopword "the")."""
    import logging

    caplog.set_level(
        logging.DEBUG,
        logger="djangoadmin_postgresql_2_elasticseach_spark.operators.api",
    )
    _auto(spark, docs, "th", auto_idx)
    assert any(
        "falls back to the scan" in r.getMessage()
        and "stopword" in r.getMessage()
        for r in caplog.records
    )


def test_stale_index_raises_instead_of_scanning(spark, docs, auto_idx, tmp_path):
    """An index whose sidecar is in an old format needs a rebuild: both
    API dispatchers raise StaleIndexError instead of answering the
    request with the O(corpus) scan a precondition miss takes."""
    import json
    import shutil

    from djangoadmin_postgresql_2_elasticseach_spark.operators.api import film_detail
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        StaleIndexError,
    )

    stale = str(tmp_path / "stale")
    shutil.copytree(auto_idx, stale)
    meta_path = os.path.join(stale, "_index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["layout_v"] = 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    assert _scan(docs, "usto")  # the scan would have answered
    with pytest.raises(StaleIndexError, match="rebuild"):
        _auto(spark, docs, "usto", stale)
    listing = docs.select(F.col("doc_id").cast("string").alias("id"))
    with pytest.raises(StaleIndexError, match="rebuild"):
        film_detail(listing, "1", spark=spark, index_path=stale)


def test_film_detail_dispatches_pk_lookup(spark, tmp_path):
    """film_detail with an id-indexed path resolves the pk fragment via
    the index (broadcast semi-join on exact candidate ids) and returns
    the same row as the literal contains scan; a separator fragment
    falls back silently."""
    from djangoadmin_postgresql_2_elasticseach_spark.operators.api import film_detail

    listing = spark.createDataFrame(
        [("abc123", "T1"), ("def456", "T2"), ("xyzabc", "T3")],
        "id string, title string",
    )
    pk_idx = str(tmp_path / "pkidx")
    build_posting_index(
        listing.withColumn(
            "id_tokens", T.analyze(F.col("id"), stem=False)
        ),
        pk_idx, fields=("id",), id_col="id", stem=False,
        store_cols=("id",), tokens_col={"id": "id_tokens"},
    )
    for frag, want_id in (("abc", "abc123"), ("f45", "def456")):
        want = film_detail(listing, frag)
        got = film_detail(listing, frag, spark=spark, index_path=pk_idx)
        assert got == want and got["id"] == want_id, frag
    # separator fragment → precondition miss → scan fallback (None)
    assert film_detail(
        listing, "c-1", spark=spark, index_path=pk_idx
    ) == film_detail(listing, "c-1") is None


def test_trgm_survives_full_compaction(spark, docs, trgm_idx, tmp_path):
    """Compaction rebuilds chardict inside the atomic swap; the served
    result is invariant."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        compact_posting_index,
    )

    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        _art,
        read_posting_meta,
    )

    before = _serve(spark, trgm_idx, "usto")
    compact_posting_index(spark, trgm_idx)
    assert os.path.isdir(
        _art(trgm_idx, "chardict", read_posting_meta(trgm_idx))
    )
    assert _serve(spark, trgm_idx, "usto") == before


# ---------------------------------------------------------------------------
# r15: ONE index, both analyzers (ES multi-fields — r14 what's-wrong #4)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def combined_idx(spark, docs, tmp_path_factory):
    """Stemmed `text` + unstemmed `text_raw` sharing one posting
    store, one docstore (text stored once), one trigram tier scoped to
    the raw field — built from one dual-analyzer pass."""
    path = str(tmp_path_factory.mktemp("combined") / "idx")
    toks = docs.select(
        "doc_id",
        "text",
        T.analyze(F.col("text")).alias("tokens"),
        T.analyze(F.col("text"), stem=False).alias("raw_tokens"),
    )
    build_posting_index(
        toks, path, fields=("text", "text_raw"),
        tokens_col={"text": "tokens", "text_raw": "raw_tokens"},
        field_stem={"text_raw": False}, store_cols=("text",),
        char_ngrams=True, char_fields=("text_raw",),
    )
    return path


def test_combined_index_serves_both_analyzers(spark, docs, combined_idx):
    """BM25 over the stemmed field equals a stemmed-only index's
    ranking; icontains over the raw field equals the corpus scan — one
    ingest, both surfaces."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.bm25 import (
        bm25_topk_from_index,
    )
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        read_posting_meta,
    )

    meta = read_posting_meta(combined_idx)
    assert meta["field_stem"] == {"text_raw": False}
    assert meta["char_fields"] == ["text_raw"]
    got = sorted(
        (r["doc_id"], r["text"])
        for r in icontains_from_index(
            spark, combined_idx, "usto", field="text_raw",
            store_field="text",
        ).collect()
    )
    assert got == _scan(docs, "usto") and got
    # stemmed BM25 unchanged by the extra raw field
    hits = bm25_topk_from_index(
        spark, combined_idx, "spark vector join", k=10
    ).collect()
    assert len(hits) == 10


def test_combined_index_chardict_scoped_to_raw_field(
    spark, docs, combined_idx
):
    """The trigram tier carries ONLY the raw field's grams — the
    stemmed vocabulary never pays the gram writes."""
    import glob

    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        _art,
        _read_artifact,
        read_posting_meta,
    )

    meta = read_posting_meta(combined_idx)
    cd = _read_artifact(
        spark, meta, _art(combined_idx, "chardict", meta), "chardict"
    )
    fields = {r["field"] for r in cd.select("field").distinct().collect()}
    assert fields == {"text_raw"}


def test_combined_index_ticks_enforce_per_field_analyzers(
    spark, docs, combined_idx, tmp_path
):
    """An upsert carrying both fields' pre-analyzed streams lands and
    serves on both surfaces; a tick that would analyze the raw field
    with the stemmer in-plan is rejected before any write."""
    new = spark.createDataFrame(
        [(9400, "a zzqqix marker documents")], "doc_id long, text string"
    ).select(
        "doc_id", "text",
        T.analyze(F.col("text")).alias("tokens"),
        T.analyze(F.col("text"), stem=False).alias("raw_tokens"),
    )
    upsert_posting_index(
        new, combined_idx, fields=("text", "text_raw"),
        tokens_col={"text": "tokens", "text_raw": "raw_tokens"},
        store_cols=("text",),
    )
    got = dict(
        (r["doc_id"], r["text"])
        for r in icontains_from_index(
            spark, combined_idx, "zqqi", field="text_raw",
            store_field="text",
        ).collect()
    )
    assert got == {9400: "a zzqqix marker documents"}
    # uncovered raw field + stemmed in-plan analysis -> loud reject
    with pytest.raises(ValueError, match="mix analyzers"):
        upsert_posting_index(
            spark.createDataFrame(
                [(9401, "nope")], "doc_id long, text string"
            ),
            combined_idx, fields=("text", "text_raw"),
            store_cols=("text",),
        )


def test_auto_dispatch_over_combined_index(spark, docs, combined_idx):
    """The API dispatcher probes the raw stream (index_field) while
    returning the stored payload column — same rows as the scan, plan
    inside the index."""
    from djangoadmin_postgresql_2_elasticseach_spark.operators.api import (
        icontains_auto,
    )

    df = icontains_auto(
        spark, docs, "usto", field="text", index_path=combined_idx,
        index_field="text_raw",
    )
    assert df.columns == ["doc_id", "text"]
    assert sorted(
        (r["doc_id"], r["text"]) for r in df.collect()
    ) == _scan(docs, "usto")
    assert df.inputFiles() and all(combined_idx in f for f in df.inputFiles())


# ---------------------------------------------------------------------------
# r15 scale sweep (r14 verdict task #6): probe bytes vs corpus growth
# ---------------------------------------------------------------------------


def _du(p):
    if not os.path.exists(p):
        return 0
    if os.path.isfile(p):
        return os.path.getsize(p)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(p)
        for f in fs
    )


def test_probe_bytes_stay_dictionary_sized_across_scale(spark):
    """The icontains candidate probe reads the fragment's gram buckets
    of the trigram DICTIONARY, and the fuzzy expansion reads tlen
    bands of the term dictionary — both vocabulary-sized, never
    corpus-sized. Measured across ~9× corpus growth (sf0.001 → sf0.1)
    on the shared cached combined index: the probed directories'
    bytes must not grow faster than the vocabulary does (the synthetic
    corpus draws from a fixed word list, so the dictionary SATURATES —
    the Heaps'-law limit — and the probed bytes stay flat while the
    corpus grows ~9×). The PartitionFilters plan pins elsewhere in
    this file prove the scans select exactly these directories, so
    directory bytes ARE the scan's post-pruning selection."""
    from tests.conftest import TESTDATA
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        _gen_root,
        fragment_grams,
        posting_index_cached,
        read_posting_meta,
        term_buckets,
        tlen_bands,
    )

    sizes = {}
    for sf in (SF_SMOKE, os.path.join(TESTDATA, "sf0.1")):
        path = posting_index_cached(
            spark, sf, store_cols=("text",), char_ngrams=True,
            raw_field="text_raw",
        )
        meta = read_posting_meta(path)
        root = _gen_root(path, meta)
        gkbs = term_buckets(
            fragment_grams("usto"), int(meta["char_ngrams"])
        )
        probe = sum(
            _du(os.path.join(root, "chardict", "field=text_raw", f"gkb={b}"))
            for b in gkbs
        )
        band = sum(
            _du(os.path.join(root, "termdict", "field=text", f"tlen={b}"))
            for b in tlen_bands(4, 6)
        )
        sizes[sf] = {
            "corpus": _du(os.path.join(sf, "documents.parquet")),
            "probe": probe,
            "band": band,
            "td_full": _du(os.path.join(root, "termdict", "field=text")),
            "cd_full": _du(os.path.join(root, "chardict")),
        }
    small, big = sizes[SF_SMOKE], sizes[os.path.join(TESTDATA, "sf0.1")]
    corpus_growth = big["corpus"] / small["corpus"]
    assert corpus_growth > 5  # the sweep is real
    # probed bytes grow no faster than the dictionary itself — here
    # the dictionary is saturated, so they are FLAT across the sweep
    assert big["probe"] <= small["probe"] * 1.5
    assert big["band"] <= small["band"] * 1.5
    # and the probes are strict subsets of their dictionaries
    for s in (small, big):
        assert 0 < s["probe"] < s["cd_full"]
        assert 0 < s["band"] < s["td_full"]
