"""r12 posting/IVF-PQ index hardening: persisted layout params, the
monotonic-counter commit protocol (atomic ticks, clock independence,
crash + re-delivery semantics), the BM25 serving-stats artifact, token-
sorted row groups, tiered compaction, and the multi-field index with
dictionary-expanded fuzzy multi_match serving."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.functions import text as T
from djangoadmin_postgresql_2_elasticseach_spark.search import index as IX
from djangoadmin_postgresql_2_elasticseach_spark.search.bm25 import (
    bm25_topk,
    bm25_topk_from_index,
    multi_match_bm25,
    multimatch_bm25_from_index,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    append_posting_index,
    build_posting_index,
    compact_posting_index,
    compact_posting_index_tiered,
    delete_from_posting_index,
    doc_frequencies_from_index,
    index_stats,
    match_phrase_from_index,
    read_posting_meta,
    upsert_posting_index,
)
from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_table
from tests.conftest import POSIX_METASTORE, SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def toks(spark, docs):
    """Pre-analyzed sliver shared by the tick tests (one analyzer plan
    for the module — the chain's Catalyst cost dominates tiny ticks)."""
    return (
        docs.filter(F.col("doc_id") < 60)
        .select("doc_id", T.analyze(F.col("text")).alias("tokens"))
        .localCheckpoint(eager=True)
    )


def _df_map(spark, path):
    return {
        (r["field"], r["token"]): r["df"]
        for r in doc_frequencies_from_index(spark, path).collect()
    }


# ---------------------------------------------------------------------------
# Persisted layout parameters (verdict trap #1)
# ---------------------------------------------------------------------------


def test_n_buckets_persisted_and_honored(spark, toks, tmp_path):
    """An index built with a non-default bucket count must serve
    correctly while the module default stays 16 — the probe computes
    its partition filter from the INDEX's meta, never the constant.
    (Pre-r12 this pruned to the wrong directories: silently empty.)"""
    path = str(tmp_path / "idx8")
    build_posting_index(
        toks.filter(F.col("doc_id") < 30), path, tokens_col="tokens",
        n_buckets=8,
    )
    append_posting_index(
        toks.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        path, tokens_col="tokens",
    )
    assert IX.N_TOKEN_BUCKETS == 16  # the scenario: constant != layout
    assert read_posting_meta(path)["n_buckets"] == 8
    buckets = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(path, "postings", "field=text"))
        if d.startswith("tkb=")
    }
    assert buckets <= set(range(8))
    # serving parity: the 8-bucket index == the default-bucket index
    ref = str(tmp_path / "idx16")
    build_posting_index(toks, ref, tokens_col="tokens")
    q = "spark vector join"
    got = [(r["doc_id"], r["score"])
           for r in bm25_topk_from_index(spark, path, q, k=10).collect()]
    want = [(r["doc_id"], r["score"])
            for r in bm25_topk_from_index(spark, ref, q, k=10).collect()]
    assert got == want and len(got) == 10
    assert _df_map(spark, path) == _df_map(spark, ref)


# ---------------------------------------------------------------------------
# Commit protocol: atomic ticks, crash + re-delivery, clock independence
# ---------------------------------------------------------------------------


def test_torn_tick_is_invisible_and_redelivery_heals(spark, toks, tmp_path):
    """A tick that crashes between the postings write and the commit
    must serve the PRE-tick view (no postings-without-doclens torn
    state — verdict trap #3), and re-delivering the same batch lands it
    exactly once (no double-counted tf)."""
    path = str(tmp_path / "idx")
    first = toks.filter(F.col("doc_id") < 30)
    delta = toks.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
    build_posting_index(first, path, tokens_col="tokens")
    pre_df = _df_map(spark, path)
    pre_stats = {
        r["field"]: (r["n_docs"], r["sum_dl"])
        for r in index_stats(spark, path).collect()
    }

    # simulated crash: seq allocated, postings (only) written, NO commit
    mpath = IX._posting_meta_path(path)
    seq = IX.alloc_index_seqs(mpath, 1)
    posts, _lens = IX._posting_partials(
        delta, ("text",), "doc_id", True, "tokens", seq=seq, n_buckets=16
    )
    posts.repartition("field", "tkb").write.mode("append").partitionBy(
        "field", "tkb"
    ).parquet(os.path.join(path, "postings"))

    assert _df_map(spark, path) == pre_df
    assert {
        r["field"]: (r["n_docs"], r["sum_dl"])
        for r in index_stats(spark, path).collect()
    } == pre_stats

    # re-delivery: the normal append (fresh seq) — orphan rows fenced
    append_posting_index(delta, path, tokens_col="tokens")
    oneshot = str(tmp_path / "oneshot")
    build_posting_index(toks, oneshot, tokens_col="tokens")
    assert _df_map(spark, path) == _df_map(spark, oneshot)
    assert read_posting_meta(path)["dead_ranges"] == [[seq, seq]]
    # BM25 parity too (doclens + stats never saw the orphan rows)
    q = "spark vector join"
    assert (
        bm25_topk_from_index(spark, path, q, k=10).collect()
        == bm25_topk_from_index(spark, oneshot, q, k=10).collect()
    )
    # full compaction physically retires the orphans and resets fences
    compact_posting_index(spark, path)
    assert read_posting_meta(path)["dead_ranges"] == []
    assert _df_map(spark, path) == _df_map(spark, oneshot)


def test_long_ingest_heartbeats_keep_lease_ttl_fresh(
    spark, toks, tmp_path, monkeypatch
):
    """r14 what's-wrong #2: a long build/tick with the index on shared
    storage must HEARTBEAT its lease — a foreign host judges liveness
    purely by TTL, and a silent >TTL ingest reads as dead and gets
    stolen mid-write. With the TTL shrunk below the build duration, a
    sampler must never observe the lease older than the TTL, and a
    foreign host's verdict (TTL policy, simulated by swapping the
    hostname in the token) must stay 'live' for the whole pass."""
    import threading
    import time as _time

    import djangoadmin_postgresql_2_elasticseach_spark.metastore as MS

    # long enough that the ~TTL/3 beat cadence has 2× slack against
    # scheduler starvation on a loaded box
    monkeypatch.setattr(MS, "LEASE_TTL_S", 1.2)
    # the pass must outlive the TTL WHILE it holds the lease on any host,
    # however fast: each pooled write first waits out 1.5 TTL under the
    # lease (a stand-in for one long Spark write), so only the heartbeat
    # can keep the lease fresh
    real_write = IX._write_posting_batch
    held: list[float] = []

    def slow_write(*args, **kwargs):
        t = _time.monotonic()
        _time.sleep(1.5 * MS.LEASE_TTL_S)
        try:
            return real_write(*args, **kwargs)
        finally:
            held.append(_time.monotonic() - t)

    monkeypatch.setattr(IX, "_write_posting_batch", slow_write)
    path = str(tmp_path / "idx")
    lp = IX._lease_path(IX._posting_meta_path(path))
    store = MS.get_metastore()
    stop = threading.Event()
    seen: list[float] = []
    violations: list[str] = []

    def sample():
        while not stop.wait(0.1):
            got = store.read_lease(lp)
            if got is None:
                continue
            content, age = got
            seen.append(age)
            if age > MS.LEASE_TTL_S:
                violations.append(f"lease age {age:.2f}s > TTL")
            foreign = content.strip().replace(
                MS.socket.gethostname(), "some-other-host", 1
            )
            if MS.holder_state(foreign, age) != "live":
                violations.append(
                    f"foreign host judged holder dead at age {age:.2f}s"
                )

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    t0 = _time.time()
    build_posting_index(
        toks.filter(F.col("doc_id") < 30), path, tokens_col="tokens"
    )
    upsert_posting_index(
        toks.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        path, tokens_col="tokens",
    )
    elapsed = _time.time() - t0
    stop.set()
    t.join(timeout=2)
    assert not violations, violations
    # the scenario must be real: the pass outlived the TTL, every write
    # held the lease past it, and the sampler actually observed the lease
    assert elapsed > MS.LEASE_TTL_S
    assert len(held) == 2 and min(held) > MS.LEASE_TTL_S, held
    assert seen, "sampler never saw the lease"
    assert store.read_lease(lp) is None  # released at commit


def test_first_tick_race_loser_still_tombstones(
    spark, toks, tmp_path, monkeypatch
):
    """r14 advice #1 (TOCTOU): two processes race the FIRST tick of a
    path; both read meta=None before allocating. The loser allocates
    only after the winner commits, but deciding 'freshness' from its
    stale pre-alloc snapshot would skip the tombstone write and leave
    TWO live versions of any doc present in both batches (duplicate
    fetch rows, double-counted BM25 df/tf). Freshness — and the
    layout/store config — must be decided UNDER the lease, from the
    sidecar as it stands after allocation."""
    path = str(tmp_path / "idx")
    batch = toks.filter(F.col("doc_id") < 30)
    # the winner's first tick commits normally
    upsert_posting_index(batch, path, tokens_col="tokens")
    # the loser re-delivers the same docs, but its pre-alloc meta
    # snapshot is STALE (None) — exactly what it observed before the
    # winner committed; only the reads under the lease see the truth
    real_load = IX._load_meta
    calls = {"n": 0}

    def stale_first(mpath):
        calls["n"] += 1
        return None if calls["n"] == 1 else real_load(mpath)

    monkeypatch.setattr(IX, "_load_meta", stale_first)
    upsert_posting_index(batch, path, tokens_col="tokens")
    monkeypatch.undo()
    # exactly one live version per doc: df/tf == the one-shot oracle
    oneshot = str(tmp_path / "oneshot")
    build_posting_index(batch, oneshot, tokens_col="tokens")
    assert _df_map(spark, path) == _df_map(spark, oneshot)
    # and the loser wrote the WINNER's layout, not its stale default
    assert read_posting_meta(path)["layout_v"] == IX.LAYOUT_V
    assert "dl" in spark.read.parquet(
        os.path.join(path, "postings")
    ).columns


def test_upsert_survives_backwards_clock(spark, tmp_path, monkeypatch):
    """Liveness ordering comes from the persisted counter, not wall
    clock (verdict trap #2): an NTP step BACKWARDS between the
    tombstone and the re-add must not make the re-indexed doc vanish."""
    import time as time_mod

    from djangoadmin_postgresql_2_elasticseach_spark.search.query import (
        analyze_query,
    )

    a, b, c = analyze_query("alpha beta gamma")

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, tokens array<string>")

    path = str(tmp_path / "idx")
    build_posting_index(mk([(1, [a, b]), (2, [b, c])]), path,
                        tokens_col="tokens")

    # clock runs BACKWARDS from here on
    ticks = iter(range(10**18, 10**18 - 10**6, -10**3))
    monkeypatch.setattr(time_mod, "time_ns", lambda: next(ticks))
    upsert_posting_index(mk([(1, [c, c])]), path, tokens_col="tokens")
    got = {
        (r["field"], r["token"]): r["df"]
        for r in doc_frequencies_from_index(spark, path).collect()
    }
    assert got == {("text", b): 1, ("text", c): 2}


def test_legacy_index_bridges_to_counter(spark, tmp_path):
    """A pre-r12 index (wall-clock seqs, no counter in the meta) keeps
    serving and accepts counter-era ticks: the first allocation starts
    the counter ABOVE the clock so ordering across the migration
    boundary holds."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.query import (
        analyze_query,
    )

    a, b, c = analyze_query("alpha beta gamma")

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, tokens array<string>")

    path = str(tmp_path / "idx")
    build_posting_index(mk([(1, [a, b]), (2, [b, c])]), path,
                        tokens_col="tokens")
    # strip the r12 keys + stamp legacy wall-clock-style seqs, exactly
    # the r11 on-disk state
    mpath = IX._posting_meta_path(path)
    with open(mpath, encoding="utf-8") as fh:
        meta = json.load(fh)
    for k in ("next_seq", "committed_seq", "dead_ranges"):
        meta.pop(k, None)
    with open(mpath, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)

    assert _df_map(spark, path) == {
        ("text", a): 1, ("text", b): 2, ("text", c): 1,
    }
    upsert_posting_index(mk([(2, [a])]), path, tokens_col="tokens")
    append_posting_index(mk([(3, [c])]), path, tokens_col="tokens")
    assert _df_map(spark, path) == {
        ("text", a): 2, ("text", b): 1, ("text", c): 1,
    }
    m = read_posting_meta(path)
    assert m["committed_seq"] == m["next_seq"] > 10**18


def test_upsert_rejects_bad_config_as_clean_noop(spark, tmp_path):
    """r11 advice: a stem-mismatched upsert used to tombstone the batch
    FIRST and then raise — the docs silently vanished. Validation now
    runs before anything is written."""
    docs = spark.createDataFrame(
        [(1, "running runners"), (2, "walking walks")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build_posting_index(docs, path, stem=False)
    before = _df_map(spark, path)
    with pytest.raises(ValueError, match="stem"):
        upsert_posting_index(
            docs.filter(F.col("doc_id") == 1), path, stem=True
        )
    with pytest.raises(ValueError, match="fields"):
        upsert_posting_index(
            docs.withColumnRenamed("text", "title"), path,
            fields=("title",), stem=False,
        )
    assert _df_map(spark, path) == before
    assert not os.path.exists(os.path.join(path, "_tombstones"))


# ---------------------------------------------------------------------------
# BM25 serving stats artifact (verdict next-step #2)
# ---------------------------------------------------------------------------


def test_index_stats_tracks_live_corpus(spark, toks, tmp_path):
    """(field, n_docs, sum_dl) from the stats artifact must equal the
    live doclens aggregate through build, ticks, upserts and deletes —
    and survive both compaction modes."""
    from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
        read_doclens,
    )

    path = str(tmp_path / "idx")
    build_posting_index(
        toks.filter(F.col("doc_id") < 30), path, tokens_col="tokens"
    )
    append_posting_index(
        toks.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        path, tokens_col="tokens",
    )
    upsert_posting_index(
        toks.filter(F.col("doc_id") % 10 == 0), path, tokens_col="tokens"
    )
    delete_from_posting_index(
        spark.createDataFrame([(7,), (13,)], "doc_id long"), path
    )

    def check():
        got = {
            r["field"]: (r["n_docs"], r["sum_dl"])
            for r in index_stats(spark, path).collect()
        }
        want = {
            r["field"]: (r["n_docs"], r["sum_dl"])
            for r in read_doclens(spark, path)
            .groupBy("field")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
            .collect()
        }
        assert got == want and got["text"][0] > 0

    check()
    compact_posting_index_tiered(spark, path, max_files=0)
    check()
    compact_posting_index(spark, path)
    check()


def test_bm25_serving_plan_has_no_doclens_aggregate(spark, toks, tmp_path):
    """Plan pin for the r11 verdict flag: the serving path must not
    aggregate the O(corpus) doclens table per query — N/avgdl come from
    the stats artifact (no avg(dl) anywhere in the plan), dl joins for
    candidate docs only."""
    path = str(tmp_path / "idx")
    build_posting_index(toks, path, tokens_col="tokens")
    df = bm25_topk_from_index(spark, path, "spark vector join", k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "avg(dl" not in plan, plan[:4000]
    # the bucket partition filter is still in place
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("tkb" in ln for ln in pf_lines), plan[:4000]


# ---------------------------------------------------------------------------
# Token-sorted posting files → row-group skipping (verdict next-step #3)
# ---------------------------------------------------------------------------


def test_posting_files_are_token_sorted_row_groups(spark, toks, tmp_path):
    """Physical-layout pin: within every posting file, row groups are
    token-ordered and non-overlapping, so a pushed ``token IN`` skips
    row groups via parquet min/max stats instead of reading the whole
    bucket directory (the read-amplification fix). Forced-small row
    groups make the property observable at test scale."""
    import pyarrow.parquet as pq

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "2048")
    try:
        path = str(tmp_path / "idx")
        build_posting_index(toks, path, tokens_col="tokens")
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    files = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(path, "postings"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    multi_rg = 0
    skippable = 0
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        tok_idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.row_group(0).num_columns)
        }["token"]
        ranges = []
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(tok_idx).statistics
            assert st is not None and st.has_min_max
            ranges.append((st.min, st.max))
        # sorted within the file → ranges are ordered and disjoint
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 <= lo2
        if meta.num_row_groups > 1:
            multi_rg += 1
            probe = ranges[0][0]  # a token from the FIRST row group
            covering = sum(1 for lo, hi in ranges if lo <= probe <= hi)
            if covering < meta.num_row_groups:
                skippable += 1
    # the tiny block size must have produced real multi-row-group files,
    # and a 1-term probe must skip row groups in (at least) one of them
    # (a token exactly straddling a flush boundary can cover two groups)
    assert multi_rg > 0 and skippable >= 1


# ---------------------------------------------------------------------------
# Tiered compaction (verdict next-step #4)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not POSIX_METASTORE,
    reason="pins the POSIX per-leaf carry-by-name fold; no-rename "
    "backends fold via the generation rewrite "
    "(test_metastore_norename.py)",
)
def test_tiered_compaction_folds_hot_partition_only(spark, tmp_path):
    """The Lucene merge-policy posture: only partitions past the
    small-file threshold fold; cold partitions carry BY NAME (their
    files untouched); the tombstone set folds to one row per key; all
    served values invariant."""
    import zlib

    # two tokens in different buckets: 'hot' accumulates a file per
    # tick, 'cold' is written once at build
    hot, cold = "aaaa", None
    hb = zlib.crc32(hot.encode()) % 16
    for cand in ("bbbb", "cccc", "dddd", "eeee", "ffff", "gggg"):
        if zlib.crc32(cand.encode()) % 16 != hb:
            cold = cand
            break
    assert cold is not None

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, tokens array<string>")

    path = str(tmp_path / "idx")
    build_posting_index(mk([(0, [hot, cold])]), path, tokens_col="tokens")
    for i in range(1, 8):
        # upserts so the tombstone set grows too
        upsert_posting_index(mk([(i, [hot])]), path, tokens_col="tokens")

    def leaf_files(*parts):
        d = os.path.join(path, *parts)
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    hot_leaf = ("postings", "field=text", f"tkb={hb}")
    cold_leaf = (
        "postings", "field=text", f"tkb={zlib.crc32(cold.encode()) % 16}"
    )
    before_hot = leaf_files(*hot_leaf)
    before_cold = leaf_files(*cold_leaf)
    before_tombs = leaf_files("_tombstones")
    assert len(before_hot) > 4 and len(before_cold) == 1
    before_vals = _df_map(spark, path)
    before_stats = {
        r["field"]: (r["n_docs"], r["sum_dl"])
        for r in index_stats(spark, path).collect()
    }

    compact_posting_index_tiered(spark, path, max_files=4)

    assert leaf_files(*cold_leaf) == before_cold  # carried by name
    after_hot = leaf_files(*hot_leaf)
    assert after_hot != before_hot and len(after_hot) < len(before_hot)
    after_tombs = leaf_files("_tombstones")
    assert len(after_tombs) < len(before_tombs)
    assert os.path.exists(os.path.join(path, "_tombstones"))  # NOT cleared
    assert _df_map(spark, path) == before_vals
    assert {
        r["field"]: (r["n_docs"], r["sum_dl"])
        for r in index_stats(spark, path).collect()
    } == before_stats
    # phrase serving still healthy post-fold
    assert {
        r["doc_id"]
        for r in match_phrase_from_index(spark, path, hot, stem=False).collect()
    } == set(range(8))


# ---------------------------------------------------------------------------
# Multi-field index + dictionary-expanded fuzzy multi_match serving
# (verdict next-step #7)
# ---------------------------------------------------------------------------


def test_multifield_index_serves_multimatch_bm25(spark, docs, tmp_path):
    """multimatch_bm25_from_index == the scan-based multi_match_bm25
    (score and order, 4dp) over the same corpus, fuzzy expansion
    included — built as build + one append tick over disjoint halves
    with per-field token columns from the analyzed artifact shape."""
    sliver = docs.filter(F.col("doc_id") < 80).select(
        "doc_id", "text", "source"
    )
    analyzed = sliver.select(
        "doc_id",
        T.analyze(F.col("text")).alias("tokens"),
        T.analyze(F.col("source")).alias("source_tokens"),
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "idx")
    tcols = {"text": "tokens", "source": "source_tokens"}
    build_posting_index(
        analyzed.filter(F.col("doc_id") % 2 == 0), path,
        fields=("text", "source"), tokens_col=tcols,
    )
    append_posting_index(
        analyzed.filter(F.col("doc_id") % 2 == 1), path,
        fields=("text", "source"), tokens_col=tcols,
    )
    for q in ("spark src1", "vector join"):
        got = [
            (r["doc_id"], r["score"])
            for r in multimatch_bm25_from_index(
                spark, path, q, fields=("text", "source"), k=10
            ).collect()
        ]
        want = [
            (r["doc_id"], r["score"])
            for r in multi_match_bm25(
                sliver, q, ["text", "source"], k=10
            ).collect()
        ]
        assert got == want and len(got) == 10, q
    with pytest.raises(ValueError, match="unindexed"):
        multimatch_bm25_from_index(spark, path, "spark", fields=("lang",))


def test_multifield_per_field_serving(spark, docs, tmp_path):
    """Each field of a multi-field index serves single-field queries
    independently (BM25 + phrase), with per-field stats rows."""
    sliver = docs.filter(F.col("doc_id") < 60).select(
        "doc_id", "text", "source"
    )
    path = str(tmp_path / "idx")
    build_posting_index(sliver, path, fields=("text", "source"))
    st = {r["field"] for r in index_stats(spark, path).collect()}
    assert st == {"text", "source"}
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_from_index(
            spark, path, "spark vector", field="text", k=5
        ).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(
            sliver, "spark vector", text_col="text", k=5
        ).collect()
    ]
    assert got == want
    # source values are like 'src1' — single-term phrase on that field
    src = sliver.first()["source"]
    hits = {
        r["doc_id"]
        for r in match_phrase_from_index(
            spark, path, src, field="source"
        ).collect()
    }
    want_hits = {
        r["doc_id"] for r in sliver.filter(F.col("source") == src).collect()
    }
    assert hits == want_hits and len(hits) > 0


# ---------------------------------------------------------------------------
# IVF-PQ side of the commit protocol
# ---------------------------------------------------------------------------


def test_ivfpq_torn_upsert_invisible_and_clock_independent(
    spark, tmp_path, monkeypatch
):
    """Vector-index sibling checks: (1) a crash between an upsert's
    tombstone write and its code append serves the PRE-tick view (the
    old embedding remains live — never deleted-but-not-re-added);
    (2) liveness is counter-ordered, immune to a backwards clock."""
    import time as time_mod

    from djangoadmin_postgresql_2_elasticseach_spark.operators import (
        similarity as S,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(64).localCheckpoint(
        eager=True
    )
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    books = S.pq_codebooks_deterministic(emb, m=4, ksub=16)
    path = str(tmp_path / "ivfpq")
    planes = S.build_ivfpq_index(emb, path, books, n_planes=4)
    before = S.ivfpq_query_indexed(
        spark, path, books, q, planes, k=5, probe_hamming=4
    ).collect()

    # simulated crash: tombstones written + seq allocated, codes never
    # appended, NO commit
    mpath = S._ivfpq_meta_path(path)
    seq_t = IX.alloc_index_seqs(mpath, 2)
    changed = emb.filter(F.col("vec_id") % 3 == 0)
    changed.select(
        F.col("vec_id"), F.lit(int(seq_t)).cast("long").alias("seq")
    ).write.mode("append").parquet(os.path.join(path, "_tombstones"))
    assert (
        S.ivfpq_query_indexed(
            spark, path, books, q, planes, k=5, probe_hamming=4
        ).collect()
        == before
    )

    # re-delivery under a BACKWARDS clock: still lands exactly once
    ticks = iter(range(10**18, 10**18 - 10**6, -10**3))
    monkeypatch.setattr(time_mod, "time_ns", lambda: next(ticks))
    S.upsert_ivfpq_index(changed, path)
    after = S.ivfpq_query_indexed(
        spark, path, books, q, planes, k=5, probe_hamming=4
    ).collect()
    assert after == before  # same vectors re-encoded: identical top-k
    meta = S._ivfpq_meta(path)
    assert meta["dead_ranges"] == [[seq_t, seq_t + 1]]
    # compaction retires the fence + tombstones, values invariant
    S.compact_ivfpq_index(spark, path)
    assert S._ivfpq_meta(path)["dead_ranges"] == []
    assert (
        S.ivfpq_query_indexed(
            spark, path, books, q, planes, k=5, probe_hamming=4
        ).collect()
        == before
    )
