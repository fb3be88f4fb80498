"""In-plan index-time analysis stems the batch VOCABULARY on the driver,
not the rows in the plan (search/index.py:_posting_partials): the
postings equal those of the in-plan Snowball chain row for row, the
posting build's plan holds no Snowball expression, and the vocabulary
step costs one Spark job a tick."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.functions import text as T
from djangoadmin_postgresql_2_elasticseach_spark.search import index as IX
from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    build_posting_index,
    read_postings,
    upsert_posting_index,
)

ROWS = [
    # English: Porter2 suffixes and a stem collision that merges tf and
    # positions ("connection connections connected" → connect ×3)
    (1, "Connection connections connected", "The relational generalization"),
    # Russian, and a Russian stem collision (книга/книги → книг)
    (2, "Книга книги о войне", "Война и мир: великая книга"),
    # mixed-script titles
    (3, "Matrix Матрица reloaded перезагрузка", "running runners бегущий"),
    (4, "Star Wars: Звёздные войны", "hoping hopped хочется"),
    # all-stopword, empty and null
    (5, "the of and и в", "not"),
    (6, "", ""),
    (7, None, None),
    # digits, apostrophes, repeated tokens
    (8, "Ocean's 11 ocean's eleven oceans", "agreed agreement agreements"),
    (9, "generously generous generosity", "Генеральный генерал"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        ROWS, "id long, title string, description string"
    ).localCheckpoint(eager=True)


def _rows(posts):
    return sorted(
        (r.field, r.token, r.doc_id, r.tf, tuple(r.positions), r.dl)
        for r in posts.select(
            "field", "token", "doc_id", "tf", "positions", "dl"
        ).collect()
    )


def _partials(docs, fields, stem, tokens_col):
    posts, _ = IX._posting_partials(
        docs, fields, "id", stem, tokens_col, seq=1, n_buckets=16
    )
    return _rows(posts)


def _oracle(docs, fields, stem):
    """The in-plan Snowball chain: every field pre-analyzed by
    T.analyze(stem=...) and exploded as a tokens_col."""
    pre = docs.select(
        "id",
        *[T.analyze(f"`{f}`", stem=stem).alias(f"{f}_sb") for f in fields],
    )
    return _partials(pre, fields, stem, {f: f"{f}_sb" for f in fields})


@pytest.mark.parametrize("stem", [True, False])
def test_vocabulary_stemming_matches_in_plan_chain(corpus, stem):
    fields = ("title", "description")
    got = _partials(corpus, fields, stem, None)
    assert got == _oracle(corpus, fields, stem)
    if stem:
        # the corpus really exercises a merge: one (doc, stem) posting
        # carrying three surface tokens' positions
        assert ("title", "connect", 1, 3, (0, 1, 2), 3) in got
        assert any(r[1] == "книг" and r[3] == 2 for r in got)
    ids = {r[2] for r in got}
    assert not ids & {5, 6, 7}  # no rows for empty analyzed streams


def test_vocabulary_stemming_with_a_pre_analyzed_field(corpus):
    """A two-field index: one field as tokens_col, one analyzed in-plan."""
    docs = corpus.withColumn(
        "title_sb", T.analyze("`title`", stem=True)
    )
    got = _partials(
        docs, ("title", "description"), True, {"title": "title_sb"}
    )
    assert got == _oracle(corpus, ("title", "description"), True)


def test_index_built_in_plan_matches_pre_analyzed_build(spark, corpus, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_posting_index(corpus, a, fields=("title",), id_col="id")
    pre = corpus.withColumn("title_sb", T.analyze("`title`", stem=True))
    build_posting_index(
        pre, b, fields=("title",), id_col="id", tokens_col="title_sb"
    )
    assert _rows(read_postings(spark, a)) == _rows(read_postings(spark, b))


def test_posting_plan_holds_no_snowball_stage(spark, corpus, monkeypatch):
    """The checkpointed posting build's optimized plan carries tokenize
    and stopwords only — no Porter2/Russian suffix literal."""
    plans = []
    real = type(corpus).localCheckpoint

    def capture(df, *a, **k):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df, *a, **k)

    monkeypatch.setattr(type(corpus), "localCheckpoint", capture)
    IX._posting_partials(
        corpus, ("title", "description"), "id", True, None, seq=1,
        n_buckets=16,
    )
    monkeypatch.undo()
    assert len(plans) == 1
    plan = plans[0]
    assert "posexplode" in plan
    # markers of the Snowball chain's plan: its per-stage transforms,
    # its regex gates, and suffix literals (Porter2 step 2, Russian
    # superlative) that no token of the corpus contains — the vocabulary
    # table in the posting plan holds the corpus's own tokens only
    chain = (
        corpus.select(T.analyze("`title`", stem=True))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    for marker in ("transform(", "RLIKE", "ousness", "ейш"):
        assert marker in chain
        assert marker not in plan, marker
    # the vocabulary table reaches the plan as a JSON string; it must
    # fold to an array<map> literal, or every exploded token row would
    # parse the whole table again
    assert "connection" in plan  # the corpus's tokens do stem
    low = plan.lower()
    for marker in ("from_json", "jsontostructs"):
        assert marker not in low, marker


def _job_id_probe(spark):
    sc = spark.sparkContext

    def probe_id():
        g = f"probe-{uuid.uuid4()}"
        sc.setJobGroup(g, g)
        spark.range(1).count()
        sc.setJobGroup("other", "other")
        return max(sc.statusTracker().getJobIdsForGroup(g))

    return probe_id


def test_in_plan_analyzer_tick_job_budget(spark, corpus, tmp_path):
    """Jobs of one in-plan-analyzer upsert, counted by the job-id-delta
    probe of tests/test_index_v2.py:test_tick_spark_job_budget: the 10
    jobs of the in-plan Snowball chain's tick plus the one vocabulary
    job. The batch is one partition, so spread() keys the tick by
    doc_id as it does a small incremental batch."""
    probe_id = _job_id_probe(spark)
    path = str(tmp_path / "idx")
    build_posting_index(corpus, path, fields=("title",), id_col="id")
    batch = corpus.filter(F.col("id") < 5).coalesce(1).localCheckpoint(eager=True)
    n0 = probe_id()
    upsert_posting_index(batch, path, fields=("title",), id_col="id")
    tick_jobs = probe_id() - n0 - 1
    assert tick_jobs <= 11, f"in-plan analyzer tick job budget: {tick_jobs}"
