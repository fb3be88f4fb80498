"""What one IncrementalEtl tick costs: the change probe skips entities
with no changed source row, and the movies changeset prunes the bridge
tables to the affected films before its one keyed aggregation — with
the same rows as the per-bridge aggregate-then-join shape over the
whole tables."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.operators.denorm import film_changeset
from djangoadmin_postgresql_2_elasticseach_spark.sources.readers import load_movies
from djangoadmin_postgresql_2_elasticseach_spark.sources.state import JsonFileState
from djangoadmin_postgresql_2_elasticseach_spark.streaming.incremental import (
    IncrementalEtl,
    changed_film_ids,
)
from tests import movies_fixtures
from tests.movies_fixtures import _u


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("movies_tick"))
    movies_fixtures.build(d)
    return load_movies(spark, d)


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` ran), counted in a job group of its own;
    a nested call counts its jobs in its own group only."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    group = f"tick-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _edit(df, ids, ts, col=None, suffix=""):
    """Rows ``ids`` of ``df`` with ``modified = ts`` and ``suffix``
    appended to ``col`` — an admin save."""
    hit = F.col("id").isin(ids)
    out = df.withColumn(
        "modified", F.when(hit, F.lit(ts)).otherwise(F.col("modified"))
    )
    if col:
        out = out.withColumn(
            col, F.when(hit, F.concat(F.col(col), F.lit(suffix))).otherwise(F.col(col))
        )
    return out


def _counting_etl(spark, tables, state):
    """An IncrementalEtl with a no-op sink whose run_once records the
    jobs each entity ran."""
    etl = IncrementalEtl(state, dict(tables), lambda df, entity: None)
    per_entity = {}
    run_once = etl.run_once

    def counted(entity):
        n, jobs = _jobs(spark, lambda: run_once(entity))
        per_entity[entity] = jobs
        return n

    etl.run_once = counted
    return etl, per_entity


def test_unchanged_entities_run_no_jobs(spark, tables, tmp_path):
    """After the cold-start tick, a tick with nothing changed is the
    probe's one job; a tick with only a film edit plans movies alone —
    genres and persons run no job and report 0."""
    state = JsonFileState(str(tmp_path / "state.json"))
    etl, per_entity = _counting_etl(spark, tables, state)
    assert etl.run_tick() == {"movies": 10, "genres": 5, "persons": 7}

    per_entity.clear()
    out, jobs = _jobs(spark, etl.run_tick)
    assert out == {"movies": 0, "genres": 0, "persons": 0}
    assert per_entity == {} and jobs == 1

    etl.tables["film_work"] = _edit(
        tables["film_work"], [_u("6f", 1)], dt.datetime(2024, 2, 1), "title", "!"
    )
    out, jobs = _jobs(spark, etl.run_tick)
    assert out == {"movies": 1, "genres": 0, "persons": 0}
    # the probe; the movies entity's jobs count in its own group
    assert set(per_entity) == {"movies"} and jobs == 1


def _per_bridge_changeset(fw, genre, person, gfw, pfw):
    """The shape film_changeset replaced: each bridge aggregated over
    the whole table, then left-joined to the films."""
    pp = (
        pfw.alias("pfw")
        .join(F.broadcast(person.alias("p")),
              F.col("pfw.person_id") == F.col("p.id"), "left")
        .groupBy(F.col("pfw.film_work_id").alias("fid"))
        .agg(
            F.array_sort(F.collect_set(F.when(
                F.col("p.id").isNotNull(),
                F.struct(
                    F.col("pfw.role").alias("person_role"),
                    F.col("p.id").alias("person_id"),
                    F.col("p.full_name").alias("person_name"),
                ),
            ))).alias("persons"),
            F.max("p.modified").alias("pm"),
        )
    )
    gg = (
        gfw.alias("gfw")
        .join(F.broadcast(genre.alias("g")),
              F.col("gfw.genre_id") == F.col("g.id"), "left")
        .groupBy(F.col("gfw.film_work_id").alias("fid"))
        .agg(
            F.array_sort(F.collect_set("g.name")).alias("genres"),
            F.max("g.modified").alias("gm"),
        )
    )
    return (
        fw.alias("fw")
        .join(pp.alias("pp"), F.col("fw.id") == F.col("pp.fid"), "left")
        .join(gg.alias("gg"), F.col("fw.id") == F.col("gg.fid"), "left")
        .select(
            "fw.id", "fw.title", "fw.description", "fw.rating", "fw.type",
            F.greatest("fw.modified", "pp.pm", "gg.gm").alias("modified"),
            F.coalesce("pp.persons", F.array()).alias("persons"),
            F.coalesce("gg.genres", F.array()).alias("genres"),
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pruned_changeset_equals_per_bridge_shape(spark, tables):
    """A genre-rename tick (plus an own edit of the film with no links)
    and then a person-rename tick: the changeset over the affected films
    equals the per-bridge shape over the unpruned tables restricted to
    those films. Covered: multi-genre multi-person (fw 5), no persons
    (fw 10), no genres (fw 6), neither (fw 4)."""
    t = dict(tables)
    ticks = [
        (
            dt.datetime(2024, 1, 30),
            {"genre": ([_u("67", 1), _u("67", 5)], "name", " (renamed)"),
             "film_work": ([_u("6f", 4)], "title", " (edited)")},
            {1, 2, 4, 5, 8, 10},
        ),
        (
            dt.datetime(2024, 1, 31),
            {"person": ([_u("70", 2)], "full_name", " Jr.")},
            {1, 5, 6, 7},
        ),
    ]
    for i, (ts, edits, want_films) in enumerate(ticks):
        ckpt = str(ts - dt.timedelta(hours=1))
        for name, (ids, col, suffix) in edits.items():
            t[name] = _edit(t[name], ids, ts, col, suffix)
        affected = changed_film_ids(
            t["film_work"], t["genre"], t["person"],
            t["genre_film_work"], t["person_film_work"], ckpt,
        )
        fw = t["film_work"].join(
            affected, t["film_work"].id == affected.film_id, "left_semi"
        )
        got = _rows(film_changeset(
            fw, t["genre"], t["person"], t["genre_film_work"], t["person_film_work"]
        ))
        ids = {_u("6f", k) for k in want_films}
        assert {r[0] for r in got} == ids, f"tick {i + 1}"
        want = _rows(_per_bridge_changeset(
            t["film_work"], t["genre"], t["person"],
            t["genre_film_work"], t["person_film_work"],
        ).filter(F.col("id").isin(sorted(ids))))
        assert got == want, f"tick {i + 1}"
        by_id = {r[0]: r for r in got}
        assert len(by_id[_u("6f", 5)][6]) == 5 and len(by_id[_u("6f", 5)][7]) == 3
        assert all(r[5] == ts for r in got)
        if i == 0:
            assert by_id[_u("6f", 4)][6:] == ([], [])
            assert by_id[_u("6f", 10)][6] == []
        else:
            assert by_id[_u("6f", 6)][7] == []


# The movies entity's jobs on the fixture: change set, its one-job
# aggregate into the cache. The parent shape — a whole-table aggregate
# per bridge, two left joins, a distinct affected set and a count+max
# aggregate — ran 14 on the benchmark's ingest tick.
MOVIES_CHANGESET_JOBS = 9


def test_movies_changeset_job_budget(spark, tables, tmp_path):
    """Pins the jobs of one movies run_once (no-op sink, so all of them
    are the changeset's) after a person rename."""
    state = JsonFileState(str(tmp_path / "state.json"))
    state.set_state("last_movies_updated", "2024-01-30 00:00:00")
    t = dict(tables)
    t["person"] = _edit(
        t["person"], [_u("70", 2)], dt.datetime(2024, 1, 31), "full_name", " Jr."
    )
    etl = IncrementalEtl(state, t, lambda df, entity: None)
    n, jobs = _jobs(spark, lambda: etl.run_once("movies"))
    assert n == 4
    assert jobs <= MOVIES_CHANGESET_JOBS
