"""Denormalizing document builders — the reference's three ETL queries
(movies / genres / persons) as DataFrame transforms.

Reference queries: ``etl/main.py:24-38`` (movies), ``:40-49`` (genres),
``:51-60`` (persons); row-shaping ``index_prep_*`` at ``:67-119``.

Spark-first design decision (SURVEY §2.3 ⚠): the reference joins BOTH
bridge tables onto film_work in one query, materializing a genres ×
persons cross-product per film and collapsing it with DISTINCT inside the
aggregates. We UNION the film rows, the credit rows and the genre-link
rows (each bridge semi-joined to the films being built first) and group
by film id once — one shuffle, no blow-up, no join back. Output arrays
are identical (tests pin equality on films with multiple genres AND
multiple persons) and the plan scales linearly in the films being built
plus their bridge rows instead of quadratically per film. At 100 TB the
cross-product shape is the difference between a working job and an OOM.

Ordering: PG's ``array_agg(DISTINCT ...)`` returns sorted distinct values;
we use ``array_sort(collect_set(...))`` for deterministic parity.
NULL semantics: PG's un-FILTERed ``array_agg`` keeps NULLs (``[NULL]`` for
a film with no genres — reference etl/main.py:29); the declared engine
semantics is the empty array (FIXTURES.md edge 1), via
``coalesce(..., array())``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROLE_SYNONYMS = {
    # Data uses long spellings; Django choices use 2-letter codes
    # (reference etl/main.py:77-86 accepts both).
    "actor": ("actor", "AC"),
    "director": ("director", "DR"),
    "writer": ("writer", "WR"),
}


def _person_rows(person_film_work: DataFrame, person: DataFrame) -> DataFrame:
    """One row per credit: the distinct-able person struct the
    ``json_agg(DISTINCT jsonb_build_object('person_role', ...,
    'person_id', ..., 'person_name', ...)) FILTER (WHERE p.id IS NOT
    NULL)`` aggregate collects (reference etl/main.py:27-28), NULL for a
    dangling person id, plus the person's ``modified``."""
    joined = person_film_work.alias("pfw").join(
        F.broadcast(person.alias("p")),
        F.col("pfw.person_id") == F.col("p.id"),
        "left",
    )
    return joined.select(
        F.col("pfw.film_work_id").alias("film_work_id"),
        F.when(
            F.col("p.id").isNotNull(),
            F.struct(
                F.col("pfw.role").alias("person_role"),
                F.col("p.id").alias("person_id"),
                F.col("p.full_name").alias("person_name"),
            ),
        ).alias("person"),
        F.col("p.modified").alias("_modified"),
    )


def _genre_rows(genre_film_work: DataFrame, genre: DataFrame) -> DataFrame:
    """One row per genre link: the name ``array_agg(DISTINCT g.name)``
    collects (reference etl/main.py:29) and the genre's ``modified``."""
    joined = genre_film_work.alias("gfw").join(
        F.broadcast(genre.alias("g")),
        F.col("gfw.genre_id") == F.col("g.id"),
        "left",
    )
    return joined.select(
        F.col("gfw.film_work_id").alias("film_work_id"),
        F.col("g.name").alias("genre"),
        F.col("g.modified").alias("_modified"),
    )


def film_changeset(
    film_work: DataFrame,
    genre: DataFrame,
    person: DataFrame,
    genre_film_work: DataFrame,
    person_film_work: DataFrame,
) -> DataFrame:
    """The movies denormalization query (reference etl/main.py:24-38):
    one row per film with `persons` struct array, `genres` name array, and
    ``modified = greatest(fw.modified, max(p.modified), max(g.modified))``
    (reference etl/main.py:26 — the change-version of the derived row).

    ``film_work`` is the set of films to denormalize — the whole table
    or an affected subset; the bridges are semi-joined to its ids first,
    so the cost follows that set, not the bridge tables. Film rows,
    credit rows and genre-link rows are then unioned and grouped by film
    id once: ``collect_set`` skips the NULLs the other row kinds carry,
    so a film with no persons or no genres gets ``[]``, and ``max`` over
    all three ``modified`` values is the ``greatest`` above.

    Columns: id, title, description, rating, type, modified, persons, genres.
    """
    ids = film_work.select(F.col("id").alias("_fid"))
    pfw = person_film_work.join(
        ids, person_film_work.film_work_id == ids._fid, "left_semi"
    )
    gfw = genre_film_work.join(
        ids, genre_film_work.film_work_id == ids._fid, "left_semi"
    )
    films = film_work.select(
        F.col("id").alias("film_work_id"),
        F.struct("modified", "title", "description", "rating", "type").alias("film"),
        F.col("modified").alias("_modified"),
    )
    rows = films.unionByName(
        _person_rows(pfw, person), allowMissingColumns=True
    ).unionByName(_genre_rows(gfw, genre), allowMissingColumns=True)
    return (
        rows.groupBy("film_work_id")
        .agg(
            # the group's non-NULL `film` is its film row (the latest
            # version, should a batch hold two); max, not first, keeps
            # the aggregate deterministic
            F.max("film").alias("film"),
            F.max("_modified").alias("modified"),
            F.array_sort(F.collect_set("person")).alias("persons"),
            F.array_sort(F.collect_set("genre")).alias("genres"),
        )
        .select(
            F.col("film_work_id").alias("id"),
            F.col("film.title").alias("title"),
            F.col("film.description").alias("description"),
            F.col("film.rating").alias("rating"),
            F.col("film.type").alias("type"),
            "modified",
            "persons",
            "genres",
        )
    )


def _role_names(role: str):
    """`[p.person_name for p in persons if p.person_role in {role, CODE}]`
    as a higher-order filter+transform (reference etl/main.py:77-86)."""
    long_name, code = ROLE_SYNONYMS[role]
    filtered = F.filter(
        F.col("persons"),
        lambda p: (p["person_role"] == long_name) | (p["person_role"] == code),
    )
    return filtered


def movie_docs(changeset: DataFrame) -> DataFrame:
    """Shape the film changeset into the movies index doc
    (reference index_prep_movie, etl/main.py:67-90; mapping
    es_movies.json:44-105).

    Asymmetry preserved: `director` is ','-joined (NO space, reference
    etl/main.py:77) while actors/writers stay arrays.
    """
    directors = _role_names("director")
    actors = _role_names("actor")
    writers = _role_names("writer")
    as_name = lambda arr: F.transform(arr, lambda p: p["person_name"])  # noqa: E731
    as_ref = lambda arr: F.transform(  # noqa: E731
        arr,
        lambda p: F.struct(
            p["person_id"].alias("id"), p["person_name"].alias("name")
        ),
    )
    return changeset.select(
        F.col("id"),
        F.col("rating").alias("imdb_rating"),
        F.col("genres").alias("genre"),
        F.col("title"),
        F.col("description"),
        F.concat_ws(",", as_name(directors)).alias("director"),
        as_name(actors).alias("actors_names"),
        as_name(writers).alias("writers_names"),
        as_ref(actors).alias("actors"),
        as_ref(writers).alias("writers"),
        F.col("modified"),
    )


def genre_docs(
    genre: DataFrame, genre_film_work: DataFrame, film_work: DataFrame
) -> DataFrame:
    """Genres index doc (reference etl/main.py:40-49 + index_prep_genre
    :93-105): per-genre distinct film-id array.

    The reference round-trips through ``STRING_AGG(..., ', ')`` then
    ``.split(', ')`` (etl/main.py:42,101) — and would crash on a genre
    with zero films (NULL aggregate). We keep the typed array and define
    the empty case as ``[]`` (FIXTURES.md edge 6).
    """
    joined = genre.alias("g").join(
        genre_film_work.alias("gfw"),
        F.col("gfw.genre_id") == F.col("g.id"),
        "left",
    )
    return (
        joined.groupBy("g.id", "g.name", "g.description", "g.modified")
        .agg(
            F.coalesce(
                F.array_sort(F.collect_set(F.col("gfw.film_work_id"))), F.array()
            ).alias("film_ids")
        )
        .select(
            F.col("id"),
            F.col("name"),
            F.col("description"),
            F.col("film_ids"),
            F.col("modified"),
        )
    )


def person_docs(person: DataFrame, person_film_work: DataFrame) -> DataFrame:
    """Persons index doc (reference etl/main.py:51-60 + index_prep_person
    :108-119): per-person array of {film_id, role} structs.

    The reference's join to film_work is vestigial (no fw columns used,
    SURVEY §2.3 J6) — dropped here; row counts are unchanged because
    film_work_id is NOT NULL.
    """
    joined = person.alias("p").join(
        person_film_work.alias("pfw"),
        F.col("pfw.person_id") == F.col("p.id"),
        "left",
    )
    return (
        joined.groupBy("p.id", "p.full_name", "p.modified")
        .agg(
            F.coalesce(
                F.array_sort(
                    F.collect_set(
                        F.when(
                            F.col("pfw.film_work_id").isNotNull(),
                            F.struct(
                                F.col("pfw.film_work_id").alias("film_id"),
                                F.col("pfw.role").alias("role"),
                            ),
                        )
                    )
                ),
                F.array(),
            ).alias("films")
        )
        .select(
            F.col("id"), F.col("full_name"), F.col("films"), F.col("modified")
        )
    )
