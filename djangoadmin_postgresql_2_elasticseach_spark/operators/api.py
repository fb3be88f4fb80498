"""API-layer queries — the reference's Django REST endpoints
(reference my_app/movies/api/v1/views.py) as DataFrame transforms.

- film_listing: the annotated queryset (views.py:22-49) — per-film
  distinct genre array + role-filtered person-name arrays
  (``ArrayAgg(..., distinct=True, filter=Q(role=...))``), ordered by
  title.
- paginate: the 50-per-page envelope {count, total_pages, prev, next,
  results} (views.py:66-83).
- film_detail: the icontains-on-pk lookup returning the first match
  (views.py:92-93).
- admin_search / admin_filter: Django Admin search and list filters
  (admin.py:18-21,32-35,69-72).

Scale notes: the listing aggregates each bridge independently (same
no-cross-product design as operators/denorm.py); pagination with a
global ORDER BY title is an O(offset) operation — serve deep pages via
keyset pagination (operators/relational.paginate_after pattern) or a
precomputed page index at 100 TB.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .denorm import ROLE_SYNONYMS

logger = logging.getLogger(__name__)


def film_listing(
    film_work: DataFrame,
    genre: DataFrame,
    person: DataFrame,
    genre_film_work: DataFrame,
    person_film_work: DataFrame,
) -> DataFrame:
    """Annotated film list (reference views.py:22-49): columns id, title,
    description, creation_date, rating, type, genres, actors, directors,
    writers — ordered by title."""
    genres = (
        genre_film_work.alias("gfw")
        .join(F.broadcast(genre.alias("g")), F.col("gfw.genre_id") == F.col("g.id"), "left")
        .groupBy(F.col("gfw.film_work_id").alias("fid"))
        .agg(F.array_sort(F.collect_set(F.col("g.name"))).alias("genres"))
    )
    p = (
        person_film_work.alias("pfw")
        .join(F.broadcast(person.alias("p")), F.col("pfw.person_id") == F.col("p.id"), "left")
    )
    role_aggs = []
    for role, out_name in (("actor", "actors"), ("director", "directors"), ("writer", "writers")):
        long_name, code = ROLE_SYNONYMS[role]
        role_aggs.append(
            F.array_sort(
                F.collect_set(
                    F.when(
                        F.col("pfw.role").isin(long_name, code), F.col("p.full_name")
                    )
                )
            ).alias(out_name)
        )
    persons = p.groupBy(F.col("pfw.film_work_id").alias("fid")).agg(*role_aggs)

    fw = film_work.alias("fw")
    empty = F.array().cast("array<string>")
    return (
        fw.join(genres, F.col("fw.id") == genres.fid, "left")
        .join(persons, F.col("fw.id") == persons.fid, "left")
        .select(
            F.col("fw.id").alias("id"),
            F.col("fw.title").alias("title"),
            F.col("fw.description").alias("description"),
            F.col("fw.creation_date").alias("creation_date"),
            F.col("fw.rating").alias("rating"),
            F.col("fw.type").alias("type"),
            F.coalesce(F.col("genres"), empty).alias("genres"),
            F.coalesce(F.col("actors"), empty).alias("actors"),
            F.coalesce(F.col("directors"), empty).alias("directors"),
            F.coalesce(F.col("writers"), empty).alias("writers"),
        )
        .orderBy(F.col("title"), F.col("id"))
    )


def paginate(listing: DataFrame, page: int = 1, page_size: int = 50) -> dict:
    """Pagination envelope (reference views.py:66-83): one count() pass +
    one page slice. Returns {count, total_pages, prev, next, results}.

    The count stays a pass of its own, unlike the DSL's `hits.total`
    observation (search/dsl.py:_respond): the page is a plain offset +
    limit over an already-sorted listing, which Spark runs partition by
    partition and stops once it holds the page's rows, so a count
    observed under it sees only what the page read (650 of 999 films,
    in a trial). The page number clamp needs the count first anyway."""
    count = listing.count()
    total_pages = max(1, math.ceil(count / page_size))
    page = max(1, min(page, total_pages))
    rows = listing.offset((page - 1) * page_size).limit(page_size).collect()
    return {
        "count": count,
        "total_pages": total_pages,
        "prev": page - 1 if page > 1 else None,
        "next": page + 1 if page < total_pages else None,
        "results": [r.asDict() for r in rows],
    }


def film_detail(
    listing: DataFrame,
    pk_fragment: str,
    spark=None,
    index_path: str | None = None,
) -> dict | None:
    """Detail endpoint (reference views.py:92-93): case-insensitive
    CONTAINS on the stringified pk — the reference's odd ``icontains``
    semantics preserved — first match in id order.

    With ``spark`` + ``index_path`` (an unstemmed index whose indexed
    field is the stringified pk, pk stored), the fragment lookup
    dispatches to the index tier: candidate ids come from the pruned
    dictionary probe and the listing is SEMI-JOINED on exact ids
    (broadcast — candidate-sized) instead of contains-scanned. Any
    precondition ValueError falls back to the literal scan, so the
    endpoint's semantics never change; a StaleIndexError (the index
    needs a rebuild) propagates."""
    base = None
    if index_path is not None and spark is not None:
        from ..search.index import StaleIndexError, icontains_from_index

        try:
            hits = icontains_from_index(
                spark, index_path, pk_fragment.lower(), field="id"
            )
            base = listing.join(
                F.broadcast(
                    hits.select(F.col("doc_id").cast("string").alias("id"))
                ),
                "id",
                "left_semi",
            )
        except StaleIndexError:
            raise
        except ValueError as e:
            # precondition miss — scan below
            logger.debug("film_detail falls back to the scan: %s", e)
            base = None
    if base is None:
        base = listing.filter(
            F.lower(F.col("id")).contains(pk_fragment.lower())
        )
    row = base.orderBy("id").first()
    return row.asDict() if row else None


def admin_search(df: DataFrame, query: str, fields: list[str]) -> DataFrame:
    """Admin search (reference admin.py:21,35,72): icontains OR-reduce
    across the configured fields."""
    q = query.lower()
    cond = F.lit(False)
    for f in fields:
        cond = cond | F.lower(F.col(f).cast("string")).contains(q)
    return df.filter(cond)


def admin_filter(
    df: DataFrame,
    type_eq: str | None = None,
    created_from: str | None = None,
    created_to: str | None = None,
) -> DataFrame:
    """Admin list filters (reference admin.py:18,32,69): equality facet on
    `type` + date range on `created`."""
    out = df
    if type_eq is not None:
        out = out.filter(F.col("type") == type_eq)
    if created_from is not None:
        out = out.filter(F.col("created") >= F.lit(created_from).cast("timestamp"))
    if created_to is not None:
        out = out.filter(F.col("created") < F.lit(created_to).cast("timestamp"))
    return out


def icontains_auto(
    spark,
    docs: DataFrame,
    fragment: str,
    field: str = "text",
    index_path: str | None = None,
    id_col: str = "doc_id",
    index_field: str | None = None,
    **index_kw,
) -> DataFrame:
    """Admin icontains (reference admin.py:21 / views.py:92 — ``ILIKE
    '%q%'``) with AUTOMATIC plan dispatch: serve from the index tier
    (search/index.icontains_from_index — candidate terms from the
    trigram/termdict dictionaries → pruned posting probe → docstore
    fetch → residual verify, zero corpus reads) when the index's
    exactness preconditions hold, and fall back to the literal corpus
    scan on any precondition ValueError (stemmed index, multi-run or
    stopword-substring fragment, unselective fragment past
    max_candidate_terms, field not stored); a StaleIndexError (an index
    in a format that needs a rebuild) propagates. The two plans return
    identical rows by the serve path's exactness argument, so the API
    layer gets the index's O(fragment-buckets) read at scale without
    giving up the reference's semantics on the awkward inputs.

    Returns ``(id_col, field)`` rows — the scan branch projects the
    same two columns so callers (and the parity test) see one schema
    regardless of which plan served.

    ``index_field``: the INDEXED token stream to probe when it differs
    from the payload column — a combined stemmed+raw index (ES
    multi-fields: title + title.raw) names its raw stream e.g.
    ``text_raw`` while the payload stays stored once under ``text``;
    the scan branch always filters the payload ``field``."""
    if index_path is not None:
        from ..search.index import StaleIndexError, icontains_from_index

        try:
            hits = icontains_from_index(
                spark, index_path, fragment,
                field=index_field or field, store_field=field,
                **index_kw,
            )
            if id_col != "doc_id":
                hits = hits.withColumnRenamed("doc_id", id_col)
            return hits
        except StaleIndexError:
            raise
        except ValueError as e:
            # precondition miss — the scan IS the right plan
            logger.debug("icontains_auto falls back to the scan: %s", e)
    return docs.filter(
        F.lower(F.col(field).cast("string")).contains(fragment.lower())
    ).select(id_col, field)
