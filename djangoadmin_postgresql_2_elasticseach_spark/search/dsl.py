"""Elasticsearch query-DSL interpreter — the reference's search surface
accepts ES DSL JSON (Postman corpus etl/json/ETLTests-2.json, README
smoke URLs); this module runs the same JSON against our DataFrames.

Supported subset = what the reference's test corpus exercises
(SURVEY §2.9) plus the adjacent constructs an ES user reaches for next:
match_all, term, terms, ids, exists, prefix, wildcard, query_string,
multi_match (with fuzziness), nested(match), match_phrase, range
(gte/gt/lte/lt), bool (must/filter/should/must_not), terms aggregation,
size, from, sort (multi-key, id tiebreak).
Unknown constructs raise NotImplementedError loudly — no silent wrong
answers.

`search(docs, body)` → dict shaped like an ES response subset:
{"hits": {"total": {"value": N}, "hits": [{"_id", "_source", ...}]},
 "aggregations": {...}} — enough for the reference's golden assertions
to run against it.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query import analyze_query, field_tokens, multi_match_scores
from ..functions.text import analyze

logger = logging.getLogger(__name__)

DEFAULT_SIZE = 10

# ES's multi_match/fuzzy `max_expansions` default: each query term
# expands to at most this many dictionary terms (closest first) on the
# index-served path, bounding the driver-side candidate collect by
# construction (r12 verdict #6)
DEFAULT_MAX_EXPANSIONS = 50


def _apply_query(docs: DataFrame, q: dict, id_col: str) -> tuple[DataFrame, bool]:
    """Returns (filtered/scored frame, scored?)."""
    if q is None or "match_all" in q:
        return docs, False
    if "term" in q:
        field, spec = next(iter(q["term"].items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        return docs.filter(F.col(field) == F.lit(value)), False
    if "terms" in q:
        # keyword OR-list: {"terms": {"field": [v1, v2, ...]}}
        field, values = next(iter(q["terms"].items()))
        return docs.filter(F.col(field).isin(list(values))), False
    if "ids" in q:
        return docs.filter(F.col(id_col).isin(list(q["ids"]["values"]))), False
    if "exists" in q:
        return docs.filter(F.col(q["exists"]["field"]).isNotNull()), False
    if "prefix" in q:
        field, spec = next(iter(q["prefix"].items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        # ES prefix runs on the keyword (unanalyzed) field
        return docs.filter(F.col(field).startswith(str(value))), False
    if "wildcard" in q:
        field, spec = next(iter(q["wildcard"].items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        # translate ES wildcard (*, ?) to an anchored regex, escaping
        # everything else; (?s) makes */? cross newlines like Lucene's
        # wildcard matcher (Java-regex '.' stops at \n otherwise)
        import re as _re

        pattern = "(?s)^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in str(value)
        ) + "$"
        return docs.filter(F.col(field).rlike(pattern)), False
    if "query_string" in q:
        qs = q["query_string"]["query"]
        if qs == "*:*":
            return docs, False
        # ES analyzes the query with each field's analyzer — the
        # reference golden ("N//A" → 7 over the real dataset) holds
        # ONLY with full-chain analysis on both sides (stopword 'a'
        # must drop from the query exactly as it did from the index)
        fields = q["query_string"].get(
            "fields",
            [c for c, t in docs.dtypes
             if t == "string" or t == "array<string>"],
        )
        cond = F.lit(False)
        for tok in analyze_query(qs):
            for f in fields:
                cond = cond | F.array_contains(field_tokens(docs, f), tok)
        return docs.filter(cond), False
    if "multi_match" in q:
        mm = q["multi_match"]
        fields = [(f, 1.0) for f in mm["fields"]]
        # no fuzziness → max_edits=0 → the scorer skips the fuzzy term
        # entirely, so exact-only semantics are real (a doc with zero
        # exact token hits cannot score). Unsorted: `_respond` ranks the
        # page, so ranking every hit here too was a second sort
        scored = multi_match_scores(
            docs, mm["query"], fields,
            max_edits=1 if mm.get("fuzziness") else 0,
        )
        return scored, True
    if "nested" in q:
        path = q["nested"]["path"]
        inner = q["nested"]["query"]
        # unwrap bool/must (the reference corpus nests match inside it)
        matches: list[dict] = []
        stack = [inner]
        while stack:
            node = stack.pop()
            if "match" in node:
                matches.append(node["match"])
            elif "bool" in node:
                must = node["bool"].get("must", [])
                stack.extend([must] if isinstance(must, dict) else must)
            else:
                raise NotImplementedError(f"nested inner query: {list(node)}")
        def elem_pred(sub: str, toks: list[str]):
            # ES `match` default operator is OR: ONE nested element must
            # match ANY analyzed query token (reference golden: nested
            # actors.name "Greg Camp" → 6 films over the real dataset —
            # every film with a Greg* OR *Camp actor, not only the one
            # film with Greg Camp himself)
            def pred(e):
                et = analyze(e[sub])
                c = None
                for t in toks:
                    cc = F.array_contains(et, t)
                    c = cc if c is None else (c | cc)
                return c if c is not None else F.lit(False)

            return pred

        conds = None
        for m in matches:
            field, value = next(iter(m.items()))
            if isinstance(value, dict):
                value = value["query"]
            sub = field.split(".", 1)[1]  # "actors.name" → "name"
            qtoks = analyze_query(str(value))
            c = F.exists(F.col(path), elem_pred(sub, qtoks))
            conds = c if conds is None else (conds & c)
        return docs.filter(conds), False
    if "match" in q:
        field, value = next(iter(q["match"].items()))
        if isinstance(value, dict):
            value = value["query"]
        toks = analyze_query(str(value))
        cond = F.lit(False)
        for t in toks:
            cond = cond | F.array_contains(field_tokens(docs, field), t)
        return docs.filter(cond), False
    if "range" in q:
        field, spec = next(iter(q["range"].items()))
        cond = F.lit(True)
        c = F.col(field)
        ops = {
            "gte": lambda b: c >= F.lit(b),
            "gt": lambda b: c > F.lit(b),
            "lte": lambda b: c <= F.lit(b),
            "lt": lambda b: c < F.lit(b),
        }
        for op, bound in spec.items():
            if op not in ops:
                raise NotImplementedError(f"range op: {op}")
            cond = cond & ops[op](bound)
        return docs.filter(cond), False
    if "match_phrase" in q:
        field, value = next(iter(q["match_phrase"].items()))
        slop = 0
        if isinstance(value, dict):
            slop = int(value.get("slop", 0))
            value = value["query"]
        toks = analyze_query(str(value))
        # in-order token semantics over the ANALYZED stream, within a
        # `slop` gap budget — shared predicate with
        # search/query.match_phrase (single source of phrase
        # semantics). (Documented divergences: ES keeps position holes
        # where stopwords were removed, so "camp story" does NOT match
        # "camp the story" there but does here; ES slop also buys
        # reordering, this engine matches in query order only — none
        # of the reference bodies hit either.)
        from .query import phrase_condition

        if slop > 0:
            # materialize the token stream once — the sloppy chain
            # references it per term/step (see query.match_phrase)
            tmp = docs.withColumn("__mp_tokens", field_tokens(docs, field))
            return tmp.filter(
                phrase_condition(F.col("__mp_tokens"), toks, slop=slop)
            ).drop("__mp_tokens"), False
        return docs.filter(
            phrase_condition(field_tokens(docs, field), toks, slop=0)
        ), False
    if "bool" in q:
        b = q["bool"]

        def as_list(x):
            return [x] if isinstance(x, dict) else list(x or [])

        out, scored = docs, False
        for c in as_list(b.get("must")) + as_list(b.get("filter")):
            out, s = _apply_query(out, c, id_col)
            scored = scored or s
        should = as_list(b.get("should"))
        # ES default minimum_should_match: 1 when no must/filter present,
        # else 0 (should only boosts scores — we don't re-rank here)
        if should and not (b.get("must") or b.get("filter")):
            ids = None
            for c in should:
                m = _apply_query(docs, c, id_col)[0].select(id_col)
                ids = m if ids is None else ids.unionByName(m)
            out = out.join(ids.distinct(), id_col, "left_semi")
        for c in as_list(b.get("must_not")):
            m = _apply_query(docs, c, id_col)[0].select(id_col)
            out = out.join(m, id_col, "left_anti")
        return out, scored
    raise NotImplementedError(f"query construct: {list(q)}")


_METRIC_AGGS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "value_count": F.count,
    "cardinality": F.count_distinct,
}

_CALENDAR_TRUNC = {
    "second": "second", "minute": "minute", "hour": "hour", "day": "day",
    "week": "week", "month": "month", "quarter": "quarter", "year": "year",
    "1s": "second", "1m": "minute", "1h": "hour", "1d": "day",
    "1w": "week", "1M": "month", "1q": "quarter", "1y": "year",
}


def _metric_exprs(sub_aggs: dict) -> list:
    """Column expressions for metric sub-aggregations, aliased by name."""
    exprs = []
    for sname, sspec in (sub_aggs or {}).items():
        stype, sbody = next(iter(sspec.items()))
        if stype not in _METRIC_AGGS:
            raise NotImplementedError(f"sub-aggregation type: {stype}")
        exprs.append(_METRIC_AGGS[stype](F.col(sbody["field"])).alias(sname))
    return exprs


def _bucket_response(rows, sub_aggs: dict, key_fn=lambda k: k) -> list[dict]:
    buckets = []
    for r in rows:
        b: dict[str, Any] = {"key": key_fn(r["key"]), "doc_count": r["doc_count"]}
        for sname in sub_aggs or {}:
            b[sname] = {"value": r[sname]}
        buckets.append(b)
    return buckets


def _apply_aggs(docs: DataFrame, aggs: dict) -> dict:
    """Aggregations: terms / date_histogram / histogram buckets (each
    with optional metric sub-aggs) and top-level metric aggs
    (avg/sum/min/max/value_count/cardinality). All compile to ONE
    groupBy per bucket agg — partial map-side combine, the same plan an
    analytics rollup writes by hand."""
    out: dict[str, Any] = {}
    for name, spec in aggs.items():
        sub = spec.get("aggs") or spec.get("aggregations")
        if "terms" in spec:
            field = spec["terms"]["field"]
            size = spec["terms"].get("size", 10)
            # ES bucket aggs omit docs missing the field entirely
            src = docs.filter(F.col(field).isNotNull())
            col = F.col(field)
            # array fields aggregate per element (ES keyword-array semantics)
            if dict(docs.dtypes).get(field, "").startswith("array"):
                src = src.select(F.explode(col).alias(field), *[
                    c for c in src.columns if c != field
                ])
                col = F.col(field)
            rows = (
                src.groupBy(col.alias("key"))
                .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_exprs(sub))
                .orderBy(F.desc("doc_count"), F.col("key"))
                .limit(size)
                .collect()
            )
            out[name] = {"buckets": _bucket_response(rows, sub)}
        elif "date_histogram" in spec:
            body = spec["date_histogram"]
            interval = body.get("calendar_interval") or body.get(
                "fixed_interval"
            )
            if interval not in _CALENDAR_TRUNC:
                raise NotImplementedError(f"date_histogram interval: {interval}")
            key = F.date_trunc(_CALENDAR_TRUNC[interval], F.col(body["field"]))
            rows = (
                docs.filter(F.col(body["field"]).isNotNull())
                .groupBy(key.alias("key"))
                .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_exprs(sub))
                .orderBy("key")
                .collect()
            )
            out[name] = {
                "buckets": _bucket_response(
                    rows, sub, key_fn=lambda k: k.isoformat()
                )
            }
        elif "histogram" in spec:
            body = spec["histogram"]
            step = float(body["interval"])
            key = (F.floor(F.col(body["field"]) / step) * step).cast("double")
            rows = (
                docs.filter(F.col(body["field"]).isNotNull())
                .groupBy(key.alias("key"))
                .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_exprs(sub))
                .orderBy("key")
                .collect()
            )
            out[name] = {"buckets": _bucket_response(rows, sub)}
        else:
            atype, abody = next(iter(spec.items()))
            if atype not in _METRIC_AGGS:
                raise NotImplementedError(f"aggregation type: {atype}")
            row = docs.agg(
                _METRIC_AGGS[atype](F.col(abody["field"])).alias("v")
            ).collect()[0]
            out[name] = {"value": row["v"]}
    return out


def _sort_keys(body: dict, scored: bool, id_col: str) -> list[tuple[str, str]]:
    """The effective sort key list [(column, asc|desc), ...] — ES
    semantics: an explicit body `sort` takes precedence even on scored
    queries (first key primary; `_score` names the relevance column),
    relevance order when scored with no sort, plain id order otherwise
    — always with the id as the final tiebreak so pagination (from/size
    AND search_after) is total-ordered."""
    keys: list[tuple[str, str]] = []
    for s in body.get("sort") or []:
        if isinstance(s, str):
            field, order = s, "asc"
        else:
            field, spec = next(iter(s.items()))
            order = spec.get("order", "asc") if isinstance(spec, dict) else spec
        keys.append(("score" if field == "_score" else field, order))
    if not keys and scored:
        keys.append(("score", "desc"))
    keys.append((id_col, "asc"))
    return keys


def _after_predicate(keys: list[tuple[str, str]], values: list):
    """Lexicographic strictly-after filter for search_after: row > the
    cursor tuple under the sort order — the keyset-pagination predicate
    (pushes to the scan on the leading key; no O(offset) skip).

    Null-aware in the page sort's own null order, nulls last in both
    directions (ES's default ``missing: _last``): after a value come
    the later values, then the nulls, and nothing follows a null. So a
    cursor holding a null — the `sort` values of a hit whose sort field
    is null — still walks on through the later sort keys. The
    equal-prefix terms compare with ``eqNullSafe``."""
    if len(values) != len(keys):
        raise ValueError(
            f"search_after needs {len(keys)} values (one per sort key "
            f"incl. the id tiebreak), got {len(values)}"
        )

    def after(col, order, v):
        if v is None:
            return F.lit(False)
        return ((col < v) if order == "desc" else (col > v)) | col.isNull()

    cond = None
    for i, (field, order) in enumerate(keys):
        clause = after(F.col(field), order, values[i])
        for j in range(i):
            clause = F.col(keys[j][0]).eqNullSafe(F.lit(values[j])) & clause
        cond = clause if cond is None else (cond | clause)
    return cond


def search(docs: DataFrame, body: dict, id_col: str = "id") -> dict:
    """Run an ES-DSL body against a document DataFrame; returns an
    ES-response-shaped dict (hits.total.value, hits.hits[]._id/_source/
    sort, aggregations.<name>...). Supports from/size, search_after
    (keyset pagination — each hit carries its `sort` cursor), and
    collapse (one top hit per field value via a partitioned window)."""
    q = body.get("query")
    frame, scored = _apply_query(docs, q, id_col)
    return _respond(frame, scored, body, id_col)


def _respond(frame: DataFrame, scored: bool, body: dict, id_col: str) -> dict:
    """The response-building tail shared by the corpus-scan `search`
    and the index-served `search_indexed`: total count, collapse,
    search_after keyset, sort/from/size page, aggregations.

    `hits.total` and the page come from ONE Spark action: a `count(1)`
    observation sits on ``frame`` below the collapse window, the
    search_after filter and the sort, and the page's collect reports
    it. The count is exact only because every operator above the
    observation reads all of its input — the top-k sort (with or
    without `from`) and the collapse window do. Never observe above a
    plain limit over an already-sorted frame: that limit stops reading
    early and the count comes out short. The top-k is such a limit when
    ``frame`` already arrives in page order within its partitions, so
    the page sorts by one more key that no input can be sorted by.
    `size: 0` has no page and counts directly. When the optimizer
    proves the page empty (an all-stopword match under `from` or
    `collapse`) it drops the subtree, observation included, and no page
    job runs; the total is then counted."""
    from pyspark.sql import Observation, Window

    size = body.get("size", DEFAULT_SIZE)

    offset = body.get("from", 0)

    hits = []
    if not size:
        total = frame.count()
    else:
        keys = _sort_keys(body, scored, id_col)
        exprs = [
            F.col(f).desc() if d == "desc" else F.col(f).asc_nulls_last()
            for f, d in keys
        ]
        obs = Observation()
        page = frame.observe(obs, F.count(F.lit(1)).alias("total"))
        if body.get("collapse"):
            cfield = body["collapse"]["field"]
            w = Window.partitionBy(cfield).orderBy(*exprs)
            page = (
                page.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        if body.get("search_after"):
            page = page.filter(_after_predicate(keys, body["search_after"]))
        # a trailing key no input can be sorted by: a frame already in
        # page order within its partitions (a sort-merge join on the id,
        # a range scan) would let the top-k take only `from + size` rows
        # a partition. The unique id tiebreak before it means it never
        # decides an order.
        page = page.orderBy(*exprs, F.spark_partition_id())
        if offset:
            page = page.offset(offset)
        rows = page.limit(size).collect()
        # a dropped observation reports an empty row (PySpark's
        # `obs.get` fails on it), so read the JVM row itself
        got = obs._jo.getRow()
        total = got.getLong(0) if got.length() else frame.count()
        for r in rows:
            d = r.asDict(recursive=True)
            sort_vals = [d[f] for f, _ in keys]
            score = d.pop("score", None)
            hit = {"_id": str(d[id_col]), "_source": d, "sort": sort_vals}
            if score is not None:
                hit["_score"] = score
            hits.append(hit)

    resp: dict[str, Any] = {"hits": {"total": {"value": total}, "hits": hits}}
    if body.get("aggs") or body.get("aggregations"):
        resp["aggregations"] = _apply_aggs(
            frame, body.get("aggs") or body["aggregations"]
        )
    return resp


# ---------------------------------------------------------------------------
# Index-served execution: the same DSL bodies, with full-text leaves
# resolved against the incremental posting index (search/index.py)
# instead of scanning the corpus — how ES actually executes them
# (Lucene resolves every text clause to a doc-id posting intersection;
# _source is fetched for the hits only). At 100 TB the scan-based
# `search` reads the whole corpus per query; this path opens ≤ the
# query terms' bucket directories, combines doc-id sets with
# semi/anti-joins, and touches document payloads only for the
# candidate set.
# ---------------------------------------------------------------------------


def _token_candidates(spark, path: str, meta: dict, fields, tokens):
    """doc_ids holding ANY of ``tokens`` in ANY of ``fields`` — one
    bucket-pruned postings probe (partition filter from the index's
    persisted n_buckets + pushed `token IN`). A doc id repeats once per
    matching (field, token) posting: every consumer semi-joins or
    anti-joins the frame, which needs no distinct (a distinct would be
    one more shuffle and Spark job per probe). Empty token set →
    typed-empty frame (an all-stopword match clause matches nothing,
    exactly like the scan path's `lit(False)`)."""
    from .index import read_postings, term_buckets

    posts = read_postings(spark, path)
    if not tokens:
        return posts.filter(F.lit(False)).select("doc_id")
    buckets = term_buckets(tokens, meta["n_buckets"])
    return posts.filter(
        F.col("field").isin(list(fields))
        & F.col("tkb").isin(buckets)
        & F.col("token").isin(sorted(tokens))
    ).select("doc_id")


def _stemmed_field(meta: dict, field: str) -> bool:
    from .index import field_stem

    return field_stem(meta, field) is True


def _index_candidates(
    spark, path: str, q: dict, meta: dict
) -> tuple[DataFrame | None, dict | None]:
    """Split a DSL query node into (candidate doc_id frame, residual
    query). Contract per leaf:

    - EXACT index-servable (match, match_phrase, query_string with
      explicit indexed fields): (candidates, None) — the frame IS the
      leaf's result set;
    - candidate-SUPERSET servable (multi_match — scoring must re-run):
      (superset, the leaf itself) — the residual rescopes/rescores over
      the pruned payload rows, which is exact because
      multi_match_scores' score is per-doc local (no corpus stats);
    - not servable (term/range/exists/prefix/wildcard on keyword or
      numeric columns, nested, ids, match_all): (None, the leaf) — it
      runs as a plain predicate over the already-pruned payload frame.

    bool combines: must/filter children's candidate frames intersect
    (semi-joins on the slim doc_id sets); should with no positive
    context unions (only when EVERY child is exactly servable — the
    minimum_should_match=1 contract); exactly-servable must_not
    children anti-join. A node with no positively-servable child
    returns (None, node) — the caller falls back to the corpus scan.
    A candidate frame may repeat a doc id (no distinct under the
    semi-joins); search_frame_indexed semi-joins it into the docs."""
    if q is None or "match_all" in q:
        return None, q
    if "match" in q:
        field, value = next(iter(q["match"].items()))
        if isinstance(value, dict):
            value = value["query"]
        if field not in meta["fields"] or not _stemmed_field(meta, field):
            # fields indexed under a non-default analyzer (a combined
            # index's raw field) fall back to the scan — the candidate
            # probe below analyzes with the default stemmer
            return None, q
        toks = analyze_query(str(value))
        return _token_candidates(spark, path, meta, [field], toks), None
    if "match_phrase" in q:
        field, value = next(iter(q["match_phrase"].items()))
        slop = 0
        if isinstance(value, dict):
            slop = int(value.get("slop", 0))
            value = value["query"]
        if (
            field not in meta["fields"]
            or not _stemmed_field(meta, field)
            or not analyze_query(str(value))
        ):
            return None, q
        if field in (meta.get("element_fields") or []):
            # element_tokens positions span element boundaries — a
            # phrase probe would admit cross-element false positives,
            # so the leaf falls back to the scan path (which evaluates
            # phrases per element, the correct nested semantics)
            return None, q
        from .index import match_phrase_from_index

        return (
            match_phrase_from_index(
                spark, path, str(value), field=field, slop=slop
            ),
            None,
        )
    if "query_string" in q:
        qs = q["query_string"]["query"]
        fields = q["query_string"].get("fields")
        # the no-fields form searches EVERY string column of the docs
        # frame (keyword columns included) — only the explicit-fields
        # form over indexed fields is servable
        if (
            qs == "*:*"
            or not fields
            or not set(fields) <= set(meta["fields"])
            or not all(_stemmed_field(meta, f) for f in fields)
        ):
            return None, q
        toks = analyze_query(qs)
        return _token_candidates(spark, path, meta, list(fields), toks), None
    if "multi_match" in q:
        mm = q["multi_match"]
        flds = list(mm["fields"])
        if not set(flds) <= set(meta["fields"]) or not all(
            _stemmed_field(meta, f) for f in flds
        ):
            return None, q
        qtoks = analyze_query(mm["query"])
        if not qtoks:
            return None, q
        cand_tokens = set(qtoks)
        if mm.get("fuzziness"):
            # expand against the term dictionary (the length band is a
            # partition filter) — same plan multimatch_bm25_from_index
            # uses. Each query term's expansion is CAPPED at
            # max_expansions (ES's default 50, closest first —
            # Lucene's maxExpansions): the driver collect is bounded by
            # construction, |terms| · max_expansions rows, however
            # adversarial the vocabulary.
            # The cap makes this a CAPPED candidate set, NOT a superset
            # of the scan path's fuzzy hits: past max_expansions
            # dictionary terms within edit distance 1 of a query term,
            # the index-served body returns fewer hits than the scan
            # interpreter for the same query — ES-faithful divergence,
            # documented in SCALING.md (r13).
            from .index import read_termdict
            from .query import fuzzy_cond, fuzzy_distance

            max_expansions = int(
                mm.get("max_expansions", DEFAULT_MAX_EXPANSIONS)
            )
            lens_q = [len(t) for t in qtoks]
            td = read_termdict(
                spark,
                path,
                fields=tuple(flds),
                length_between=(min(lens_q) - 1, max(lens_q) + 1),
            )
            # one union of per-term TakeOrdered frames → ONE Spark job
            # and one driver round-trip for the whole expansion
            per_term = [
                td.select("token")
                .filter(fuzzy_cond(F.col("token"), t, 1))
                .distinct()
                .orderBy(
                    fuzzy_distance(F.col("token"), t, 1), F.col("token")
                )
                .limit(max_expansions)
                for t in qtoks
            ]
            merged = per_term[0]
            for p in per_term[1:]:
                merged = merged.unionByName(p)
            cand_tokens |= {r[0] for r in merged.collect()}
        return (
            _token_candidates(spark, path, meta, flds, cand_tokens),
            q,
        )
    if "nested" in q:
        # servable when the index maps the dotted nested field
        # ('actors.name' built via index.element_tokens): a posting
        # exists iff ANY element matches the token, exactly the scan
        # handler's exists(element, OR-over-tokens); multiple inner
        # match leaves AND together (semi-joins), same as its `conds`
        inner = q["nested"]["query"]
        matches: list[dict] = []
        stack = [inner]
        while stack:
            node = stack.pop()
            if "match" in node:
                matches.append(node["match"])
            elif "bool" in node:
                must = node["bool"].get("must", [])
                stack.extend([must] if isinstance(must, dict) else must)
            else:
                return None, q
        if not matches:
            return None, q
        cands = None
        for m in matches:
            fld, value = next(iter(m.items()))
            if isinstance(value, dict):
                value = value["query"]
            if fld not in meta["fields"]:
                return None, q
            toks = analyze_query(str(value))
            c = _token_candidates(spark, path, meta, [fld], toks)
            cands = c if cands is None else cands.join(c, "doc_id", "left_semi")
        return cands, None
    if "bool" in q:
        b = q["bool"]

        def as_list(x):
            return [x] if isinstance(x, dict) else list(x or [])

        cands: DataFrame | None = None
        residual: dict[str, list] = {}
        for clause in ("must", "filter"):
            for c in as_list(b.get(clause)):
                cc, rr = _index_candidates(spark, path, c, meta)
                if cc is not None:
                    cands = (
                        cc
                        if cands is None
                        else cands.join(cc, "doc_id", "left_semi")
                    )
                if rr is not None:
                    residual.setdefault(clause, []).append(rr)
        should = as_list(b.get("should"))
        had_positive = bool(as_list(b.get("must")) or as_list(b.get("filter")))
        if should and not had_positive:
            # minimum_should_match=1: the union IS the result set, so
            # every child must be exactly servable
            union = None
            for c in should:
                cc, rr = _index_candidates(spark, path, c, meta)
                if cc is None or rr is not None:
                    return None, q
                union = cc if union is None else union.unionByName(cc)
            cands = (
                union if cands is None
                else cands.join(union, "doc_id", "left_semi")
            )
        # should WITH a positive context is score-boost-only (the scan
        # path ignores it too) — dropped from the residual deliberately
        for c in as_list(b.get("must_not")):
            cc, rr = _index_candidates(spark, path, c, meta)
            if cc is not None and rr is None and cands is not None:
                cands = cands.join(cc, "doc_id", "left_anti")
            else:
                residual.setdefault("must_not", []).append(c)
        if cands is None:
            return None, q
        return cands, ({"bool": residual} if residual else None)
    return None, q


def search_frame_indexed(
    spark,
    docs: DataFrame,
    q: dict | None,
    index_path: str,
    id_col: str = "id",
) -> tuple[DataFrame, bool]:
    """Resolve a DSL query node to (frame, scored?) using the posting
    index for its full-text leaves. Contract: ``docs`` is the corpus
    the index at ``index_path`` was built/tick-maintained over (same
    rows, same analyzer — the index meta's stem must be the default
    True, else everything falls back to the scan). Falls back to the
    scan-based `_apply_query` when no leaf is index-servable."""
    from .index import read_posting_meta

    meta = read_posting_meta(index_path)
    cands: DataFrame | None = None
    residual = q
    if q is not None and meta.get("stem", True) is True:
        cands, residual = _index_candidates(spark, index_path, q, meta)
    if cands is None:
        logger.debug(
            "index %s serves no leaf of %s (%s); scanning the corpus",
            index_path, q,
            "no index-servable full-text leaf"
            if meta.get("stem", True) is True
            else "the index is not stemmed",
        )
        return _apply_query(docs, q, id_col)
    pruned = docs.join(
        cands.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
    )
    if residual is None:
        return pruned, False
    return _apply_query(pruned, residual, id_col)


def search_indexed(
    spark, docs: DataFrame, body: dict, index_path: str, id_col: str = "id"
) -> dict:
    """`search`, served from the incremental posting index: identical
    response for every body (pinned in tests — the whole replay corpus
    runs down both paths), but full-text clauses resolve to bucket-
    pruned posting probes and the corpus payload is only read for the
    candidate set. Scoring clauses (multi_match) re-score over the
    pruned rows — exact, because the DSL scorer is per-doc local.

    One Spark action serves the response: the candidate probe, the
    semi-join and the docstore read run once, and `hits.total` is a
    count observed on the matched frame under the page's top-k sort
    (see `_respond`). That count is exact because it is observed below
    an operator that reads every row, never above a plain limit."""
    frame, scored = search_frame_indexed(
        spark, docs, body.get("query"), index_path, id_col
    )
    return _respond(frame, scored, body, id_col)
