"""Output checks made apart from the engine: DuckDB SQL over the generator's
parquet snapshot and plain Python over the generator's rows.

Every ``check_*`` function returns a list of human-readable mismatches
(empty = the output is right). Nothing here imports the engine; text is
tokenized by lowercasing and splitting on non-letters, which is exact for
the generator's analyzer-invariant vocabulary (see catalog.py).
"""

from __future__ import annotations

import math
import os
import re

import duckdb

K1, B = 1.2, 0.75
_SPLIT = re.compile(r"[^0-9a-zA-ZЀ-ӿ]+")


def tokens(text) -> list[str]:
    if text is None:
        return []
    return [t for t in _SPLIT.split(text.lower()) if t]


def connect(snapshot: dict[str, str]):
    """DuckDB connection with one view per snapshot table."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name, d in snapshot.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(d, '*.parquet')}')"
        )
    return con


# ---------------------------------------------------------------------------
# oracle computations
# ---------------------------------------------------------------------------

_DOCS_SQL = """
WITH pp AS (
  SELECT pfw.film_work_id AS fid,
    coalesce(string_agg(p.full_name, ',' ORDER BY p.id)
             FILTER (WHERE pfw.role = 'director'), '') AS director,
    coalesce(list(p.full_name ORDER BY p.id)
             FILTER (WHERE pfw.role = 'actor'), []) AS actors_names,
    coalesce(list(p.full_name ORDER BY p.id)
             FILTER (WHERE pfw.role = 'writer'), []) AS writers_names
  FROM person_film_work pfw JOIN person p ON p.id = pfw.person_id
  GROUP BY 1),
gg AS (
  SELECT gfw.film_work_id AS fid, list_sort(list_distinct(list(g.name))) AS genre
  FROM genre_film_work gfw JOIN genre g ON g.id = gfw.genre_id
  GROUP BY 1)
SELECT fw.id, fw.title, fw.description, fw.rating AS imdb_rating,
  coalesce(gg.genre, []) AS genre, coalesce(pp.director, '') AS director,
  coalesce(pp.actors_names, []) AS actors_names,
  coalesce(pp.writers_names, []) AS writers_names
FROM film_work fw
LEFT JOIN pp ON pp.fid = fw.id
LEFT JOIN gg ON gg.fid = fw.id
"""

DOC_FIELDS = ("title", "description", "imdb_rating", "genre", "director",
              "actors_names", "writers_names")


def movie_docs(con, ids=None) -> dict[str, dict]:
    """Denormalized movie docs (reference etl/main.py:67-90 shape)."""
    sql = _DOCS_SQL
    params = []
    if ids is not None:
        sql = f"SELECT * FROM ({_DOCS_SQL}) WHERE id IN (SELECT unnest(?))"
        params = [list(ids)]
    cur = con.execute(sql, params)
    cols = [d[0] for d in cur.description]
    return {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}


def listing_page(con, page: int, page_size: int = 50):
    """(count, [(id, title, genres, actors, directors, writers)]) of one
    list page ordered by (title, id)."""
    count = con.execute("SELECT count(*) FROM film_work").fetchone()[0]
    rows = con.execute(
        """
        WITH names AS (
          SELECT pfw.film_work_id AS fid,
            list_sort(list_distinct(list(p.full_name) FILTER (WHERE pfw.role='actor'))) AS actors,
            list_sort(list_distinct(list(p.full_name) FILTER (WHERE pfw.role='director'))) AS directors,
            list_sort(list_distinct(list(p.full_name) FILTER (WHERE pfw.role='writer'))) AS writers
          FROM person_film_work pfw JOIN person p ON p.id = pfw.person_id GROUP BY 1),
        gg AS (
          SELECT gfw.film_work_id AS fid, list_sort(list_distinct(list(g.name))) AS genres
          FROM genre_film_work gfw JOIN genre g ON g.id = gfw.genre_id GROUP BY 1)
        SELECT fw.id, fw.title, coalesce(gg.genres, []), coalesce(n.actors, []),
               coalesce(n.directors, []), coalesce(n.writers, [])
        FROM film_work fw LEFT JOIN names n ON n.fid = fw.id
        LEFT JOIN gg ON gg.fid = fw.id
        ORDER BY fw.title, fw.id LIMIT ? OFFSET ?
        """,
        [page_size, (page - 1) * page_size],
    ).fetchall()
    return count, rows


def detail_first(con, fragment: str):
    return con.execute(
        "SELECT min(id) FROM film_work WHERE contains(lower(id), ?)",
        [fragment.lower()],
    ).fetchone()[0]


def admin_filter_ids(con, type_eq, created_from, created_to) -> set[str]:
    return {
        r[0] for r in con.execute(
            "SELECT id FROM film_work WHERE type = ? AND created >= ?::TIMESTAMP "
            "AND created < ?::TIMESTAMP", [type_eq, created_from, created_to],
        ).fetchall()
    }


def bm25_scores(docs: dict[str, dict], field: str, query: str) -> dict[str, float]:
    """BM25 (k1=1.2, b=0.75, Lucene idf) of every matching doc; N and avgdl
    over the docs whose field holds at least one token."""
    qterms = tokens(query)
    toks = {i: tokens(d[field]) for i, d in docs.items()}
    toks = {i: t for i, t in toks.items() if t}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {q: sum(1 for t in toks.values() if q in t) for q in set(qterms)}
    out = {}
    for i, t in toks.items():
        s, hit = 0.0, False
        for q in qterms:
            tf = t.count(q)
            hit = hit or tf > 0
            idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(t) / avgdl))
        if hit:
            out[i] = s
    return out


def multi_match_scores(con, docs: dict[str, dict], fields, query: str,
                       fuzzy: bool) -> dict[str, float]:
    """Per doc Σ_fields Σ_terms (3·exact + 1·fuzzy), fuzzy = some other
    token within OSA distance 1 (DuckDB ``damerau_levenshtein``)."""
    qterms = tokens(query)
    vocab = sorted({t for d in docs.values() for f in fields for t in tokens(d[f])})
    near = {q: set() for q in qterms}
    if fuzzy and vocab:
        for q in set(qterms):
            near[q] = {
                r[0] for r in con.execute(
                    "SELECT w FROM (SELECT unnest(?) AS w) "
                    "WHERE w <> ? AND damerau_levenshtein(w, ?) <= 1",
                    [vocab, q, q],
                ).fetchall()
            }
    out = {}
    for i, d in docs.items():
        s = 0
        for f in fields:
            ts = set(tokens(d[f]))
            for q in qterms:
                s += 3 * (q in ts) + (1 if ts & near[q] else 0)
        if s > 0:
            out[i] = float(s)
    return out


def phrase_hits(docs: dict[str, dict], field: str, phrase: str) -> set[str]:
    q = tokens(phrase)
    out = set()
    for i, d in docs.items():
        t = tokens(d[field])
        if any(t[k:k + len(q)] == q for k in range(len(t) - len(q) + 1)):
            out.add(i)
    return out


def match_hits(docs: dict[str, dict], field: str, query: str) -> set[str]:
    q = set(tokens(query))
    return {i for i, d in docs.items() if q & set(tokens(d[field]))}


# ---------------------------------------------------------------------------
# checks: program output vs oracle
# ---------------------------------------------------------------------------


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) < 1e-9
    return a == b


def check_docs(got: dict[str, dict], want: dict[str, dict], what: str) -> list[str]:
    """Stored movie docs (genres, director string, actor and writer lists)."""
    bad = []
    if set(got) != set(want):
        bad.append(f"{what}: doc ids differ ({len(set(got) ^ set(want))} ids)")
    for i in sorted(set(got) & set(want)):
        for f in DOC_FIELDS:
            g, w = got[i].get(f), want[i][f]
            if isinstance(g, (list, tuple)) or isinstance(w, (list, tuple)):
                g, w = list(g or []), list(w or [])
            if not _same(g, w):
                bad.append(f"{what}: {i} {f}: got {g!r}, want {w!r}")
                break
    return bad


def check_tick_docs(emitted: dict, tick: dict) -> list[str]:
    """Docs emitted by one poll tick: every affected film's movie doc and
    one persons doc per renamed person, no genre docs."""
    want = {"movies": len(tick["affected"]), "genres": 0,
            "persons": len(tick["renamed"])}
    if emitted != want:
        return [f"tick {tick['tick']}: emitted {emitted}, want {want}"]
    return []


def check_checkpoint(checkpoint, tick: dict, want) -> list[str]:
    """The movies checkpoint a tick commits is the max ``modified`` of its
    emitted docs."""
    if checkpoint is None or checkpoint[:19] != str(want)[:19]:
        return [f"tick {tick['tick']}: checkpoint {checkpoint}, want {want}"]
    return []


def tick_checkpoint(tick: dict, catalog):
    """max over the affected films of greatest(fw, max(p), max(g)).modified."""
    pmod: dict[str, object] = {}
    for r in catalog.pfw:
        m = catalog.persons[r["person_id"]]["modified"]
        f = r["film_work_id"]
        if f in tick["affected"] and (f not in pmod or m > pmod[f]):
            pmod[f] = m
    gmod: dict[str, object] = {}
    for r in catalog.gfw:
        m = catalog.genres[r["genre_id"]]["modified"]
        f = r["film_work_id"]
        if f in tick["affected"] and (f not in gmod or m > gmod[f]):
            gmod[f] = m
    return max(
        max(x for x in (catalog.films[f]["modified"], pmod.get(f), gmod.get(f)) if x)
        for f in tick["affected"]
    )


def check_live_ids(got_ids, want: set[str]) -> list[str]:
    got = list(got_ids)
    bad = []
    if len(got) != len(set(got)):
        bad.append(f"live index holds {len(got) - len(set(got))} duplicate docs")
    if set(got) != want:
        bad.append(f"live index ids differ from the catalog: "
                   f"{len(set(got) - want)} extra, {len(want - set(got))} missing")
    return bad


def check_list_page(resp: dict, page: int, con) -> list[str]:
    count, rows = listing_page(con, page)
    bad = []
    if resp["count"] != count or resp["total_pages"] != max(1, math.ceil(count / 50)):
        bad.append(f"list page {page}: count {resp['count']}/{resp['total_pages']} "
                   f"want {count}")
    got = [(r["id"], r["title"], list(r["genres"]), list(r["actors"]),
            list(r["directors"]), list(r["writers"])) for r in resp["results"]]
    want = [(r[0], r[1], *[list(x) for x in r[2:]]) for r in rows]
    if got != want:
        bad.append(f"list page {page}: rows differ from (title, id) order")
    return bad


def check_detail(resp, fragment: str, con) -> list[str]:
    want = detail_first(con, fragment)
    got = resp["id"] if resp else None
    return [] if got == want else [f"detail {fragment!r}: got {got}, want {want}"]


def check_hit_set(got_total: int, got_ids: list, want: set[str], size: int,
                  what: str) -> list[str]:
    """Unscored search: total and the first page in id order."""
    bad = []
    if got_total != len(want):
        bad.append(f"{what}: total {got_total}, want {len(want)}")
    if list(got_ids) != sorted(want)[:size]:
        bad.append(f"{what}: page ids differ")
    return bad


def check_ranked(got: list[tuple[str, float]], want: dict[str, float], k: int,
                 what: str, tol: float = 1e-3) -> list[str]:
    """Top-k (score desc, id asc): each returned score recomputed, and the
    returned scores are the k best."""
    bad = []
    best = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(got) != len(best):
        return [f"{what}: {len(got)} hits, want {len(best)}"]
    for (gid, gs), (_, ws) in zip(got, best):
        if gid not in want or abs(want[gid] - gs) > tol:
            bad.append(f"{what}: {gid} score {gs}, want {want.get(gid)}")
            break
        if abs(gs - ws) > tol:
            bad.append(f"{what}: rank score {gs}, want {ws}")
            break
    return bad


def check_wave(emitted: dict, n_films: int) -> list[str]:
    got = emitted.get("movies")
    return [] if got == n_films else [f"catalog wave emitted {got} docs, want {n_films}"]


def check_old_token(total: int, fid: str, tok: str) -> list[str]:
    return [] if total == 0 else [f"edited film {fid} still matches old token {tok!r}"]


def check_set(got, want: set[str], what: str) -> list[str]:
    got = list(got)
    if len(got) != len(set(got)) or set(got) != set(want):
        return [f"{what}: {len(got)} ids, want {len(want)}"]
    return []


def search_hits(kind: str, p: dict, docs: dict[str, dict]) -> set[str]:
    """Hit set of the benchmark's match / term / bool request bodies."""
    if kind == "match":
        return match_hits(docs, p["field"], p["q"])
    if kind == "term":
        return {i for i, d in docs.items()
                if d["imdb_rating"] is not None and abs(d["imdb_rating"] - p["rating"]) < 1e-9}
    must = match_hits(docs, "title", p["must"]) - match_hits(docs, "title", p["not"])
    return {i for i in must
            if docs[i]["imdb_rating"] is not None and docs[i]["imdb_rating"] >= p["gte"]}


def check_search(out: dict, want: set[str], what: str) -> list[str]:
    return check_hit_set(out["total"], [h[0] for h in out["hits"]], want, 10, what)


def check_scored_search(out: dict, want: dict[str, float], k: int, what: str) -> list[str]:
    bad = [] if out["total"] == len(want) else [
        f"{what}: total {out['total']}, want {len(want)}"]
    return bad + check_ranked(out["hits"], want, k, what)
