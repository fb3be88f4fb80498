"""Seeded movies-catalog generator for the benchmark.

Writes the five movies tables in ``schemas.MOVIES_TABLES`` form as parquet
snapshots: one for the initial catalog wave and one per edit tick. The same
seed always yields the same rows.

Text is drawn Zipf-style from a vocabulary of pseudo-words that the engine's
analyzer leaves unchanged (lowercase, no stopwords, already a Snowball stem),
so an independent checker can tokenize by lowercasing and splitting on
non-letters. ``vocabulary()`` asserts that property when it builds the list.

Edge cases the catalog always contains (FIXTURES.md): films with no genres
and no persons, one person in several roles on one film, NULL descriptions,
Cyrillic words, titles that differ only by case, and id fragments that match
several film ids.

The catalog's shape follows the reference dump (SURVEY.md §1.3: 999 films,
26 genres, 4,166 persons, 2,231 genre links, 5,783 person links, roles 3,401
actor / 821 director / 1,561 writer), scaled to ``n_films``: 26 genres, 4.17
persons and about 2.2 genre links and 5.8 credits per film. A credit goes to
a person not yet credited with probability ``P_NEW_PERSON`` (persons ÷ links
in the dump), otherwise to the person of a random earlier credit, so a few
persons are credited often and most once, about 1.4 films per person.

An edit tick has a fixed make-up (``TICK_INSERTS`` new films,
``TICK_EDITS`` film title/description rewrites, ``TICK_RENAMES`` person
renames, each renamed person credited on exactly ``RENAME_FANOUT`` films), so
every tick re-emits the same number of movie docs. The reference publishes no
edit rates; the make-up is an assumption sized to one ``fetchmany(100)`` batch
of the reference's 10-second poll (BASELINE.md).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("film_work", "genre", "person", "genre_film_work", "person_film_work")

# reference dump ratios (SURVEY.md §1.3)
N_GENRES = 26
PERSONS_PER_FILM = 4166 / 999
P_NEW_PERSON = 4166 / 5783
TICK_INSERTS = 20
TICK_EDITS = 20
TICK_RENAMES = 2
RENAME_FANOUT = 4
VOCAB_LATIN = 1200
VOCAB_CYRILLIC = 150
ZIPF_S = 1.07

_BASE = dt.datetime(2021, 1, 1)
TICK_T0 = dt.datetime(2025, 1, 1)

_ARROW = {
    "film_work": pa.schema([
        ("id", pa.string()), ("title", pa.string()),
        ("description", pa.string()), ("creation_date", pa.date32()),
        ("rating", pa.float64()), ("type", pa.string()),
        ("created", pa.timestamp("us")), ("modified", pa.timestamp("us")),
        ("certificate", pa.string()), ("file_path", pa.string()),
    ]),
    "genre": pa.schema([
        ("id", pa.string()), ("name", pa.string()),
        ("description", pa.string()), ("created", pa.timestamp("us")),
        ("modified", pa.timestamp("us")),
    ]),
    "person": pa.schema([
        ("id", pa.string()), ("full_name", pa.string()),
        ("created", pa.timestamp("us")), ("modified", pa.timestamp("us")),
    ]),
    "genre_film_work": pa.schema([
        ("id", pa.string()), ("genre_id", pa.string()),
        ("film_work_id", pa.string()), ("created", pa.timestamp("us")),
    ]),
    "person_film_work": pa.schema([
        ("id", pa.string()), ("film_work_id", pa.string()),
        ("person_id", pa.string()), ("role", pa.string()),
        ("created", pa.timestamp("us")),
    ]),
}

_VOCAB: list[str] | None = None


def vocabulary() -> list[str]:
    """Pseudo-words (Latin and Cyrillic) in a fixed Zipf rank order, each
    one left unchanged by the engine's query analyzer (tokenize, stopword
    filter, Snowball stem). Built from a fixed seed: the vocabulary is the
    same for every run, only its use depends on ``--seed``."""
    global _VOCAB
    if _VOCAB is not None:
        return _VOCAB
    from djangoadmin_postgresql_2_elasticseach_spark.search.query import (
        analyze_query,
    )

    rnd = random.Random(20240917)
    words: list[str] = []
    seen: set[str] = set()

    def fill(n: int, cons: str, vows: str, syll: tuple[int, ...]) -> None:
        added = 0
        while added < n:
            w = "".join(
                rnd.choice(cons) + rnd.choice(vows)
                for _ in range(rnd.choice(syll))
            ) + rnd.choice(cons)
            if w in seen or len(w) < 4 or analyze_query(w) != [w]:
                continue
            seen.add(w)
            words.append(w)
            added += 1

    fill(VOCAB_LATIN, "bdfgklmnprstvz", "aeiou", (2, 3))
    fill(VOCAB_CYRILLIC, "бвгдзклмнпрстф", "аоуи", (1, 2))
    # interleave so Cyrillic words sit at every Zipf rank, not only the tail
    latin, cyr = words[:VOCAB_LATIN], words[VOCAB_LATIN:]
    out: list[str] = []
    step = VOCAB_LATIN // VOCAB_CYRILLIC
    for i, w in enumerate(latin):
        out.append(w)
        if i % step == step - 1 and cyr:
            out.append(cyr.pop(0))
    out.extend(cyr)
    changed = [w for w in out if analyze_query(w) != [w]]
    if changed:
        raise RuntimeError(f"the analyzer changes vocabulary words: {changed[:5]}")
    _VOCAB = out
    return out


def _uid(rnd: random.Random) -> str:
    h = f"{rnd.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-8{h[17:20]}-{h[20:]}"


class Catalog:
    """The generator's rows (plain dicts) plus the edit-tick evolution.

    ``films``, ``persons`` and ``genres`` map id -> row; ``gfw`` and
    ``pfw`` are the bridge rows. ``tick(j)`` applies edit tick ``j`` in
    place and returns what it changed; ``write(dir)`` writes the current
    state as one parquet snapshot of all five tables."""

    def __init__(self, seed: int, n_films: int):
        self.seed = seed
        self.vocab = vocabulary()
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(self.vocab))]
        acc, total = [], 0.0
        for w in weights:
            total += w
            acc.append(total)
        self._cum = acc
        rnd = random.Random(seed)
        self.rnd = rnd
        self.films: dict[str, dict] = {}
        self.persons: dict[str, dict] = {}
        self.genres: dict[str, dict] = {}
        self.gfw: list[dict] = []
        self.pfw: list[dict] = []
        self._pairs: set[tuple] = set()
        self._uncredited: list[str] = []  # persons not credited yet, in order
        self._credited: list[str] = []  # person of every credit so far
        for _ in range(N_GENRES):
            gid = _uid(rnd)
            ts = _BASE + dt.timedelta(days=rnd.randrange(30))
            self.genres[gid] = {
                "id": gid, "name": self.words(1, cap=True),
                "description": None if rnd.random() < 0.3 else self.words(5),
                "created": ts, "modified": ts,
            }
        for _ in range(round(n_films * PERSONS_PER_FILM)):
            self._uncredited.append(
                self._new_person(_BASE + dt.timedelta(days=rnd.randrange(400))))
        self._uncredited.reverse()  # pop() hands them out in creation order
        for _ in range(n_films):
            self._new_film(None)
        # edge: titles differing only by case
        ids = sorted(self.films)
        for fid in rnd.sample(ids, max(2, n_films // 50)):
            other = self.films[rnd.choice(ids)]
            self.films[fid]["title"] = other["title"].swapcase()
        # edge: a person with zero films
        self._new_person(_BASE)

    # -- text -------------------------------------------------------------
    def words(self, n: int, cap: bool = False) -> str:
        ws = self.rnd.choices(self.vocab, cum_weights=self._cum, k=n)
        if cap:
            ws = [w.capitalize() for w in ws]
        return " ".join(ws)

    def _title(self) -> str:
        t = self.words(self.rnd.choice((2, 3, 3, 4)), cap=True)
        return t if self.rnd.random() < 0.9 else t.upper()

    def _description(self):
        if self.rnd.random() < 0.2:
            return None
        return self.words(self.rnd.randrange(6, 16))

    # -- rows -------------------------------------------------------------
    def _new_person(self, ts) -> str:
        pid = _uid(self.rnd)
        self.persons[pid] = {
            "id": pid, "full_name": self.words(2, cap=True),
            "created": ts, "modified": ts,
        }
        return pid

    def _link(self, table: str, row: dict, key: tuple) -> None:
        if key in self._pairs:
            return
        self._pairs.add(key)
        row["id"] = _uid(self.rnd)
        (self.gfw if table == "gfw" else self.pfw).append(row)

    def _new_film(self, ts) -> str:
        rnd = self.rnd
        fid = _uid(rnd)
        created = ts or _BASE + dt.timedelta(
            days=rnd.randrange(1400), seconds=rnd.randrange(86400)
        )
        # ties in `modified` on the initial catalog, strictly later in ticks
        modified = ts or created + dt.timedelta(hours=rnd.randrange(3))
        self.films[fid] = {
            "id": fid, "title": self._title(),
            "description": self._description(),
            "creation_date": (created - dt.timedelta(days=rnd.randrange(9000))).date(),
            "rating": None if rnd.random() < 0.1 else round(rnd.uniform(1, 10), 1),
            "type": rnd.choice(("movie", "movie", "movie", "tv_show")),
            "created": created, "modified": modified,
            "certificate": None, "file_path": None,
        }
        if rnd.random() < 0.03:  # edge: no genres and no persons
            return fid
        gids = sorted(self.genres)
        # 2.3 genres and 3.5 actors, 0.85 directors, 1.6 writers per film
        # with links: the dump's per-film means over the 97 % that have any
        n_genres = rnd.randrange(1, 4) + (rnd.random() < 0.3)
        for gid in rnd.sample(gids, n_genres):
            self._link("gfw", {"genre_id": gid, "film_work_id": fid,
                               "created": created}, ("g", gid, fid))
        for role, k in (("actor", rnd.randrange(1, 7)),
                        ("director", int(rnd.random() < 0.85)),
                        ("writer", rnd.randrange(0, 4) + (rnd.random() < 0.1))):
            for _ in range(k):
                self._credit(fid, self._pick_person(), role, created)
        if rnd.random() < 0.05:  # edge: one person in several roles
            pid = self._pick_person()
            for role in ("actor", "writer"):
                self._credit(fid, pid, role, created)
        return fid

    def _pick_person(self) -> str:
        if self._uncredited and (not self._credited
                                 or self.rnd.random() < P_NEW_PERSON):
            return self._uncredited.pop()
        return self.rnd.choice(self._credited)

    def _credit(self, fid: str, pid: str, role: str, created) -> None:
        key = ("p", fid, pid, role)
        if key not in self._pairs:
            self._credited.append(pid)
        self._link("pfw", {"film_work_id": fid, "person_id": pid,
                           "role": role, "created": created}, key)

    # -- evolution --------------------------------------------------------
    def tick(self, j: int) -> dict:
        """Apply edit tick ``j`` (1-based) and return its change record:
        inserted / edited film ids, renamed person ids, the affected film
        set, the tick's latest timestamp and each edited film's old title."""
        rnd = random.Random(self.seed * 100_003 + j)
        saved, self.rnd = self.rnd, rnd
        try:
            t0 = TICK_T0 + dt.timedelta(minutes=j)
            clock = iter(t0 + dt.timedelta(seconds=s) for s in range(1, 10_000))
            old_ids = sorted(self.films)
            edited = rnd.sample(old_ids, TICK_EDITS)
            old_titles = {}
            for fid in edited:
                f = self.films[fid]
                old_titles[fid] = f["title"]
                f["title"] = self._title()
                f["description"] = self._description()
                f["modified"] = next(clock)
            inserted = [self._new_film(next(clock)) for _ in range(TICK_INSERTS)]
            credits: dict[str, list[str]] = {}
            for r in self.pfw:
                credits.setdefault(r["person_id"], []).append(r["film_work_id"])
            # one credit per film, so the fan-out is exactly RENAME_FANOUT
            fan = sorted(
                p for p, fs in credits.items()
                if len(fs) == RENAME_FANOUT == len(set(fs))
            )
            if len(fan) < TICK_RENAMES:
                raise RuntimeError("catalog too small for the rename fan-out")
            renamed = rnd.sample(fan, TICK_RENAMES)
            for pid in renamed:
                self.persons[pid]["full_name"] = self.words(2, cap=True)
                self.persons[pid]["modified"] = next(clock)
            affected = set(edited) | set(inserted)
            for pid in renamed:
                affected |= set(credits[pid])
            return {
                "tick": j, "inserted": inserted, "edited": edited,
                "renamed": renamed, "affected": affected,
                "old_titles": old_titles,
            }
        finally:
            self.rnd = saved

    def write(self, out_dir: str) -> dict[str, str]:
        """Write the current state as one snapshot; returns table -> dir."""
        rows = {
            "film_work": list(self.films.values()),
            "genre": list(self.genres.values()),
            "person": list(self.persons.values()),
            "genre_film_work": self.gfw,
            "person_film_work": self.pfw,
        }
        paths = {}
        for name in TABLES:
            d = os.path.join(out_dir, name)
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist(rows[name], schema=_ARROW[name]),
                os.path.join(d, "part-0.parquet"),
            )
            paths[name] = d
        return paths
