#!/usr/bin/env python3
"""Movies-catalog benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The run generates its catalog from the seed,
drives the engine only through its public functions, checks every output
against DuckDB / plain-Python oracles (oracle.py) and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (tracing.py).
Details (per-kind medians, per-layer figures) go to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``. Everything else the
run writes lives in ``.perfbench_runs/<run>/`` and is removed at exit.
See README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "api_browse")
FILMS = 999  # the reference dump's film count (SURVEY.md §1.3)
STORE_COLS = ("title", "description", "imdb_rating", "genre", "director",
              "actors_names", "writers_names")
INDEX_FIELDS = ("title",)
# a tiered compaction pass after every sink call; in each of a run's two
# ticks it folds the tombstone set, the one directory a tick writes 4 files into
COMPACT_EVERY = 1
COMPACT_MAX_FILES = 3
PAGE_SIZE = 50
# the window is a fixed number of units, one per UNIT_S of --seconds and at
# least two, so its shape does not depend on host speed
UNIT_S = 4.0
MIN_UNITS = 2


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            try:
                size += os.path.getsize(os.path.join(r, f))
                n += 1
            except OSError:
                pass
    return n, size


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark process: set-up, measured window, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scratch: str, films: int | None = None):
        self.workload, self.seed = workload, seed
        self.units = max(MIN_UNITS, int(seconds // UNIT_S))
        self.traced = trace
        self.scratch = scratch
        self.films = films or FILMS
        self.gen_s = 0.0          # generator time, kept out of setup_s
        self.ops: list[dict] = []  # measured ops
        self.checks: list[tuple] = []  # (kind, fn, got, *oracle args)
        self.failed = 0
        self.spark = None
        self.details: dict = {}
        from tracing import Tracer

        self.tracer = Tracer(trace)
        self.phases: dict[str, dict] = {}
        self.counts_at_window: dict[str, int] = {}
        self.window_ticks: list[dict] = []
        self.probe = None
        self.dir_growth: list[tuple[int, int, int]] = []

    # -- plumbing ---------------------------------------------------------
    def gen(self, fn, *a):
        t = time.perf_counter()
        try:
            return fn(*a)
        finally:
            self.gen_s += time.perf_counter() - t

    def start_session(self) -> None:
        from djangoadmin_postgresql_2_elasticseach_spark.session import get_spark

        n = len(os.sched_getaffinity(0))
        conf = {
            # the engine's 8 GB default lets G1 size the heap by GC timing:
            # peak RSS then read 3.9 or 4.8 GB on the same work
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.local.dir": os.path.join(self.scratch, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if self.traced:
            log_dir = os.path.join(self.scratch, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{n}]",
                shuffle_partitions=n, extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            import tracing

            tracing.install(self.tracer, self.phases)
            # the analyzer's first use in a fresh process, on its own, through
            # the SQL-fragment path the index build takes
            from djangoadmin_postgresql_2_elasticseach_spark.functions import text as T

            with self.tracer.span("functions.analyzer_first_use"):
                self.spark.createDataFrame([("warm up",)], "t string").select(
                    T.analyze("`t`").alias("t")
                ).collect()

    def read_tables(self, snap: dict[str, str]):
        from djangoadmin_postgresql_2_elasticseach_spark import schemas

        return {
            n: self.spark.read.schema(schemas.MOVIES_TABLES[n]).parquet(d)
            for n, d in snap.items()
        }

    def job_count(self) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def log(self, msg: str) -> None:
        print(f"[{process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)

    def timed(self, kind: str, fn):
        """Run one measured op and record its time, Spark job count and wall
        interval; returns its result, or the exception it raised (counted
        as failed)."""
        name = f"{kind}#{len(self.ops)}"
        self.tracer.op = name
        j0 = self.job_count()
        w0, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted as failed, and the run goes on
            traceback.print_exc()
            out = e
        dt_s = time.perf_counter() - t0
        w1 = time.time()
        self.tracer.op = None
        self.log(f"{name} {dt_s:.3f}s")
        self.ops.append({"name": name, "kind": kind, "s": dt_s,
                         "jobs": self.job_count() - j0, "t0": w0, "t1": w1})
        if isinstance(out, Exception):
            self.failed += 1
        return out

    def check(self, kind: str, fn, got, *want) -> None:
        self.checks.append((kind, fn, got, want))

    def mismatches(self) -> list[str]:
        bad = []
        for kind, fn, got, want in self.checks:
            bad.extend(fn(got, *want))
        return bad

    # -- workloads --------------------------------------------------------
    def setup_catalog(self):
        """Generate the catalog, start Spark, load the catalog through one
        IncrementalEtl tick into the posting index (stored fields on)."""
        import catalog as C
        import oracle as O

        from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
            posting_index_cdc_sink,
        )
        from djangoadmin_postgresql_2_elasticseach_spark.sources.state import (
            JsonFileState,
        )
        from djangoadmin_postgresql_2_elasticseach_spark.streaming.incremental import (
            IncrementalEtl,
        )

        self.cat = self.gen(C.Catalog, self.seed, self.films)
        self.snap = self.gen(self.cat.write, os.path.join(self.scratch, "snap", "0"))
        self.start_session()
        self.log("session started")
        self.idx = os.path.join(self.scratch, "index", "movies")
        sink, _ = posting_index_cdc_sink(
            {"movies": self.idx}, fields=INDEX_FIELDS, id_col="id",
            store_cols=STORE_COLS, compact_every=COMPACT_EVERY,
            max_files=COMPACT_MAX_FILES,
        )

        def traced_sink(docs, entity):
            with self.tracer.span("streaming.sink"):
                sink(docs, entity)

        self.state = JsonFileState(os.path.join(self.scratch, "etl_state.json"))
        self.etl = IncrementalEtl(self.state, self.read_tables(self.snap), traced_sink)
        run_once = self.etl.run_once

        def traced_run_once(entity):
            with self.tracer.span("streaming.run_once"):
                return run_once(entity)

        self.etl.run_once = traced_run_once
        emitted = self.etl.run_tick()
        self.log("catalog wave indexed")
        self.check("wave", O.check_wave, emitted, len(self.cat.films))

    def ingest(self) -> None:
        import oracle as O

        from djangoadmin_postgresql_2_elasticseach_spark.streaming.incremental import (
            MOVIES_KEY,
        )

        self.setup_catalog()
        self.setup_s = process_age_s() - self.gen_s
        ticks = self.window_ticks

        def one_tick() -> None:
            j = len(ticks) + 1
            rec = self.gen(self.cat.tick, j)
            snap = self.gen(self.cat.write, os.path.join(self.scratch, "snap", str(j)))
            before = dir_stats(self.idx) if self.traced else (0, 0)

            def tick():
                self.etl.tables = self.read_tables(snap)
                return self.etl.run_tick()

            emitted = self.timed("tick", tick)
            if self.traced:
                after = dir_stats(self.idx)
                self.dir_growth.append((after[0] - before[0], after[1] - before[1],
                                        len(rec["affected"])))
            ticks.append(rec)
            self.snap = snap
            if not isinstance(emitted, Exception):
                self.check("tick_docs", O.check_tick_docs, emitted, rec)
                self.check("checkpoint", O.check_checkpoint,
                           self.state.get_state(MOVIES_KEY, None), rec,
                           O.tick_checkpoint(rec, self.cat))

        self.counts_at_window = dict(self.tracer.counts)
        for _ in range(self.units):
            one_tick()
        self.end_window()
        self.ingest_final_checks(ticks[-1])

    def ingest_final_checks(self, last: dict) -> None:
        import oracle as O

        from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import search_indexed
        from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
            fetch_docs,
            read_docstore,
        )

        live = [r[0] for r in read_docstore(self.spark, self.idx, columns=())
                .select("doc_id").collect()]
        self.live_docs = len(live)
        self.check("live_ids", O.check_live_ids, live, set(self.cat.films))
        rnd = random.Random(self.seed)
        sample = sorted(rnd.sample(sorted(last["affected"]), 12)
                        + rnd.sample(sorted(self.cat.films), 12))
        got = {r["doc_id"]: r.asDict(recursive=True)
               for r in fetch_docs(self.spark, self.idx, sample).collect()}
        con = O.connect(self.snap)
        self.check("docs", O.check_docs, got, O.movie_docs(con, sample), "sampled docs")
        # an edited film no longer matches a token only its old title had
        for fid, old in sorted(last["old_titles"].items()):
            gone = set(O.tokens(old)) - set(O.tokens(self.cat.films[fid]["title"]))
            if gone:
                tok = min(gone)
                body = {"size": 0, "query": {"bool": {
                    "must": [{"match": {"title": tok}}],
                    "filter": [{"ids": {"values": [fid]}}]}}}
                resp = search_indexed(self.spark, read_docstore(self.spark, self.idx),
                                      body, self.idx, "doc_id")
                self.check("old_token", O.check_old_token,
                           resp["hits"]["total"]["value"], fid, tok)
                break

    def api_browse(self) -> None:
        self.setup_catalog()
        self.setup_s = process_age_s() - self.gen_s
        self.live_docs = len(self.cat.films)
        self.responses: list[tuple] = []
        kinds = self.browse_kinds()
        self.counts_at_window = dict(self.tracer.counts)
        for r in range(self.units):
            rnd = random.Random(self.seed * 7919 + r)
            for kind, make in kinds:
                params = make(rnd)
                out = self.timed(kind, lambda: self.serve(kind, params))
                if not isinstance(out, Exception):
                    self.responses.append((kind, params, out))
        self.end_window()
        if self.traced:
            self.multi_match_probe()
        self.browse_checks()

    def browse_kinds(self):
        """(kind, parameter maker) for one round of the request mix."""
        films = sorted(self.cat.films)
        title_words = sorted({t for f in self.cat.films.values()
                              for t in f["title"].lower().split()})
        title_pairs = sorted({
            tuple(ws[k:k + 2])
            for f in self.cat.films.values()
            for ws in [f["title"].lower().split()]
            for k in range(len(ws) - 1)
        })
        vocab = self.cat.vocab[:300]
        n_pages = max(1, -(-len(films) // PAGE_SIZE))

        def word(rnd):
            return rnd.choice(vocab)

        return [
            ("list", lambda r: {"page": r.randrange(1, n_pages + 1)}),
            ("detail", lambda r: {"frag": _fragment(r, films)}),
            ("get", lambda r: {"ids": [r.choice(films)]}),
            ("match", lambda r: {"field": "title", "q": r.choice(title_words)}),
            ("term", lambda r: {"rating": round(r.uniform(1, 10), 1)}),
            ("bool", lambda r: {"must": word(r), "not": word(r), "gte": r.randrange(1, 9)}),
            ("icontains", lambda r: {"frag": r.choice(title_words)[:4]}),
            ("admin_filter", lambda r: {"type": r.choice(("movie", "tv_show")),
                                        "from": f"202{r.randrange(1, 4)}-0{r.randrange(1, 10)}-01",
                                        "to": "2024-06-01"}),
            ("bm25", lambda r: {"field": "title", "q": f"{word(r)} {word(r)}"}),
            ("phrase", lambda r: {"field": "title", "q": " ".join(r.choice(title_pairs))}),
        ]

    def serve(self, kind: str, p: dict):
        from djangoadmin_postgresql_2_elasticseach_spark.operators.api import (
            admin_filter,
            film_detail,
            film_listing,
            icontains_auto,
            paginate,
        )
        from djangoadmin_postgresql_2_elasticseach_spark.search.bm25 import (
            bm25_topk_from_index,
        )
        from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import search_indexed
        from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
            fetch_docs,
            match_phrase_from_index,
            read_docstore,
        )

        t = self.etl.tables
        span = self.tracer.span
        if kind in ("list", "detail"):
            with span("operators.listing_build"):
                listing = film_listing(t["film_work"], t["genre"], t["person"],
                                       t["genre_film_work"], t["person_film_work"])
            if kind == "list":
                with span("operators.paginate"):
                    return paginate(listing, page=p["page"], page_size=PAGE_SIZE)
            return film_detail(listing, p["frag"])
        if kind == "get":
            with span("search.fetch"):
                return [r.asDict(recursive=True)
                        for r in fetch_docs(self.spark, self.idx, p["ids"]).collect()]
        if kind == "admin_filter":
            return [r[0] for r in admin_filter(
                t["film_work"], type_eq=p["type"], created_from=p["from"],
                created_to=p["to"]).select("id").collect()]
        if kind == "bm25":
            return [(r["doc_id"], r["score"]) for r in bm25_topk_from_index(
                self.spark, self.idx, p["q"], field=p["field"], k=10).collect()]
        if kind == "phrase":
            return [r[0] for r in match_phrase_from_index(
                self.spark, self.idx, p["q"], field=p["field"]).collect()]
        docs = read_docstore(self.spark, self.idx)
        if kind == "icontains":
            with span("search.icontains"):
                return [r[0] for r in icontains_auto(
                    self.spark, docs, p["frag"], field="title",
                    index_path=self.idx, id_col="doc_id").collect()]
        body = {"size": 10, "query": _query_body(kind, p)}
        resp = search_indexed(self.spark, docs, body, self.idx, "doc_id")
        return {"total": resp["hits"]["total"]["value"],
                "hits": [(h["_id"], h.get("_score")) for h in resp["hits"]["hits"]]}

    def multi_match_probe(self) -> None:
        """Traced runs only: one fuzzy multi_match request (the reference's
        flagship query shape, one field) after the window, for the layer
        figures of the multi_match path."""
        rnd = random.Random(self.seed)
        w = rnd.choice(self.cat.vocab[20:200])
        # one transposition: a fuzzy-only match
        p = {"q": w[1] + w[0] + w[2:], "fields": ["title"]}
        name = "probe:multi_match"
        self.tracer.op = name
        w0 = time.time()
        out = self.serve("multi_match", p)
        self.probe = (name, w0, time.time(), out["total"])
        self.tracer.op = None
        self.responses.append(("multi_match", p, out))

    def browse_checks(self) -> None:
        import oracle as O

        con = O.connect(self.snap)
        docs = O.movie_docs(con)
        for kind, p, out in self.responses:
            if kind == "list":
                self.check(kind, O.check_list_page, out, p["page"], con)
            elif kind == "detail":
                self.check(kind, O.check_detail, out, p["frag"], con)
            elif kind == "get":
                got = {r["doc_id"]: r for r in out}
                self.check(kind, O.check_docs, got,
                           {i: docs[i] for i in p["ids"]}, "GET")
            elif kind == "admin_filter":
                self.check(kind, O.check_set, out,
                           O.admin_filter_ids(con, p["type"], p["from"], p["to"]), kind)
            elif kind == "bm25":
                self.check(kind, O.check_ranked, out,
                           O.bm25_scores(docs, p["field"], p["q"]), 10, f"bm25 {p['q']!r}")
            elif kind == "phrase":
                self.check(kind, O.check_set, out,
                           O.phrase_hits(docs, p["field"], p["q"]), f"phrase {p['q']!r}")
            elif kind == "icontains":
                want = {i for i, d in docs.items() if p["frag"] in d["title"].lower()}
                self.check(kind, O.check_set, out, want, f"icontains {p['frag']!r}")
            elif kind == "multi_match":
                want = O.multi_match_scores(con, docs, p["fields"], p["q"], True)
                self.check(kind, O.check_scored_search, out, want, 10,
                           f"multi_match {p['q']!r}")
            else:
                want = O.search_hits(kind, p, docs)
                self.check(kind, O.check_search, out, want, f"{kind} {p}")

    # -- metrics ----------------------------------------------------------
    def end_window(self) -> None:
        """Peak RSS of the engine's processes, read before the oracles (which
        run in this Python process) add their own memory."""
        self.rss_mb = self.peak_rss_mb()

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        jvm = vm_hwm_mb(gw.proc.pid) if gw is not None and gw.proc else 0.0
        return jvm + vm_hwm_mb("self")

    def by_kind(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for op in self.ops:
            out.setdefault(op["kind"], []).append(op["s"])
        return out

    def end_to_end(self) -> dict:
        by_kind = self.by_kind()
        round_p50 = sum(median(v) for v in by_kind.values())
        n_ops = len(self.ops)
        jobs = sum(op["jobs"] for op in self.ops)
        _, idx_bytes = dir_stats(self.idx)
        self.details["per_kind_p50_ms"] = {k: median(v) * 1e3 for k, v in by_kind.items()}
        self.details["per_kind_samples"] = {k: len(v) for k, v in by_kind.items()}
        if self.workload == "ingest":
            per_tick = median([len(t["affected"]) for t in self.window_ticks]) if self.window_ticks else 0
            self.details["docs_per_tick"] = per_tick
            self.details["docs_per_s"] = per_tick / round_p50 if round_p50 else 0.0
        return {
            "setup_s": (self.setup_s, "s"),
            "round_p50_s": (round_p50, "s"),
            "jobs_per_op": (jobs / n_ops if n_ops else 0.0, "jobs"),
            "peak_rss_mb": (self.rss_mb, "MB"),
            "index_bytes_per_doc": (idx_bytes / max(1, self.live_docs), "B"),
        }

    def per_layer(self, log: dict) -> dict:
        import tracing

        ops = self.ops
        measured = {op["name"] for op in ops}
        n = max(1, len(ops))
        ticks = [op for op in ops if op["kind"] == "tick"]
        nt = max(1, len(ticks))
        spans = self.tracer.spans

        def in_window(name):
            return [e - s for sn, op, s, e in spans if sn == name and op in measured]

        def mean_ms(name):
            xs = in_window(name)
            return 1e3 * sum(xs) / len(xs) if xs else 0.0

        po = tracing.per_op(log, [(op["name"], op["t0"], op["t1"]) for op in ops])
        tot = {k: sum(v[k] for v in po.values()) for k in
               ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_bytes",
                "spill_bytes", "records_read", "output_bytes", "gap_s")}
        docs_indexed = sum(len(t["affected"]) for t in self.window_ticks) \
            if self.workload == "ingest" else 0
        ph = {k: 0.0 for k in ("analysis", "optimization", "planning")}
        for opn, d in self.phases.items():
            if opn in measured:
                for k in ph:
                    ph[k] += d.get(k, 0.0)
        growth = self.dir_growth
        files, _ = dir_stats(self.idx)
        probe = {"records_read": 0, "wall": 0.0, "cands": 0}
        if self.probe:
            name, t0, t1, cands = self.probe
            p = tracing.per_op(log, [(name, t0, t1)])[name]
            probe = {"records_read": p["records_read"], "wall": t1 - t0, "cands": cands}
            self.details["multi_match_probe"] = {**p, "wall_s": t1 - t0, "hits": cands,
                                                 "phases_ms": self.phases.get(name, {})}
        cd = self.tracer.counts
        window_calls = cd.get("metastore.calls", 0) - self.counts_at_window.get("metastore.calls", 0)
        compactions = cd.get("search.compactions", 0) - self.counts_at_window.get("search.compactions", 0)
        by_kind = self.by_kind()
        self.details["catalyst_ms_per_kind"] = {
            k: {ph_: sum(self.phases.get(op["name"], {}).get(ph_, 0.0)
                         for op in ops if op["kind"] == k) / len(v)
                for ph_ in ("analysis", "optimization", "planning")}
            for k, v in by_kind.items()}
        self.details["per_op_exec"] = po
        run_once = sum(in_window("streaming.run_once"))
        sink = sum(in_window("streaming.sink"))
        return {
            "streaming.changeset_s": ((run_once - sink) / nt if ticks else 0.0, "s"),
            "search.upsert_s": (sum(in_window("search.upsert")) / nt if ticks else 0.0, "s"),
            "search.compact_s": (sum(in_window("search.compact")) / nt if ticks else 0.0, "s"),
            "search.compactions": (compactions, "count"),
            "metastore.commit_s": (sum(in_window("metastore.commit")) / nt if ticks else 0.0, "s"),
            "metastore.commits_per_tick": (window_calls / nt if ticks else 0.0, "calls"),
            "search.files_written_per_tick": (sum(g[0] for g in growth) / nt if growth else 0.0, "files"),
            "search.bytes_written_per_tick": (sum(g[1] for g in growth) / nt if growth else 0.0, "B"),
            "search.bytes_written_per_doc": (sum(g[1] for g in growth) / max(1, sum(g[2] for g in growth)) if growth else 0.0, "B"),
            "exec.output_bytes_per_tick": (tot["output_bytes"] / nt if ticks else 0.0, "B"),
            "search.live_files": (files, "files"),
            "exec.jobs_per_op": (tot["jobs"] / n, "jobs"),
            "exec.stages_per_op": (tot["stages"] / n, "stages"),
            "exec.tasks_per_op": (tot["tasks"] / n, "tasks"),
            "driver.gap_s": (tot["gap_s"] / n, "s"),
            "catalyst.analysis_ms": (ph["analysis"] / n, "ms"),
            "catalyst.optimization_ms": (ph["optimization"] / n, "ms"),
            "catalyst.planning_ms": (ph["planning"] / n, "ms"),
            "exec.task_cpu_s": (tot["cpu_s"] / n, "s"),
            "exec.gc_s": (tot["gc_s"] / n, "s"),
            "exec.shuffle_bytes_per_op": (tot["shuffle_bytes"] / n, "B"),
            "exec.shuffle_bytes_per_doc": (tot["shuffle_bytes"] / docs_indexed if docs_indexed else 0.0, "B"),
            "exec.spill_bytes": (tot["spill_bytes"], "B"),
            "operators.listing_build_ms": (mean_ms("operators.listing_build"), "ms"),
            "operators.paginate_ms": (mean_ms("operators.paginate"), "ms"),
            "search.icontains_ms": (mean_ms("search.icontains"), "ms"),
            "search.fetch_ms": (mean_ms("search.fetch"), "ms"),
            "search.frame_build_ms": (mean_ms("search.frame_build"), "ms"),
            "search.multimatch_s": (probe["wall"], "s"),
            "search.candidates_per_req": (probe["cands"], "docs"),
            "exec.records_read_per_req": (probe["records_read"], "rows"),
            "search.read_per_candidate": (probe["cands"] / probe["records_read"] if probe["records_read"] else 0.0, "ratio"),
            "session.start_s": (self.tracer.total("session.start"), "s"),
            "functions.analyzer_first_use_s": (self.tracer.total("functions.analyzer_first_use"), "s"),
            "trace.round_p50_s": (sum(median(v) for v in by_kind.values()), "s"),
        }

    # -- driver -----------------------------------------------------------
    def execute(self) -> None:
        getattr(self, self.workload)()

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the scratch root."""
        if self.spark is not None:
            from pyspark import SparkContext

            from py4j.protocol import Py4JError

            gw = SparkContext._gateway
            self.spark.stop()
            if gw is not None:
                try:
                    gw.shutdown()
                except Py4JError:
                    pass  # already closed; the JVM is stopped below either way
                gw.proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    gw.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# request helpers
# ---------------------------------------------------------------------------


def _fragment(rnd, ids) -> str:
    """A 3- or 6-character piece of a film id: the short ones match
    several ids, so film_detail must pick the first."""
    i, k = rnd.choice(ids), rnd.randrange(0, 30)
    return i[k:k + rnd.choice((3, 6))]


def _query_body(kind: str, p: dict) -> dict:
    if kind == "match":
        return {"match": {p["field"]: p["q"]}}
    if kind == "term":
        return {"term": {"imdb_rating": p["rating"]}}
    if kind == "multi_match":
        return {"multi_match": {"query": p["q"], "fields": p["fields"],
                                "fuzziness": "AUTO"}}
    return {"bool": {
        "must": [{"match": {"title": p["must"]}}],
        "filter": [{"range": {"imdb_rating": {"gte": p["gte"]}}}],
        "must_not": [{"match": {"title": p["not"]}}],
    }}


# ---------------------------------------------------------------------------
# self-test: every check fails on a corrupted output
# ---------------------------------------------------------------------------


def _corrupt(kind: str, got):
    g = copy.deepcopy(got)
    if kind in ("docs", "get"):
        i = sorted(g)[0]
        g[i]["director"] = (g[i].get("director") or "") + "x"
    elif kind == "wave" or kind == "tick_docs":
        g["movies"] += 1
    elif kind == "checkpoint":
        g = "2030-01-01 00:00:00"
    elif kind == "live_ids":
        g = g[1:]
    elif kind == "old_token":
        g = 1
    elif kind == "list":
        g["results"] = g["results"][::-1]
    elif kind == "detail":
        g = {"id": "ffffffff-ffff-4fff-8fff-ffffffffffff"}
    elif kind in ("admin_filter", "phrase", "icontains"):
        g = list(g) + ["00000000-0000-4000-8000-000000000000"]
    elif kind == "bm25":
        g = [(i, s + 0.01) for i, s in g] or [("x", 1.0)]
    elif kind == "multi_match":
        g["hits"] = [(i, s + 1.0) for i, s in g["hits"]] or [("x", 1.0)]
    else:  # match / term / bool
        g["total"] += 1
    return g


def self_test(workload: str, scratch: str) -> int:
    """Run one workload small, then corrupt each kind of output and show
    its check fails. Exit code 0 iff every check passes on the real output
    and fails on every corruption. The api_browse run is traced, so the
    multi_match check is exercised too."""
    films = 400 if workload == "ingest" else 600
    run = Run(workload, 1, 1.0, workload == "api_browse", scratch, films=films)
    try:
        run.execute()
        real = run.mismatches()
        print(f"{workload}: {len(run.checks)} checks on real output, "
              f"{len(real)} mismatches {real[:3]}")
        ok = not real
        seen = set()
        for kind, fn, got, want in run.checks:
            if kind in seen:
                continue
            seen.add(kind)
            caught = bool(fn(_corrupt(kind, got), *want))
            print(f"  corrupted {kind:12s} -> check "
                  f"{'fails (good)' if caught else 'PASSES (bad)'}")
            ok &= caught
    finally:
        run.close()
    print(f"self-test {workload}", "passed" if ok else "FAILED", flush=True)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.self_test and args.workload is None:
        # one fresh process per workload
        return max(subprocess.run([sys.executable, os.path.abspath(__file__),
                                   "--self-test", "--workload", wl]).returncode
                   for wl in WORKLOADS)
    if args.workload is None:
        ap.error("--workload is required")
    root = os.getcwd()
    runs_dir = os.path.join(root, ".perfbench_runs")
    scratch = os.path.join(
        runs_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    # every temp file of this process and of the JVM it starts lands here
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(scratch, "tmp"),
        # also reaches the launcher JVM spark-submit starts before the driver
        "JAVA_TOOL_OPTIONS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "SPARK_GRAFT_INDEX_CACHE": os.path.join(scratch, "index_cache"),
    })
    import tempfile

    tempfile.tempdir = os.path.join(scratch, "tmp")
    sys.path[:0] = [HERE, root]
    try:
        try:
            import djangoadmin_postgresql_2_elasticseach_spark  # noqa: F401
        except ImportError as e:
            print(f"engine package not importable from {root}: {e}", file=sys.stderr)
            return 2
        if args.self_test:
            return self_test(args.workload, scratch)
        return measure(args, root, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(runs_dir) and not os.listdir(runs_dir):
            os.rmdir(runs_dir)


def measure(args, root: str, scratch: str) -> int:
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
    try:
        run.execute()
        bad = run.mismatches()
        if args.trace:
            import tracing

            run.spark.stop()  # flushes and closes the event log
            metrics = run.per_layer(
                tracing.read_event_log(os.path.join(scratch, "eventlog")))
        else:
            metrics = run.end_to_end()
    finally:
        run.close()
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump({"metrics": metrics, "details": run.details, "mismatches": bad,
                   "ops": run.ops, "layer_counts": run.tracer.counts,
                   "spans": run.tracer.spans}, f, indent=1, default=str)
    for b in bad[:20]:
        print("MISMATCH", b, file=sys.stderr)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(run.ops),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
