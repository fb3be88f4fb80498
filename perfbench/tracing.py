"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side only: around the calls the
benchmark makes into the engine, and around public engine functions that
``install`` wraps for the run (module attributes and metastore methods are
swapped for timing wrappers; the engine's code is not changed). Spark
counters come from the uncompressed event log and from
``QueryExecution.tracker()`` of the frames each action runs.

With tracing off, ``Tracer.span`` is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time


class Tracer:
    """In-memory spans: (name, op, start, end) in epoch seconds, plus
    counters and Catalyst phase times keyed by the current op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, str | None, float, float]] = []
        self.counts: dict[str, int] = {}
        self.op: str | None = None
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, self.op, t0, time.time()))

    def count(self, name: str) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + 1

    def wrap(self, layer: str, fn, counter: str | None = None):
        """Timing wrapper: a span named ``layer`` for the outermost call on
        the main thread (nested calls of the same layer are not counted
        twice); every call, on any thread, bumps ``counter``."""
        main = threading.main_thread()

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if counter:
                self.count(counter)
            depth = getattr(self._local, layer, 0)
            if depth or threading.current_thread() is not main:
                return fn(*a, **kw)
            setattr(self._local, layer, 1)
            try:
                with self.span(layer):
                    return fn(*a, **kw)
            finally:
                setattr(self._local, layer, 0)

        return wrapper

    def total(self, name: str) -> float:
        return sum(e - s for n, _op, s, e in self.spans if n == name)


def install(tracer: Tracer, phases: dict) -> None:
    """Wrap the engine's public layer entry points for one traced run."""
    from djangoadmin_postgresql_2_elasticseach_spark import metastore
    from djangoadmin_postgresql_2_elasticseach_spark.search import dsl, index

    index.upsert_posting_index = tracer.wrap(
        "search.upsert", index.upsert_posting_index)
    index.compact_posting_index = tracer.wrap(
        "search.compact", index.compact_posting_index, "search.compactions")
    index.compact_posting_index_tiered = tracer.wrap(
        "search.compact", index.compact_posting_index_tiered, "search.compactions")
    # seq allocation / commit, and every metastore call made outside them
    # (lease release and heartbeats), are the commit layer
    index.alloc_index_seqs = tracer.wrap(
        "metastore.commit", index.alloc_index_seqs, "metastore.calls")
    index.commit_index_seq = tracer.wrap(
        "metastore.commit", index.commit_index_seq, "metastore.calls")
    store = metastore.get_metastore()
    for name in ("try_claim_lease", "read_lease", "break_lease",
                 "release_lease", "heartbeat_lease", "publish_meta"):
        setattr(store, name, tracer.wrap(
            "metastore.commit", getattr(store, name), "metastore.calls"))
    dsl.search_frame_indexed = tracer.wrap(
        "search.frame_build", dsl.search_frame_indexed)
    _wrap_actions(tracer, phases)


def _tracker_phases(jdf) -> dict[str, float]:
    ph = jdf.queryExecution().tracker().phases()
    out, it = {}, ph.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def _wrap_actions(tracer: Tracer, phases: dict) -> None:
    """collect()/count() record the Catalyst phases of the plan they run.
    count() runs as groupBy().count().collect(), the plan Spark's own
    Dataset.count executes, so its QueryExecution is reachable."""
    from pyspark.sql.classic.dataframe import DataFrame

    collect = DataFrame.collect

    def record(jdf) -> None:
        acc = phases.setdefault(tracer.op or "-", {})
        for k, v in _tracker_phases(jdf).items():
            acc[k] = acc.get(k, 0.0) + v

    def traced_collect(self):
        rows = collect(self)
        record(self._jdf)
        return rows

    def traced_count(self):
        agg = self.groupBy().count()
        rows = collect(agg)
        record(agg._jdf)
        return int(rows[0][0])

    DataFrame.collect = traced_collect
    DataFrame.count = traced_count


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task totals from the (single, uncompressed)
    event log in ``log_dir``."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (os.path.join(r, f) for r, _d, fs in os.walk(log_dir) for f in fs
         if f.startswith("events_") or f.startswith("local-")),
        key=lambda p: (os.path.dirname(p),
                       int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0),
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                                 "end": None, "stages": ev["Stage IDs"]}
                    # a stage listed again by a later job was skipped there
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    t = tasks.setdefault(si["Stage ID"], _zero())
                    t["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = tasks.setdefault(ev["Stage ID"], _zero())
                    t["tasks"] += 1
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    im = m.get("Input Metrics") or {}
                    t["records_read"] += im.get("Records Read", 0)
                    om = m.get("Output Metrics") or {}
                    t["output_bytes"] += om.get("Bytes Written", 0)
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def _zero() -> dict:
    return {"stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "records_read": 0,
            "output_bytes": 0}


def per_op(log: dict, ops: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Attribute jobs (by submission time) and their stages' tasks to the
    benchmark's ops; ``gap_s`` is op wall time outside every job."""
    out = {}
    for name, t0, t1 in ops:
        acc = _zero()
        acc["jobs"] = 0
        spans = []
        for jid, j in log["jobs"].items():
            if t0 <= j["start"] <= t1:
                acc["jobs"] += 1
                spans.append((j["start"], min(j["end"] or t1, t1)))
                for s in j["stages"]:
                    if log["stage_job"].get(s) == jid:
                        for k, v in log["tasks"].get(s, {}).items():
                            acc[k] += v
        covered, cur = 0.0, None
        for s, e in sorted(spans):
            if cur is None or s > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [s, e]
            else:
                cur[1] = max(cur[1], e)
        if cur:
            covered += cur[1] - cur[0]
        acc["gap_s"] = (t1 - t0) - covered
        out[name] = acc
    return out
