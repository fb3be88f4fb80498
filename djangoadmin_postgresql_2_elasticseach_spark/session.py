"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting) —
  at 100 TB the static ``spark.sql.shuffle.partitions`` can never be right
  for every stage, AQE re-plans from runtime statistics.
- Broadcast threshold left at default (10 MB) — the dimension tables of the
  reference's star schema (genre 26 rows, person 4k rows; testdata region/
  nation/supplier/part) are broadcast, so the fact-table joins are
  shuffle-free map-side joins.
- Arrow enabled for the few Pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "djangoadmin_postgresql_2_elasticseach_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.
    Without ``SPARK_GRAFT_CPUS`` it runs one task slot and one shuffle
    partition per CPU this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def observe_aggs(df, *aggs) -> dict:
    """Global aggregates over ``df`` in one Spark job: an observation on
    a no-op write, where ``df.agg(...)`` adds a shuffle stage and a
    result stage, each its own job under AQE."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


# Operator-internal persist() registry: slot name -> the one outstanding
# persisted DataFrame for that call site (see persist_scoped).
_SCOPED_PERSISTS: dict[str, object] = {}


def persist_scoped(df, slot: str):
    """``df.persist()`` with an explicit per-call-site lifecycle: the
    frame previously persisted under ``slot`` is unpersisted first, so
    each site holds at most ONE outstanding CacheManager entry.

    Why this exists: ``DataFrame.persist()`` registers the analyzed plan
    in the session-wide ``CacheManager``, which holds strong references
    until an explicit ``unpersist()`` or session stop — the
    ContextCleaner never reclaims those entries when the Python frame
    dies (r15 shipped 8 sites relying on exactly that wrong assumption:
    unbounded storage growth in a long-lived session, and any timed
    re-run of the same query silently read the previous run's cache
    because CacheManager substitutes matching canonicalized sub-plans).
    Release-on-next-invocation is safe because by the time a site runs
    again the previous caller's consuming action has completed — and if
    it has not, unpersist only costs a recompute, never correctness.
    """
    prev = _SCOPED_PERSISTS.pop(slot, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    out = df.persist()
    _SCOPED_PERSISTS[slot] = out
    return out


# Escaping localCheckpoint registry: slot -> the one outstanding
# checkpointed DataFrame whose blocks the RETURNED plan still reads
# (see local_checkpoint_scoped).
_SCOPED_CHECKPOINTS: dict[str, object] = {}


def local_checkpoint_scoped(df, slot: str, eager: bool = True):
    """``df.localCheckpoint(eager)`` for checkpoints that ESCAPE into the
    returned plan (the caller's action reads the blocks after the
    operator returns, so the operator cannot free them itself): the
    previous invocation's blocks are freed on the next call, bounding
    each site at one outstanding block set.

    Checkpoint RDD blocks are reclaimable by the ContextCleaner on GC —
    unlike persist()/CacheManager — but that is nondeterministic and
    entirely OFF in processes that set
    ``spark.cleaner.referenceTracking=false`` (bench.py does, to keep
    its tail clean): there every escaping checkpoint leaked for the
    process lifetime before this helper. Checkpoints consumed and freed
    within one call (pagerank/cluster loops) keep using
    free_local_checkpoint directly."""
    prev = _SCOPED_CHECKPOINTS.pop(slot, None)
    if prev is not None:
        free_local_checkpoint(prev)
    out = df.localCheckpoint(eager=eager)
    _SCOPED_CHECKPOINTS[slot] = out
    return out


def release_scoped_persists(prefix: str = "") -> int:
    """Release every outstanding ``persist_scoped`` /
    ``local_checkpoint_scoped`` frame whose slot starts with ``prefix``
    (all of them by default). Returns the number released. For serving
    entry points / pipeline shutdown that want a clean storage slate
    without waiting for each site's next call."""
    released = 0
    for slot in [s for s in _SCOPED_PERSISTS if s.startswith(prefix)]:
        frame = _SCOPED_PERSISTS.pop(slot)
        try:
            frame.unpersist()
        except Exception:
            pass
        released += 1
    for slot in [s for s in _SCOPED_CHECKPOINTS if s.startswith(prefix)]:
        free_local_checkpoint(_SCOPED_CHECKPOINTS.pop(slot))
        released += 1
    return released


def free_local_checkpoint(df, blocking: bool = False) -> None:
    """Release the block-manager storage behind a ``localCheckpoint()``-ed
    DataFrame.

    ``DataFrame.unpersist()`` only clears plans registered through
    ``persist()``/``cache()``; the RDD materialized by ``localCheckpoint``
    is cached directly at the RDD layer and stays in ``getRDDStorageInfo``
    after ``unpersist`` (verified empirically on this Spark 4.1.2).  The
    checkpointed Dataset's analyzed plan is a ``LogicalRDD`` wrapping
    exactly that RDD, so unpersist THAT.  Falls back to
    ``DataFrame.unpersist()`` when the JVM handle is unreachable (e.g.
    Spark Connect), where the context cleaner remains the backstop.

    Only call this on frames whose checkpoint is superseded/dead — the
    frame is unusable afterwards (its blocks are gone and the lineage was
    truncated).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
    except Exception:
        df.unpersist(blocking)
