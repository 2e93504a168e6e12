"""Session-scoped materialized intermediates shared across plan modules.

The reference materializes its URM / split matrices ONCE and feeds every
recommender from the cached artifact (the split-cache protocol,
reference Utils/dataset.py:271-284 and Utils/dataset.py:327-359); rebuilding
the CSR from the raw log per model would dominate its runtime.  The Spark
analog is `DataFrame.persist()`: the URM build (scan → filter → project →
dropDuplicates shuffle) runs once per (session, scale-factor dir) and every
query — and every *subtree repetition inside one query* (self-joins, norm
passes, split tagging) — reads the in-memory columnar copy instead of
re-scanning and re-shuffling the event log.

At 100 TB this is the difference between one URM-build shuffle per session
and one per query-subtree: MEMORY_AND_DISK spills gracefully when the
matrix outgrows executor memory, and a real deployment would hand this
same role to a bucketed parquet materialization (see sources/model_io.
cached_or_build for the on-disk variant).

Correctness note: values are unaffected — persist() only short-circuits
recomputation.  Keyed by applicationId so test suites that cycle sessions
rebuild instead of touching a stopped context.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..sources.interactions import (
    INTERACTION_EVENT_TYPES,
    events_as_interactions,
    implicit_urm,
)
from ..sources.tables import load_table

_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def materialized(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return a persisted copy of `build()`, reused within this session."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _CACHE.get(key)
    if df is None:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _CACHE[key] = df
    return df


def urm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit URM (user_id, item_id, value=1.0), materialized per session."""
    return materialized(
        spark,
        sf_dir,
        "urm",
        lambda: implicit_urm(load_table(spark, sf_dir, "events")),
    )


def rated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit (user_id, item_id, rating=avg value) table, materialized."""

    def build() -> DataFrame:
        inter = events_as_interactions(load_table(spark, sf_dir, "events"))
        return (
            inter.filter(F.col("event_type").isin(*INTERACTION_EVENT_TYPES))
            .groupBy("user_id", "item_id")
            .agg(F.avg("value").alias("rating"))
        )

    return materialized(spark, sf_dir, "rated", build)


def overlap_jobs(*thunks: Callable[[], object]) -> None:
    """Run independent warmup build chains as CONCURRENT Spark jobs
    (optimization guide §2.6 — overlap independent jobs): the default
    FIFO scheduler back-fills the straggling tail of one chain's stages
    with the next chain's tasks, so the family build line pays
    max(chain) instead of sum(chain).  The warmup builds here are
    small-stage jobs (few tasks each at bench scale) that leave most
    cores idle when run serially.

    Threads only SUBMIT jobs; results are unaffected (each
    ``materialized`` key is built by exactly one thread — callers
    materialize shared roots synchronously before forking, so no two
    thunks race one cache key).  The first failure propagates after all
    thunks settle (same error surface as the serial form)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


def release_session_payloads(
    spark: SparkSession | None = None, blocking: bool = False
) -> int:
    """Drop every session-scoped shared payload cache and lingering
    persisted RDD blocks (localCheckpoints from iterative operators).

    Per-session payload caches (URM here, ICM/adjacency/embedding builds in
    ``operators.blocked_topk._CACHE``) are the right call INSIDE a query
    family — itemcbf/cfcbf share one ICM payload build, the ANN queries one
    embedding payload.  But a long-lived session running the whole suite
    accumulates MEMORY_AND_DISK blocks that crowd the unified memory region
    and inflate UNRELATED queries up to 6x (round-4 verdict: value_outliers
    10.0 s polluted vs 1.5 s clean, code unchanged).  bench.py calls this
    between query families; anything mid-flight that referenced a released
    payload simply rebuilds it on next use (values are unaffected —
    persist() only ever short-circuits recomputation).

    Only call between queries: unpersisting a localCheckpointed RDD whose
    DataFrame is still needed would discard its only copy (checkpoint
    truncates lineage, so there is nothing to recompute from).

    Returns the number of Python-side cache entries dropped.
    """
    from ..operators import blocked_topk

    dropped = 0
    for cache in (_CACHE, blocked_topk._CACHE):
        for key in list(cache):
            val = cache.pop(key)
            dropped += 1
            vals = val if isinstance(val, (tuple, list)) else (val,)
            for v in vals:
                if isinstance(v, DataFrame):
                    try:
                        v.unpersist(blocking)
                    except Exception:  # stopped context — nothing to free
                        pass
                elif hasattr(v, "destroy"):  # pyspark Broadcast
                    try:
                        v.destroy()
                    except Exception:
                        pass
    if spark is not None:
        try:
            # sweep the JVM block manager: catches localCheckpoint blocks
            # (dedup connected-components, BPR epochs, pagerank) and any
            # persist whose Python handle is already gone
            # py4j exposes the java.util.Map as a dict-like view
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for jrdd in list(jmap.values()):
                jrdd.unpersist(blocking)
        except Exception:  # pragma: no cover - py4j surface change
            pass
    return dropped
