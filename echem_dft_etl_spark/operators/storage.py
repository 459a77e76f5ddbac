"""Tracked executor-storage lifecycle for iterative operators.

``DataFrame.localCheckpoint`` pins its result blocks in executor
storage for the SESSION lifetime — ``DataFrame.unpersist`` does not
touch them (it clears plan-cache entries, not the checkpoint RDD). The
only release handle is the persistent-RDD registry. Iterative
operators (connected components, BFS, PageRank, triangle counting),
the reference-pipeline runner and the scale-probe harness all
checkpoint per round; in a long-lived session (the driver's bench runs
the whole registry in one JVM) unreleased rounds accumulate as
suite-wide storage/GC slowdown. These helpers capture the RDD ids a
checkpoint pinned so callers can release exactly what they own — a
public utility so production code never reaches into another module's
underscore internals.

On a real cluster with a reliable checkpoint dir, ``checkpoint``
swaps in for fault tolerance; the tracking discipline is identical.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def persistent_rdd_ids(spark) -> set:
    """Ids of RDDs currently pinned in executor storage."""
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


def tracked_checkpoint(df: DataFrame, owned_ids: list) -> DataFrame:
    """``localCheckpoint`` that records the storage ids it pinned into
    ``owned_ids`` for later :func:`release_rdds` — also when the eager
    checkpoint job fails, which leaves its RDD registered as pinned."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    try:
        return df.localCheckpoint()
    finally:
        owned_ids.extend(persistent_rdd_ids(spark) - before)


@contextmanager
def scoped_shuffle_width(spark, n_rows: int, rows_per_partition: int = 1_000_000, floor: int = 8):
    """Temporarily narrow ``spark.sql.shuffle.partitions`` for an
    iterative loop, restoring the session value on exit.

    Iterative operators (connected components, BFS, PageRank, triangle
    counting) pay a few shuffle stages PER ROUND; with the session
    width (e.g. 32 or a cluster's thousands) each stage costs
    scheduling latency proportional to width even when the data is
    tiny after contraction. Width = one partition per
    ``rows_per_partition`` input rows (16 B/row keeps partitions well
    under shuffle-spill territory), floored at ``floor`` (width 1
    serializes each round onto one core) and capped at the session
    width — a 100 TB edge list keeps full cluster parallelism while a
    small graph stops paying rounds × idle-stage scheduling.

    Yields the chosen width, or ``None`` when the session value is not
    an integer (e.g. a future AQE ``auto``) — in that case the conf is
    left untouched and the caller should fall back to unsized
    repartitions. Scoping caveat: the conf is session-global for the
    duration of the ``with`` block; this engine plans queries serially
    within a session, so the narrowed width cannot leak into a
    concurrently-planned query. Restore rides the ``finally`` even on
    mid-loop task failures.
    """
    conf_key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf_key)
    try:
        session_width = int(saved)
    except (TypeError, ValueError):
        # non-numeric session setting: skip the narrowing entirely
        # rather than guess — the caller's loop still runs correctly,
        # just at the session's own width
        yield None
        return
    width = min(session_width, max(floor, 1 + n_rows // rows_per_partition))
    try:
        spark.conf.set(conf_key, str(width))
        yield width
    finally:
        spark.conf.set(conf_key, saved)


def release_rdds(spark, ids) -> None:
    """Unpersist the given RDD ids (non-blocking); missing ids no-op —
    a superseded checkpoint may already have been released."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        r = m.get(i)
        if r is not None:
            r.unpersist(False)
