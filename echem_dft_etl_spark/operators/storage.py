"""Executor-storage lifecycle for operators that checkpoint.

``DataFrame.localCheckpoint`` pins its result blocks in executor
storage for the SESSION lifetime — ``DataFrame.unpersist`` does not
touch them (it clears plan-cache entries, not the checkpoint RDD). The
only release handle is the persistent-RDD registry. Iterative
operators (connected components, BFS, PageRank, triangle counting,
k-core), the reference-pipeline runner, the upsert sink and several
registry queries checkpoint per call or per round; in a long-lived
session (the driver's bench runs the whole registry in one JVM)
unreleased blocks accumulate as suite-wide storage/GC slowdown.

:class:`CheckpointScope` is the one owner of those blocks: an operator
opens one scope per call, pins through it, releases a superseded round
early, and marks the pins its returned frame reads as kept. Everything
else is freed when the scope closes, and on an exception everything is
freed, so no error path leaks. :func:`persistent_rdd_ids` and
:func:`release_rdds` stay as the release-everything primitive for
harnesses that drop all storage between runs.

On a real cluster with a reliable checkpoint dir, ``checkpoint``
swaps in for fault tolerance; the ownership discipline is identical.
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


class CheckpointScope:
    """The checkpoints one operator call pinned, released on exit.

    ``with CheckpointScope(spark) as ck:`` — :meth:`pin` checkpoints,
    :meth:`release` frees one pin early (a superseded round), and
    :meth:`keep` marks a pin the returned frame reads. On normal exit
    every pin not kept is freed; on an exception every pin is, kept or
    not, because nothing is returned."""

    def __init__(self, spark):
        self._spark = spark
        self._pins: list[tuple[DataFrame, set]] = []
        self._kept: list[tuple[DataFrame, set]] = []

    def __enter__(self) -> "CheckpointScope":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        held = self._pins + (self._kept if exc_type is not None else [])
        self._pins, self._kept = [], []
        for _frame, ids in held:
            release_rdds(self._spark, ids)

    def pin(self, df: DataFrame) -> DataFrame:
        """Eager ``localCheckpoint`` of ``df``, owned by this scope —
        also when the job fails, which leaves its RDD registered as
        pinned (that pin is filed under ``df`` and freed on exit)."""
        before = persistent_rdd_ids(self._spark)
        frame = df
        try:
            frame = df.localCheckpoint()
        finally:
            self._pins.append((frame, persistent_rdd_ids(self._spark) - before))
        return frame

    def release(self, frame) -> None:
        """Free ``frame``'s pin now. A frame this scope does not hold
        (never pinned, already released, or ``None``) is a no-op."""
        for i, (f, ids) in enumerate(self._pins):
            if f is frame:
                del self._pins[i]
                release_rdds(self._spark, ids)
                return

    def keep(self, frame: DataFrame) -> DataFrame:
        """Leave ``frame``'s pin in place after a normal exit: the
        returned frame reads it. Returns ``frame``."""
        for i, (f, _ids) in enumerate(self._pins):
            if f is frame:
                self._kept.append(self._pins.pop(i))
                break
        return frame


@contextmanager
def scoped_shuffle_width(spark, n_rows: int, floor: int = 8):
    """Temporarily narrow ``spark.sql.shuffle.partitions`` for an
    iterative loop or a bounded stream, restoring the session value on
    exit. This is the only code outside the session builder that sets
    the width.

    Iterative operators (connected components, BFS, PageRank, triangle
    counting) pay a few shuffle stages PER ROUND; with the session
    width (e.g. 32 or a cluster's thousands) each stage costs
    scheduling latency proportional to width even when the data is
    tiny after contraction. Width = one partition per million input
    rows (16 B/row keeps partitions well under shuffle-spill
    territory), floored at ``floor`` (width 1 serializes each round
    onto one core) and capped at the session width — a 100 TB edge
    list keeps full cluster parallelism while a small graph stops
    paying rounds × idle-stage scheduling. Streams size by state keys,
    not rows: they pass ``n_rows=0`` and their state width as
    ``floor``.

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
    width = min(session_width, max(floor, 1 + n_rows // 1_000_000))
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
