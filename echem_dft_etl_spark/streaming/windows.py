"""Structured Streaming forms of the event-window operators (SURVEY X10).

The reference pipeline is batch-triggered (``schedule=None``,
``my_dag.py:249``); its continuous-operation generalization is
Structured Streaming: ``readStream`` → the *same* window expressions the
batch operators use → ``writeStream``. Late data is governed by
watermarks; results are replay-checked against the batch forms in
``operators/sessions.py`` (the DuckDB-checkable correctness proxies,
SURVEY §7 streaming-state risk note).

Every bounded stream here runs through one runner, :func:`_run_stream`:
it narrows the shuffle width for the query's lifetime, starts the
query, finishes it with ``processAllAvailable()`` (the engine's own
"every available offset is committed" signal, for ``availableNow`` and
``processingTime`` triggers alike) and stops it. A started query that
fails is retried once, after a warning that names the failure. The
replays read the parquet events table — the same code takes a
Kafka/file stream at scale; only the reader line changes.
"""

from __future__ import annotations

import uuid
import warnings
from typing import Callable

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.storage import scoped_shuffle_width
from ..sources.tables import parquet_schema, prepare_session

#: Shuffle width (= state-store instances per stateful operator) for the
#: bounded fixture replays. Stateful streams instantiate one state store
#: per shuffle partition and pay a per-instance commit every micro-batch
#: — a fixed machinery cost independent of data volume — so the width
#: should track STATE KEY CARDINALITY, not the batch session's scan
#: width. The fixture corpora carry O(10³) state keys (users, windows),
#: where 4 partitions keep every core busy with real work while halving
#: the r12 width's per-batch commit count (measured interleaved A/B at
#: sf0.1, min-of-3: stream_stream_join 2.89→2.31 s, dedup_keys
#: 1.15→1.05 s, sessions 1.68→1.60 s, tumbling/foreach_merge flat —
#: plans/r13/stream_phase_before.json phase splits attribute the gap to
#: state-store commits). A production deployment sizes this ONCE at
#: first start from its key cardinality (the checkpoint then pins it for
#: the query's lifetime).
STREAM_STATE_WIDTH = 4


def _as_stream_dir(sf_dir: str, table: str = "events") -> str:
    """The file stream source requires a *directory*; the corpus ships
    one parquet file per table. Stage a per-sf symlink directory under
    /tmp (data is never copied or modified)."""
    import hashlib
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = f"/tmp/echem_stream_src_{key}/{table}"
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{table}.parquet"
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/{table}.parquet"), link)
    return d


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """Open ANY corpus table as a bounded stream (availableNow replay)
    — streaming readers need the schema up front; it is the file's raw
    schema as ``load_table`` reads it (``tables.parquet_schema``,
    inferred once per file version), with no column normalization. Use
    :func:`read_events_stream` for events (it additionally normalizes
    the ts vintage)."""
    prepare_session(spark)
    raw_schema = parquet_schema(spark, f"{sf_dir}/{table}.parquet")
    return spark.readStream.schema(raw_schema).parquet(
        _as_stream_dir(sf_dir, table)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a bounded stream (availableNow replay).

    The raw schema is the batch loader's (:func:`read_table_stream`);
    the nanos→µs truncation matches the batch loader.
    """
    stream = read_table_stream(spark, sf_dir, "events")
    ts_dtype = dict(stream.dtypes)["ts"]
    if ts_dtype == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_dtype == "timestamp_ntz":
        # watermarks accept only TIMESTAMP; UTC session tz keeps the
        # wall clock identical (same normalization as sources.load_table)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with a watermark (X10).

    Identical grouping to operators/sessions.tumbling_window_agg — the
    batch query is the oracle for this stream on replay.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows (X10): each event lands in
    width/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming session windows (X10): Spark's native session_window
    merges events within ``gap`` into growing state per user. The batch
    sessionize operator (same gap) is the replay oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _run_stream(
    spark: SparkSession, start: Callable[[], StreamingQuery]
) -> StreamingQuery:
    """Run a bounded stream to completion; return the stopped query.

    ``start`` is a zero-argument callable returning a started query.
    The shuffle width is narrowed to ``min(session, STREAM_STATE_WIDTH)``
    for the query's lifetime through ``storage.scoped_shuffle_width`` —
    the width is baked in at stream START and, for a checkpointed
    production query, pinned by the checkpoint — and restored after.
    Completion is ``processAllAvailable()``: it
    returns once a trigger finds no new data or the query terminates (an
    ``availableNow`` query stops itself), and raises the query's
    failure. The query is stopped either way.

    A started query that fails is retried once, with a warning naming
    the failure: local masters run task.maxFailures=1, so one transient
    executor/worker hiccup aborts the whole query — a failure class a
    real cluster absorbs with task retries. ``start`` builds a fresh
    sink (and checkpoint) per call, so a retry cannot see the failed
    attempt's state. Errors raised by ``start()`` itself (analysis,
    bad options) are not transient and propagate at once.
    """
    # state width tracks state keys, not rows: n_rows=0, floor = width
    with scoped_shuffle_width(spark, 0, floor=STREAM_STATE_WIDTH):
        for attempt in (1, 2):
            q = start()
            try:
                q.processAllAvailable()
                return q
            except StreamingQueryException as exc:
                if attempt == 2:
                    raise
                warnings.warn(
                    f"stream {q.id} failed, retrying once: {exc}",
                    RuntimeWarning,
                    stacklevel=2,
                )
            finally:
                q.stop()


def run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    interval: str | None = None,
) -> DataFrame:
    """Execute a bounded stream into a memory sink through
    :func:`_run_stream` and return the materialized result as a batch
    DataFrame.

    ``interval=None`` runs ``trigger(availableNow=True)``; a string
    such as ``"500 milliseconds"`` runs ``trigger(processingTime=...)``
    — the CONTINUOUS operation mode (SURVEY §1.2), where the query
    fires micro-batches on a wall-clock cadence. Either way the runner
    finishes the query with ``processAllAvailable()``, so the result
    is the same: trigger cadence moves batch BOUNDARIES only, and every
    operator here is batch-boundary-agnostic (watermark semantics, not
    trigger semantics). A started query that fails is retried once,
    with a warning; each attempt gets a fresh memory sink.

    Mode notes for bounded replays: time-window aggregations can use
    'complete' (all windows emitted regardless of watermark); session
    windows only support 'append'/'update', so in append mode the tail
    sessions — those not yet closed by the final watermark — are
    withheld, and replay checks against batch must compare only sessions
    ending below ``max(ts) − watermark``.

    Stateful stream operators (aggregations, stream-stream joins,
    dedup) instantiate ONE STATE STORE per shuffle partition and pay a
    per-partition commit every micro-batch; the batch-oriented session
    width (32) makes bounded fixture replays spend most of their time
    in near-empty store commits, hence the runner's narrowing. The
    ``applyInPandasWithState`` operators run per-key Python work per
    batch, yet the narrow width holds for them too (interleaved A/B at
    sf0.1, local[4] on a 4-CPU host, 12 pairs each: width 8 lost 10 of
    12 pairs for stateful_profile and 12 of 12 for cusum).
    """
    trigger = (
        {"availableNow": True} if interval is None else {"processingTime": interval}
    )

    def start() -> StreamingQuery:
        return (
            stream_df.writeStream.format("memory")
            .queryName(f"sink_{uuid.uuid4().hex[:12]}")
            .outputMode(mode)
            .trigger(**trigger)
            .start()
        )

    return spark.table(_run_stream(spark, start).name)


def stream_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner interval join: each ``left_type`` event
    matched to the same user's ``right_type`` events in the following
    ``within`` window.

    THE canonical funnel/attribution join, and the streaming operator
    with genuinely bidirectional state: each side buffers rows until
    the other side's watermark passes the end of the join range, so the
    time-range condition is what BOUNDS state — without it a
    stream-stream join would buffer both streams forever. State per
    side ≈ rate × (watermark + within), independent of stream length.

    Both sides derive from one source here (filtered twice — two
    independent readers of the same files); in production they'd be
    separate topics. Inner-join emission does not wait for the
    watermark (only state eviction and outer-join nulls do), so a
    bounded availableNow replay emits exactly the batch interval-join
    rows — which is the registered DuckDB oracle.

    ``how="left_outer"`` adds the null-padded rows for clicks with no
    purchase in the window — emitted only once the watermark proves no
    match can still arrive (state eviction time), which is WHY the
    outer form requires both the watermark and the time-range bound:
    without them "no match" is undecidable on an unbounded stream.
    On a bounded replay the final watermark settles at
    ``max(event time) − watermark``, so outer rows whose join window
    has not provably closed are withheld; replay checks against batch
    must restrict both sides to ``left_ts ≤ max(ts) − watermark −
    within`` (minus a safety margin for boundary semantics) — the same
    closed-region discipline the session-window replays use.
    """
    lt = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    rt = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    return lt.join(
        rt,
        F.expr(
            f"user_id = r_user_id AND right_ts >= left_ts "
            f"AND right_ts <= left_ts + interval {within}"
        ),
        how,
    ).select("left_id", "right_id", "user_id", "left_ts", "right_ts")


def stream_merge_latest(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    events: DataFrame | None = None,
) -> DataFrame:
    """STREAM → MANAGED TABLE via ``foreachBatch`` + MERGE: the
    production pattern for keeping a serving table continuously
    upserted from a stream (X10 × S3 composed).

    A stateful update-mode aggregation maintains latest-event-per-user
    (``max_by`` over the (ts, event_id) order — order-insensitive, so
    the per-user state is micro-batch-split INVARIANT); every batch,
    ``foreachBatch`` MERGEs exactly the users whose state changed into
    the snapshot table (``sinks.merge_parquet`` — copy-on-write +
    atomic ``_SUCCESS`` commit). Batch-wins merge semantics are
    CORRECT here precisely because the stream state is monotone: each
    emitted row supersedes every earlier emission for that user, so
    the final table equals latest-per-user over the whole stream
    regardless of how the source was split into batches — the
    determinism a naive per-batch argmax + blind upsert does NOT have.

    Returns the final table state read back from the last committed
    snapshot. Bounded replay via ``availableNow`` through
    :func:`_run_stream`, which narrows the state-store width and retries
    a failed query once (fresh state dir per attempt; merge snapshot
    versioning makes the second attempt's commits supersede torn
    first-attempt output). In production the same code runs unbounded
    with a watermark-bounded state TTL and per-file merge pruning in a
    real table format (the merge_parquet docstring's Delta swap
    point).
    """
    from ..sources import sinks

    # ``events`` override: tests pass a multi-file maxFilesPerTrigger=1
    # stream to force several micro-batches and pin the batch-split
    # invariance this docstring claims.
    if events is None:
        events = read_events_stream(spark, sf_dir)
    latest = (
        events.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type", "value"),
                F.struct("ts", "event_id"),
            ).alias("s"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
            "n_events",
        )
    )

    def write_batch(bdf: DataFrame, _bid: int) -> None:
        sinks.merge_parquet(
            bdf, table_root, ["user_id"], "user_id", keep_snapshots=1
        )

    def start() -> StreamingQuery:
        return (
            latest.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .trigger(availableNow=True)
            .start()
        )

    _run_stream(spark, start)
    return sinks.read_snapshot(spark, table_root)
