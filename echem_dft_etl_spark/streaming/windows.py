"""Structured Streaming forms of the event-window operators (SURVEY X10).

The reference pipeline is batch-triggered (``schedule=None``,
``my_dag.py:249``); its continuous-operation generalization is
Structured Streaming: ``readStream`` → the *same* window expressions the
batch operators use → ``writeStream``. Late data is governed by
watermarks; results are replay-checked against the batch forms in
``operators/sessions.py`` (the DuckDB-checkable correctness proxies,
SURVEY §7 streaming-state risk note).

Everything here runs with ``trigger(availableNow=True)`` against the
parquet events table in tests — the same code takes a Kafka/file stream
at scale; only the reader line changes.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, prepare_session

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
#: the query's lifetime) — that is why it is an env knob and not a
#: constant buried in the runner.
STREAM_STATE_WIDTH = int(os.environ.get("SPARK_GRAFT_STREAM_WIDTH", "4"))


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
    — schema from a batch peek (streaming readers need it up front),
    no column normalization. Use :func:`read_events_stream` for events
    (it additionally normalizes the ts vintage)."""
    prepare_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return spark.readStream.schema(raw_schema).parquet(
        _as_stream_dir(sf_dir, table)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a bounded stream (availableNow replay).

    Schema comes from a batch peek (streaming readers need it up
    front); the nanos→µs truncation matches the batch loader.
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


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming stateful dedup (X10): drop duplicate event_ids whose
    duplicates arrive within the watermark horizon — the streaming
    analogue of the first-wins upsert (Q16)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    state_width: int | None = None,
) -> DataFrame:
    """Execute a bounded stream with availableNow into a memory sink and
    return the materialized result as a batch DataFrame.

    Mode notes for bounded replays: time-window aggregations can use
    'complete' (all windows emitted regardless of watermark); session
    windows only support 'append'/'update', so in append mode the tail
    sessions — those not yet closed by the final watermark — are
    withheld, and replay checks against batch must compare only sessions
    ending below ``max(ts) − watermark``.

    One retry on failure: local masters run with task.maxFailures=1, so
    a single transient executor/worker hiccup aborts the whole query —
    a failure class a real cluster absorbs with task retries. The
    bounded replay is deterministic and side-effect-free (fresh memory
    sink per attempt), so a retry cannot change results.

    Stateful stream operators (aggregations, stream-stream joins,
    dedup) instantiate ONE STATE STORE per shuffle partition and pay a
    per-partition commit every micro-batch; the batch-oriented session
    width (32) makes bounded fixture replays spend most of their time
    in near-empty store commits. The runner narrows the width for the
    query's lifetime (the width is baked in at stream START and, for a
    checkpointed production query, pinned by the checkpoint — sized
    once to key cardinality there) and restores it after.

    ``state_width`` overrides :data:`STREAM_STATE_WIDTH` for streams
    whose per-batch cost is NOT the state commits: the
    ``applyInPandasWithState`` operators execute per-key Python work
    per batch, so their width is Python-task parallelism first and
    commit count second (measured interleaved A/B at sf0.1:
    stateful_profile 1.63 s at width 8 vs 2.30 s at width 4, cusum
    1.72 vs 2.10 — the inverse of the built-in stateful operators).
    """
    conf_key = "spark.sql.shuffle.partitions"
    saved_width = spark.conf.get(conf_key)
    width = state_width if state_width is not None else STREAM_STATE_WIDTH
    last_exc: Exception | None = None
    try:
        spark.conf.set(conf_key, str(min(int(saved_width), width)))
        for _attempt in range(2):
            name = f"sink_{uuid.uuid4().hex[:12]}"
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                return spark.table(name)
            except Exception as exc:  # StreamingQueryException and kin
                last_exc = exc
    finally:
        spark.conf.set(conf_key, saved_width)
    raise last_exc


def run_processing_time(
    stream_df: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    interval: str = "500 milliseconds",
    drain_timeout: float = 120.0,
) -> DataFrame:
    """Execute a stream under a periodic ``processingTime`` trigger —
    the CONTINUOUS operation mode (SURVEY §1.2): the query stays up and
    fires micro-batches on a wall-clock cadence, unlike the bounded
    ``availableNow`` replays used everywhere else here.

    Against a bounded source this drains in the first few triggers;
    the helper watches the query STATUS (not progress events — idle
    triggers don't run batches, and no-data progress is only emitted
    every ~10 s) until the source reports no data available with no
    trigger in flight after ≥ 1 non-empty batch, then stops the query
    and returns the memory-sink table. Results are identical to the
    availableNow replay of the same plan — asserted in
    tests/test_streaming.py — because trigger cadence changes only
    batch BOUNDARIES, and every operator here is
    batch-boundary-agnostic (watermark semantics, not trigger
    semantics). On an unbounded source, callers own the lifecycle:
    start the writeStream themselves and skip the drain watch.

    One retry on transient failure, same rationale as
    :func:`run_to_memory` (local masters run task.maxFailures=1).
    """
    conf_key = "spark.sql.shuffle.partitions"
    saved_width = spark.conf.get(conf_key)
    try:
        # Same state-store-width rationale as run_to_memory.
        spark.conf.set(conf_key, str(min(int(saved_width), STREAM_STATE_WIDTH)))
        return _run_processing_time_inner(
            stream_df, spark, mode, interval, drain_timeout
        )
    finally:
        spark.conf.set(conf_key, saved_width)


def _run_processing_time_inner(
    stream_df: DataFrame,
    spark: SparkSession,
    mode: str,
    interval: str,
    drain_timeout: float,
) -> DataFrame:
    import time

    last_exc: Exception | None = None
    for _attempt in range(2):
        name = f"sink_{uuid.uuid4().hex[:12]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(processingTime=interval)
            .start()
        )
        try:
            deadline = time.monotonic() + drain_timeout
            drained_polls = 0
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise q.exception()
                p = q.lastProgress
                s = q.status
                if (
                    p is not None
                    and not s["isDataAvailable"]
                    and not s["isTriggerActive"]
                ):
                    # three consecutive idle polls 0.1 s apart (0.2 s
                    # of proven quiet): not a gap between file-listing
                    # and batch start
                    drained_polls += 1
                    if drained_polls >= 3:
                        break
                else:
                    drained_polls = 0
                # 0.1 s cadence: the watch is pure idle time after the
                # last batch; finer polls shave the post-drain tail
                time.sleep(0.1)
            else:
                raise TimeoutError(
                    f"stream did not drain in {drain_timeout}s"
                )
            return spark.table(name)
        except Exception as exc:
            last_exc = exc
        finally:
            q.stop()
    raise last_exc


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
    snapshot. Bounded replay via ``availableNow``; one retry like
    :func:`run_to_memory` (fresh state dir per attempt, merge snapshot
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

    # A streaming aggregation instantiates one STATE STORE per shuffle
    # partition, and every micro-batch pays a commit (delta file +
    # fsync) per instance — at the session's batch-oriented width (32)
    # that is 32 commits per batch for a per-user state that fits in a
    # handful of partitions. Same width discipline as the
    # connected_components loop: narrow for the bounded fixture,
    # restore on exit; a production deployment sizes this to its key
    # cardinality ONCE at first start (the width is then pinned in the
    # checkpoint for the query's lifetime).
    conf_key = "spark.sql.shuffle.partitions"
    saved_width = spark.conf.get(conf_key)
    last_exc: Exception | None = None
    try:
        spark.conf.set(conf_key, str(min(int(saved_width), STREAM_STATE_WIDTH)))
        for _attempt in range(2):
            q = (
                latest.writeStream.outputMode("update")
                .foreachBatch(write_batch)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                last_exc = None
                break
            except Exception as exc:  # StreamingQueryException and kin
                last_exc = exc
    finally:
        spark.conf.set(conf_key, saved_width)
    if last_exc is not None:
        raise last_exc
    snaps = sinks._committed_snapshots(spark, table_root)
    return spark.read.parquet(snaps[-1][1])
