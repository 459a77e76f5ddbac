"""Structured Streaming forms vs their batch correctness proxies
(SURVEY §7: keep streaming a thin layer over batch-tested expressions)."""

from __future__ import annotations

import datetime as dt
import warnings
from types import SimpleNamespace

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from echem_dft_etl_spark.operators.sessions import session_aggregate, sessionize
from echem_dft_etl_spark.sources import load_table
from echem_dft_etl_spark.streaming.windows import (
    _run_stream,
    read_events_stream,
    run_to_memory,
    session_windows,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE


def test_stream_tumbling_equals_batch(spark):
    stream = tumbling_counts(read_events_stream(spark, SF_SMOKE), "1 hour", "2 hours")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in run_to_memory(stream, spark, mode="complete").collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exp = {
        (r.ws, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == exp


def test_stream_tumbling_processing_time_trigger(spark):
    """CONTINUOUS mode smoke (SURVEY §1.2): the same tumbling query
    under a periodic processingTime trigger must produce exactly the
    batch result once the bounded source drains — trigger cadence moves
    batch boundaries, never window contents."""
    stream = tumbling_counts(read_events_stream(spark, SF_SMOKE), "1 hour", "2 hours")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in run_to_memory(
            stream, spark, mode="complete", interval="500 milliseconds"
        ).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exp = {
        (r.ws, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == exp


class _FakeConf:
    def __init__(self):
        self.values = {"spark.sql.shuffle.partitions": "32"}

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        self.values[key] = value


class _FakeQuery:
    def __init__(self, spark, n, error=None):
        self.width = spark.conf.get("spark.sql.shuffle.partitions")
        self.id = f"q{n}"
        self.error = error
        self.stopped = False

    def processAllAvailable(self):
        if self.error is not None:
            raise self.error

    def stop(self):
        self.stopped = True


def test_run_stream_retries_a_failed_query_once_with_a_warning():
    """A started query that dies is stopped, reported by one warning
    naming its error, and replaced by a second attempt whose query is
    returned; the shuffle width is narrowed while the streams run and
    restored afterwards."""
    spark = SimpleNamespace(conf=_FakeConf())
    started = []

    def start():
        error = StreamingQueryException("worker died") if not started else None
        started.append(_FakeQuery(spark, len(started), error))
        return started[-1]

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        q = _run_stream(spark, start)

    assert q is started[1]
    assert [s.stopped for s in started] == [True, True]
    assert len(caught) == 1 and "worker died" in str(caught[0].message)
    assert [s.width for s in started] == ["4", "4"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_run_stream_does_not_retry_a_failing_start():
    """An error raised by start() itself is not a transient query
    failure: it propagates at once, unretried, with the width restored."""
    spark = SimpleNamespace(conf=_FakeConf())
    calls = []

    def start():
        calls.append(1)
        raise ValueError("bad sink option")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(ValueError, match="bad sink option"):
            _run_stream(spark, start)

    assert len(calls) == 1 and caught == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_stream_sessions_subset_of_batch(spark):
    """Append-mode session windows emit exactly the sessions closed by
    the final watermark; every emitted session must match the batch
    sessionization (window end = last event + gap)."""
    stream = session_windows(read_events_stream(spark, SF_SMOKE), "30 minutes", "2 hours")
    emitted = run_to_memory(stream, spark, mode="append").collect()
    assert len(emitted) > 0

    ev = load_table(spark, SF_SMOKE, "events")
    batch = session_aggregate(
        sessionize(ev, "user_id", "ts", 30.0, tie_col="event_id"), "user_id", "ts"
    ).collect()
    gap = dt.timedelta(minutes=30)
    batch_set = {
        (r.user_id, r.start_ts, r.end_ts + gap, r.n_events) for r in batch
    }
    emitted_set = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in emitted
    }
    assert emitted_set <= batch_set
    # Row-for-row batch equivalence below the achieved horizon (SURVEY
    # §7 streaming-state risk): the emitted set must be EXACTLY the
    # batch sessions whose end falls at or before the last emitted end
    # — nothing withheld below the horizon, nothing extra, same counts.
    horizon_emitted = max(t[2] for t in emitted_set)
    assert emitted_set == {t for t in batch_set if t[2] <= horizon_emitted}
    # And the horizon itself is where the final watermark puts it:
    # sessions ending well before max(ts) - 2h are all emitted.
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=2, minutes=1)
    closed = {t for t in batch_set if t[2] < horizon}
    assert closed <= emitted_set


def test_stateful_profile_gap_spans_batches(spark, tmp_path):
    """applyInPandasWithState: the max-inactivity gap must be found even
    when the two events bounding it arrive in different micro-batches —
    the cross-batch memory that per-batch aggregation cannot express."""
    import pandas as pd

    from echem_dft_etl_spark.streaming.stateful import user_activity_profile

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [(1, t0), (1, t0 + dt.timedelta(minutes=1))]
    batch2 = [(1, t0 + dt.timedelta(hours=3)), (2, t0)]
    d = tmp_path / "stream_src"
    d.mkdir()
    schema = "user_id bigint, ts timestamp"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(d / "b1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(d / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d / "*"))
    )
    out = run_to_memory(user_activity_profile(stream), spark, mode="update")
    final = {
        r.user_id: r
        for r in out.orderBy("version").collect()  # last write per user wins
    }
    u1 = final[1]
    assert u1.version == 2  # proves user 1 was really updated across 2 batches
    assert u1.n_events == 3
    assert u1.max_gap_us == int(dt.timedelta(hours=2, minutes=59).total_seconds() * 1e6)
    assert u1.first_ts == t0 and u1.last_ts == t0 + dt.timedelta(hours=3)
    u2 = final[2]
    assert u2.n_events == 1 and u2.max_gap_us == 0
    # the boundary-spanning gap requires state from batch 1 during
    # batch 2; at least one user-1 emission per touching batch exists
    assert out.filter(F.col("user_id") == 1).count() >= 1


def test_fold_profile_is_batch_split_invariant():
    """Both state APIs fold through fold_profile: folding [a..d] in one
    batch equals folding [a,b] then [c,d] — including the gap that
    spans the split — up to the version counter."""
    import pandas as pd

    from echem_dft_etl_spark.streaming.stateful import fold_profile

    t0 = pd.Timestamp("2024-01-01")
    a, b, c, d = (t0 + pd.Timedelta(minutes=m) for m in (0, 1, 90, 95))
    # the 89-minute b->c gap is the largest and crosses the split
    whole = fold_profile(None, [pd.Series([c, a]), pd.Series([d, b])])
    first = fold_profile(None, [pd.Series([b, a])])
    split = fold_profile(first, [pd.Series([d, c])])
    assert whole[:4] == split[:4]
    n, first_us, last_us, max_gap_us, _ = whole
    assert n == 4
    assert (first_us, last_us) == (a.value // 1000, d.value // 1000)
    assert max_gap_us == 89 * 60 * 1_000_000
    assert (whole[4], split[4]) == (1, 2)
    # empty chunks leave the state untouched; no state stays no state
    empty = pd.Series([], dtype="datetime64[ns]")
    assert fold_profile(split, [empty]) is split
    assert fold_profile(None, []) is None


def test_foreachbatch_streaming_upsert(spark, tmp_path):
    """Streaming first-wins upsert: each micro-batch lands through the
    batch upsert operator via foreachBatch — the streaming form of the
    reference's ON CONFLICT DO NOTHING sink (Q16/S3). Re-running the
    whole bounded stream must not duplicate keys."""
    from echem_dft_etl_spark.sources.sinks import upsert_parquet

    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id bigint, val double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame([(2, 99.0), (3, 3.0)], schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    table = str(tmp_path / "tbl")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: upsert_parquet(
                    batch, table, key_cols=["event_id"], order_col="val"
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()

    run_once()
    got = {r.event_id: r.val for r in spark.read.parquet(table).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}  # first batch's 2 won
    # bounded replay from a fresh checkpoint: still no duplicates
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    run_once()
    after = {r.event_id: r.val for r in spark.read.parquet(table).collect()}
    assert after == got


def test_foreachbatch_streaming_merge_updates(spark, tmp_path):
    """Streaming MERGE: micro-batches land through merge_parquet via
    foreachBatch — CDC-style continuous upsert where later batches
    UPDATE matched keys (the semantics upsert_parquet's DO-NOTHING
    refuses, test above). Batch 2's re-write of key 2 must win, and a
    full bounded replay must be content-idempotent."""
    from echem_dft_etl_spark.sources.sinks import merge_parquet

    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id bigint, val double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame([(2, 99.0), (3, 3.0)], schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    table = str(tmp_path / "tbl")

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: merge_parquet(
                    batch, table, key_cols=["event_id"], order_col="val"
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run_once("ckpt1")
    from echem_dft_etl_spark.sources.sinks import _committed_snapshots

    head = _committed_snapshots(spark, table)[-1][1]
    got = {r.event_id: r.val for r in spark.read.parquet(head).collect()}
    assert got == {1: 1.0, 2: 99.0, 3: 3.0}  # batch 2 UPDATED key 2
    run_once("ckpt2")  # full replay from a fresh checkpoint
    head = _committed_snapshots(spark, table)[-1][1]
    after = {r.event_id: r.val for r in spark.read.parquet(head).collect()}
    assert after == got


def test_foreachbatch_multibatch_incremental_upsert(spark, tmp_path):
    """Genuine multi-micro-batch incremental upsert: the source is split
    into 4 files streamed one per trigger (maxFilesPerTrigger=1), each
    batch upserting into the same parquet table. The final table must
    equal the BATCH first-wins dedup over all events — per-key survivor
    determined by arrival (batch) order here, which the file-order
    source makes deterministic via a monotonically increasing batch
    tag as the order column."""
    from echem_dft_etl_spark.operators.dedup import first_wins_dedup
    from echem_dft_etl_spark.sources import load_table
    from echem_dft_etl_spark.sources.sinks import upsert_parquet

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", F.pmod("event_id", F.lit(100)).alias("key"), "value"
    )
    src_dir = str(tmp_path / "src")
    # 4 input files, event_id ranges disjoint and file index ascending so
    # (file order == event_id order) — the stream processes them in order
    for i in range(4):
        ev.filter(F.pmod("event_id", F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    table = str(tmp_path / "table")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: upsert_parquet(
                batch, table, key_cols=["key"], order_col="event_id"
            )
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    got = {(r.key, r.event_id) for r in spark.read.parquet(table).collect()}
    assert len(got) == 100  # one survivor per key
    # each batch dedupes internally by event_id, and earlier batches win
    # conflicts — with unordered file pickup the survivor per key is the
    # min event_id within the FIRST batch that carried the key, so assert
    # the invariant that holds regardless of file pickup order: the
    # surviving event_id is the min event_id of its (key, batch residue)
    by_key = {}
    for r in load_table(spark, SF_SMOKE, "events").select("event_id").collect():
        k = r.event_id % 100
        by_key.setdefault(k, []).append(r.event_id)
    for key, eid in got:
        assert eid in by_key[key]
        residue = eid % 4
        assert eid == min(e for e in by_key[key] if e % 4 == residue)


def test_watermark_drops_late_rows(spark, tmp_path):
    """The late-data contract itself: once a window's state has been
    EVICTED (its end passed the watermark and, in append mode, its row
    was emitted), a late-arriving event for it is DROPPED — the
    bounded-state guarantee that distinguishes the stream from its
    batch oracle, proven by the deliberate batch/stream mismatch on
    the late row.

    Three files because of a real Spark semantic this test documents:
    the watermark advances BETWEEN micro-batches and "too late" drops
    are only guaranteed once the state is gone — a late row arriving
    in the same batch whose start-of-batch watermark first passed the
    window still merges into the live state (observed: two-file
    layouts emit count 2). File b2 exists purely to trigger the
    eviction/emission batch; the late row rides b3 against evicted
    state and must not resurrect the window."""
    import time

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id bigint, ts timestamp, event_type string"
    d = tmp_path / "src"
    d.mkdir()
    # b1: one event in the 00:00 window, one at 05:00 — after this
    # batch the watermark (10 min delay) sits at 04:50
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5), "a"),
         (2, t0 + dt.timedelta(hours=5), "a")],
        schema,
    ).coalesce(1).write.parquet(str(d / "b1"))
    time.sleep(1.2)  # file source orders batches by modification time
    # b2: advances nothing much; its batch runs with watermark 04:50
    # and evicts + emits the closed 00:00 window (count 1)
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=5, minutes=10), "a")], schema
    ).coalesce(1).write.parquet(str(d / "b2"))
    time.sleep(1.2)
    # b3: the LATE row for the long-evicted 00:00 window
    spark.createDataFrame(
        [(4, t0 + dt.timedelta(minutes=30), "a"),
         (5, t0 + dt.timedelta(hours=5, minutes=20), "a")],
        schema,
    ).coalesce(1).write.parquet(str(d / "b3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d / "*"))
    )
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in run_to_memory(
            tumbling_counts(stream, "1 hour", "10 minutes"),
            spark,
            mode="append",
        ).collect()
    }
    # the 00:00 window was emitted with ONLY the on-time event; the
    # late row (event 4) neither updated nor resurrected it
    assert got[(t0, "a")] == 1
    # the batch form (no watermark pressure) counts BOTH — the
    # difference IS the late-data drop
    batch = (
        spark.read.parquet(str(d / "*"))
        .groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    assert {(r.ws, r.event_type): r.n for r in batch.collect()}[(t0, "a")] == 2


def test_transform_with_state_matches_applyinpandas(spark):
    """Spark 4's StatefulProcessor API (transformWithStateInPandas)
    emits the same final per-user profile as applyInPandasWithState —
    two generations of the arbitrary-state surface, one semantic.
    Skipped where the protobuf dependency (TWS's state protocol) is
    absent; see streaming/stateful.py note."""
    import importlib.util

    import pytest

    try:
        # find_spec imports the parent package, so a missing `google`
        # namespace raises instead of returning None
        have_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have_protobuf = False
    if not have_protobuf:
        pytest.skip(
            "transformWithStateInPandas needs the `protobuf` package: "
            "PySpark's StatefulProcessor handle serializes state over "
            "a protobuf protocol (pyspark.sql.streaming.proto). This "
            "container ships no protobuf and installs are disallowed; "
            "`pip install protobuf` makes this test run — the TWS "
            "implementation under test (streaming/stateful.py::"
            "user_activity_profile_tws) is complete, and its "
            "applyInPandasWithState twin is fully tested above."
        )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from echem_dft_etl_spark.streaming.stateful import (
        user_activity_profile,
        user_activity_profile_tws,
    )
    from echem_dft_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )
    from tests.conftest import SF_SMOKE

    def final_profiles(op):
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", ""
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            ev = read_events_stream(spark, SF_SMOKE).select("user_id", "ts")
            out = run_to_memory(op(ev), spark, mode="update")
            w = W.partitionBy("user_id").orderBy(F.col("version").desc())
            return sorted(
                tuple(r)
                for r in out.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(
                    "user_id", "n_events", "first_ts", "last_ts", "max_gap_us"
                )
                .collect()
            )
        finally:
            if prev:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )

    assert final_profiles(user_activity_profile_tws) == final_profiles(
        user_activity_profile
    )


def test_stream_merge_latest_batch_split_invariant(spark, tmp_path):
    """stream_merge_latest's core claim: the final MERGEd table equals
    latest-event-per-user over the whole stream REGARDLESS of
    micro-batch splits. Drive it with a 3-file maxFilesPerTrigger=1
    source (3+ genuine batches, each committing a merge snapshot) and
    compare against the batch argmax."""
    from echem_dft_etl_spark.sources import load_table
    from echem_dft_etl_spark.streaming.windows import stream_merge_latest

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src_dir = str(tmp_path / "src")
    for i in range(3):  # split by residue — users span all three files
        ev.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    table = stream_merge_latest(
        spark, SF_SMOKE, str(tmp_path / "table"), events=stream
    )
    got = {
        r.user_id: (r.event_id, r.n_events) for r in table.collect()
    }

    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r.user_id: (r.event_id, r.n_events)
        for r in ev.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_events", F.count("*").over(W.partitionBy("user_id")))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert got == want
