"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY X10/X14 — the arbitrary-state surface).

The built-in streaming ops (windowed aggregation, ``session_window``,
``dropDuplicatesWithinWatermark``) cover fixed state machines. When an
operator needs state Spark doesn't model — here a per-user activity
profile whose max-inactivity-gap tracking must remember the *previous
event's timestamp* across micro-batches — the idiomatic escape hatch is
``applyInPandasWithState``: Arrow-batched pandas per key group, an
explicit typed state tuple, and update-mode emission per batch.

Scale notes: state is partitioned by the group key across executors and
checkpointed by the state store; per batch each key touches only its
own rows (no shuffle beyond the groupBy hash exchange). The profile
state is O(1) per user — the operator handles arbitrarily many events
per user with constant state.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Emitted per (user, micro-batch): the running profile after the batch.
PROFILE_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, first_ts timestamp, last_ts timestamp, "
    "max_gap_us bigint, version bigint"
)
#: Kept per user across batches: counts + boundary timestamps in µs.
PROFILE_STATE_SCHEMA = (
    "n bigint, first_us bigint, last_us bigint, max_gap_us bigint, version bigint"
)


def _to_us(ts: pd.Series) -> "pd.Series":
    """Timestamps → integer microseconds, robust to ns/us pandas units."""
    return pd.Series(ts.values.astype("datetime64[us]").astype("int64"))


def fold_profile(state: tuple | None, ts_chunks) -> tuple | None:
    """One profile fold over a micro-batch's timestamp chunks (pandas
    Series, any order): ``state`` is ``(n, first_us, last_us,
    max_gap_us, version)`` or None for a new user. Returns the new
    state, ``state`` itself when every chunk is empty. The gap from the
    previous batch's last event to this batch's first one counts, so
    folding [a,b,c,d] equals folding [a,b] then [c,d] (up to
    ``version``, which counts the non-empty folds) — tests pin it."""
    chunks = [_to_us(ts) for ts in ts_chunks if len(ts)]
    if not chunks:
        return state
    n, first_us, last_us, max_gap_us, version = state or (0, None, None, 0, 0)
    us = pd.concat(chunks).sort_values().reset_index(drop=True)
    # gap spanning the batch boundary: previous last → new first
    if last_us is not None:
        max_gap_us = max(max_gap_us, int(us.iloc[0]) - last_us)
    if len(us) > 1:
        max_gap_us = max(max_gap_us, int(us.diff().max()))
    lo, hi = int(us.iloc[0]), int(us.iloc[-1])
    return (
        n + len(us),
        lo if first_us is None else min(first_us, lo),
        hi if last_us is None else max(last_us, hi),
        max_gap_us,
        version + 1,
    )


def _profile_row(user_id, state: tuple) -> pd.DataFrame:
    """The one-row emission of a user's profile state."""
    n, first_us, last_us, max_gap_us, version = state
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "first_ts": [pd.Timestamp(first_us, unit="us")],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
            "max_gap_us": [max_gap_us],
            "version": [version],
        }
    )


def user_activity_profile(events: DataFrame) -> DataFrame:
    """(user_id, ts) stream → running per-user activity profile.

    Emits one row per user per micro-batch: total event count, first /
    last event time, and the largest gap between consecutive events —
    including gaps that *span* micro-batches, which is exactly the part
    per-batch aggregation cannot express and state makes O(1).

    On a bounded replay (availableNow) the final emission per user
    (highest ``version``) equals the batch computation
    ``max(ts - lag(ts)) over (partition by user order by ts)`` — the
    DuckDB-checkable oracle for this operator.
    """

    def track(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        prior = state.get if state.exists else None
        profile = fold_profile(prior, (pdf["ts"] for pdf in pdfs))
        if profile is None:  # key invoked with no data and no state
            return
        if profile is not prior:
            state.update(profile)
        yield _profile_row(user_id, profile)

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=PROFILE_OUT_SCHEMA,
        stateStructType=PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_activity_profile_tws(events: DataFrame) -> DataFrame:
    """The same running per-user profile through
    ``transformWithStateInPandas`` — Spark 4's arbitrary-state API
    (StatefulProcessor) that supersedes ``applyInPandasWithState``:
    named typed state slots on an explicit handle (value/list/map),
    optional TTL and timers, and a processor OBJECT whose lifecycle
    (init/close) the engine manages per partition. Semantics are kept
    deliberately identical to :func:`user_activity_profile` so the two
    APIs are value-checked against the same batch oracle.

    Requires the RocksDB state store provider (transformWithState's
    backing store — its state layout supports multiple named column
    families per key, which the default HDFS-backed provider cannot);
    the registry query sets the provider conf for the bounded run.
    Scale: state remains O(1) per user, now spillable to local RocksDB
    instead of bounded by executor heap — the practical difference at
    a 100 M-key state size.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("profile", PROFILE_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            prior = self._state.get() if self._state.exists() else None
            profile = fold_profile(prior, (pdf["ts"] for pdf in rows))
            if profile is None:
                return
            if profile is not prior:
                self._state.update(profile)
            yield _profile_row(user_id, profile)

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ProfileProcessor(),
        outputStructType=PROFILE_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# NOTE: transformWithStateInPandas runs its per-key state protocol over
# protobuf between the JVM and the Python worker; in environments
# without the `protobuf` package the query fails at the first
# micro-batch with `ImportError: google.protobuf`. The operator is
# therefore exercised by an importorskip-gated test
# (tests/test_streaming.py::test_transform_with_state_matches_applyinpandas)
# rather than a registered driver query: where the dependency exists the
# two state APIs are asserted value-identical, and where it doesn't the
# applyInPandasWithState row (x10_stream_stateful_profile) remains the
# driver-checked arbitrary-state evidence.


#: Emitted per (user, micro-batch): the running CUSUM alarm profile.
CUSUM_OUT_SCHEMA = (
    "user_id bigint, cusum bigint, n_alarms bigint, max_cusum bigint, "
    "version bigint"
)
#: Kept per user across batches: the control-chart accumulator.
CUSUM_STATE_SCHEMA = (
    "cusum bigint, n_alarms bigint, max_cusum bigint, version bigint"
)


def fold_cusum(
    cusum: int, n_alarms: int, max_cusum: int, cents, k: int, h: int
) -> tuple:
    """One CUSUM fold over an in-order value sequence:
    ``S = max(0, S + c - k)``, alarm when ``S > h``. Pure function of
    (state, ordered batch) — batch-split invariant by construction
    (folding [a,b,c,d] equals folding [a,b] then [c,d]), which is the
    property that makes the streaming operator's emission independent
    of micro-batch boundaries given in-order per-key arrival
    (tests/test_streaming.py pins it)."""
    for c in cents:
        cusum = max(0, cusum + int(c) - k)
        if cusum > h:
            n_alarms += 1
        if cusum > max_cusum:
            max_cusum = cusum
    return cusum, n_alarms, max_cusum


def user_cusum_alarms(
    events: DataFrame, k: int = 8000, h: int = 30000
) -> DataFrame:
    """(user_id, t, pid, cents) stream → running one-sided CUSUM
    control chart per user (the streaming twin of x04_cusum_drift):
    state is the 3-integer accumulator (current sum, alarm count,
    high-water mark) — O(1) per user forever, the canonical
    cheap-state/long-horizon detector that windowed aggregation cannot
    express (the sum has no bounded window; it resets on drops and
    accumulates over arbitrary spans).

    Ordering contract: CUSUM is path-dependent, so correctness
    requires in-order per-key arrival across batches — the guarantee a
    keyed Kafka partition (or any log replay) provides. Within each
    batch rows are sorted by (t, pid); across batches the fold is
    split-invariant (see :func:`fold_cusum`), so ANY batching of an
    in-order stream yields identical final emissions — checked against
    the batch reflection-identity oracle on bounded replay."""

    def track(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            cusum, n_alarms, max_cusum, version = state.get
        else:
            cusum, n_alarms, max_cusum, version = 0, 0, 0, 0

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values(["t", "pid"])
            cusum, n_alarms, max_cusum = fold_cusum(
                cusum, n_alarms, max_cusum, batch["cents"], k, h
            )
            version += 1
            state.update((cusum, n_alarms, max_cusum, version))
        elif version == 0:
            return
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "cusum": [cusum],
                "n_alarms": [n_alarms],
                "max_cusum": [max_cusum],
                "version": [version],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
