"""Custom stateful streaming operators (applyInPandasWithState,
transformWithStateInPandas) and stream-stream joins — the streaming surface
that has no SQL equivalent.  None is a registered query: the tests pin each
against its batch twin, and a constant shared with a twin is imported from it.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

USER_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total double"


def _update_user_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running per-user event count + value sum across micro-batches.

    State is one (n, total) pair per user — constant size, no watermark
    needed.  Emits the updated running totals once per user per batch.
    """
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful aggregation: exact running totals per user,
    emitted every micro-batch (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def purchases_after_signup(events: DataFrame, how: str = "inner") -> DataFrame:
    """Stream-stream interval join: purchases within 2 h after the same
    user's signup.  Both sides watermarked; the time-bound condition lets
    Spark expire join state instead of buffering streams forever.

    ``how="left_outer"`` emits signups that never matched a purchase with
    null purchase columns — but only once the watermark passes the signup's
    join horizon (Spark must prove no future purchase can match before it
    can emit the null row and drop the state)."""
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("signup_ts"),
            F.col("event_id").alias("signup_id"),
        )
        .withWatermark("signup_ts", "4 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "4 hours")
    )
    return signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 2 hours")),
        how,
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_id",
        "purchase_id",
        "signup_ts",
        "purchase_ts",
        "amount",
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4.x arbitrary-state API
# --------------------------------------------------------------------------

USER_PROFILE_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, n_types bigint"
)


from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class UserProfileProcessor(StatefulProcessor):
    """StatefulProcessor: per-user running profile built from TWO typed state
    variables — a ValueState (event count + value sum) and a MapState
    (per-event-type counts, whose size yields the distinct-type count).

    transformWithStateInPandas supersedes applyInPandasWithState in Spark
    4.x: state is declared as named, independently-evolvable variables
    (value/list/map, optional TTL) instead of one monolithic tuple, and the
    runtime can store each in its own RocksDB column family — the layout a
    100 TB streaming deployment needs for state that outgrows the heap.
    """

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._totals = handle.getValueState("totals", "n bigint, total double")
        self._type_counts = handle.getMapState(
            "type_counts", "event_type string", "cnt bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd  # executor-side import

        n, total = (0, 0.0)
        if self._totals.exists():
            n, total = self._totals.get()
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
            for etype, cnt in pdf.groupby("event_type").size().items():
                prev = (
                    self._type_counts.getValue((etype,))[0]
                    if self._type_counts.containsKey((etype,))
                    else 0
                )
                self._type_counts.updateValue((etype,), (prev + int(cnt),))
        self._totals.update((n, total))
        n_types = sum(1 for _ in self._type_counts.keys())
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "n_types": [n_types],
            }
        )

    def close(self) -> None:
        pass


def user_profiles(events: DataFrame) -> DataFrame:
    """Arbitrary-state streaming profile per user via the Spark 4
    transformWithStateInPandas API (update mode, no timers).

    Runtime dependencies beyond pyspark: the ``protobuf`` package (the
    transformWithState state-server wire protocol is protobuf-framed) and
    the RocksDB state store provider.  The pinning test skips itself where
    protobuf is absent; ``user_running_totals`` above is the
    applyInPandasWithState equivalent with no extra dependency."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=USER_PROFILE_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --------------------------------------------------------------------------
# Streaming burst detection (stateful twin of operators/events.py's
# q_event_burst_detection)
# --------------------------------------------------------------------------

BURST_SCHEMA = (
    "event_type string, hour_start timestamp, n_events bigint, "
    "trail_sum bigint, trail_n bigint, is_burst boolean"
)
# Parallel arrays: observed hour buckets (epoch micros) + their counts, plus
# the number of buckets ever pruned off the front (tells us whether the
# oldest retained buckets have complete trailing history).
_BURST_STATE_SCHEMA = "hours array<long>, counts array<long>, n_pruned bigint"
# Single source of truth for the predicate parameters: the batch twin.
from ..operators.events import _BURST_FACTOR, _BURST_TRAIL  # noqa: E402

_BURST_RETAIN = 24    # observed buckets kept for late-update handling


def _update_bursts(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type trailing-mean burst flags across micro-batches.

    State is the last ``_BURST_RETAIN`` observed (hour, count) buckets plus
    a pruned-bucket counter — constant-size.  Each batch merges its hourly
    counts into the state and recomputes the integer-exact burst predicate
    (count * trail_n > FACTOR * trail_sum over the trailing
    ``_BURST_TRAIL`` OBSERVED buckets — identical to the batch twin's ROWS
    frame) for the buckets the batch AFFECTED: the changed buckets and any
    bucket whose trailing window contains one.  Only those are emitted
    (update mode: latest emission per (type, hour) wins downstream);
    untouched buckets keep their previously-emitted, still-correct rows —
    re-emitting them after pruning would recompute their trails from
    truncated history and overwrite correct values with wrong ones.

    Late-data contract: once pruning has happened, events for buckets
    older than the ``_BURST_TRAIL``-th retained bucket are dropped (the
    explicit analog of a watermark).  The bound exists so every bucket we
    may still UPDATE has its full trailing window inside retained state;
    before any pruning, arbitrarily old/out-of-order buckets are accepted
    because complete history is present."""
    if state.exists:
        hours, counts, n_pruned = (
            list(state.get[0]), list(state.get[1]), int(state.get[2])
        )
        m = dict(zip(hours, counts))
    else:
        hours, m, n_pruned = [], {}, 0
    # Once pruned, only buckets whose full trail is retained stay updatable.
    update_horizon = (
        hours[_BURST_TRAIL] if n_pruned > 0 and len(hours) > _BURST_TRAIL
        else (hours[0] if n_pruned > 0 else None)
    )
    floor_hour = 3_600_000_000  # micros per hour
    changed: set[int] = set()
    for pdf in batches:
        if len(pdf) == 0:
            continue
        us = pdf["ts"].astype("int64") // 1_000  # ns -> us
        bucket = (us // floor_hour) * floor_hour
        for h, c in bucket.value_counts().items():
            h = int(h)
            if update_horizon is not None and h < update_horizon:
                continue  # behind the late-data horizon: dropped
            m[h] = m.get(h, 0) + int(c)
            changed.add(h)
    ordered = sorted(m)
    # Affected = changed buckets + every bucket whose trailing window
    # contains a changed bucket (the next _BURST_TRAIL observed positions).
    idx = {h: i for i, h in enumerate(ordered)}
    affected: set[int] = set()
    for h in changed:
        i = idx[h]
        affected.update(ordered[i : i + _BURST_TRAIL + 1])
    retained = ordered[-_BURST_RETAIN:]
    n_pruned += len(ordered) - len(retained)
    state.update((retained, [m[h] for h in retained], n_pruned))
    rows = []
    for h in sorted(affected):
        i = idx[h]
        trail = ordered[max(0, i - _BURST_TRAIL) : i]
        trail_sum = sum(m[t] for t in trail)
        trail_n = len(trail)
        rows.append(
            (
                key[0],
                pd.Timestamp(h, unit="us"),
                m[h],
                trail_sum,
                trail_n,
                trail_n > 0 and m[h] * trail_n > _BURST_FACTOR * trail_sum,
            )
        )
    yield pd.DataFrame(
        rows,
        columns=[
            "event_type", "hour_start", "n_events",
            "trail_sum", "trail_n", "is_burst",
        ],
    )


def event_bursts_stream(events: DataFrame) -> DataFrame:
    """Streaming burst detector: applyInPandasWithState keyed by event_type.
    tests/test_streaming_stateful.py pins its emissions against the batch
    q_event_burst_detection on the same events (prefix consistency), and
    separately exercises the multi-batch no-overwrite property via direct
    state-function calls."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_bursts,
        outputStructType=BURST_SCHEMA,
        stateStructType=_BURST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming gap-filled burst detection (stateful twin of
# operators/events.py's q_event_burst_gapfilled)
# --------------------------------------------------------------------------

GAPFILLED_BURST_SCHEMA = (
    "event_type string, hour_start timestamp, n_events bigint, is_gap boolean, "
    "trail_sum bigint, trail_n bigint, is_burst boolean"
)
# Dense spine state: the first retained hour (epoch micros) + a CONTIGUOUS
# per-hour count array (zeros are real buckets here), + pruned-bucket count.
_GF_STATE_SCHEMA = "first_hour bigint, counts array<long>, n_pruned bigint"

_HOUR_US = 3_600_000_000

# Upper bound on the dense spine ONE invocation will materialize (ADVICE r5):
# without it, a single event arriving after a months-long silent period would
# transiently densify and emit O(gap-hours) zero buckets in one micro-batch.
# When the merged span exceeds this many hours, the frontier JUMPS: hours
# below (hi - _GF_MAX_DENSE + 1) are never materialized and count into
# n_pruned exactly as if they had been synthesized and pruned.  The cap is
# far above any realistic watermark window (4096 h ≈ 5.7 months), so the
# batch-equivalence pinned by tests holds whenever per-key gaps stay under
# it — the documented precondition.
_GF_MAX_DENSE = 4096


def _update_bursts_gapfilled(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Gap-filled trailing-mean burst flags across micro-batches.

    Same contract as ``_update_bursts`` except the spine is DENSE: every
    hour between this key's first and latest observed bucket exists, empty
    hours count as zero-activity buckets that drag the trailing mean down,
    and advancing the frontier MATERIALIZES the intervening gap buckets
    (emitted with ``is_gap=true`` — the silence-alert rows).  Semantics
    delta vs the batch twin, documented: the batch spec's spine spans the
    GLOBAL min..max hour for every type, while a keyed stateful processor
    can only know its own key's span — per-type bounds (the tests pin
    per-type-bounds equivalence; keys whose span equals the global span
    match the batch spec row-for-row).

    State stays constant-size: the dense spine is pruned to the trailing
    ``_BURST_RETAIN`` buckets, and once pruning has happened, events older
    than the ``_BURST_TRAIL``-th retained bucket are dropped (the explicit
    watermark analog), so every updatable bucket always has its full
    trailing window in state.  Emission per invocation is bounded too:
    a span wider than ``_GF_MAX_DENSE`` hours jumps the frontier instead
    of densifying the whole gap (the skipped hours count into n_pruned),
    so one post-silence event can never trigger an O(gap-hours) batch."""
    if state.exists:
        first, counts, n_pruned = (
            int(state.get[0]), list(state.get[1]), int(state.get[2])
        )
        m = {first + i * _HOUR_US: int(c) for i, c in enumerate(counts)}
    else:
        m, n_pruned = {}, 0
    dense0 = sorted(m)
    update_horizon = (
        dense0[_BURST_TRAIL] if n_pruned > 0 and len(dense0) > _BURST_TRAIL
        else (dense0[0] if n_pruned > 0 else None)
    )
    changed: set[int] = set()
    for pdf in batches:
        if len(pdf) == 0:
            continue
        us = pdf["ts"].astype("int64") // 1_000  # ns -> us
        bucket = (us // _HOUR_US) * _HOUR_US
        for h, c in bucket.value_counts().items():
            h = int(h)
            if update_horizon is not None and h < update_horizon:
                continue  # behind the late-data horizon: dropped
            m[h] = m.get(h, 0) + int(c)
            changed.add(h)
    cols = [
        "event_type", "hour_start", "n_events", "is_gap",
        "trail_sum", "trail_n", "is_burst",
    ]
    if not m:
        yield pd.DataFrame([], columns=cols)
        return
    # Densify: every missing hour inside [lo, hi] becomes a NEW zero bucket
    # (changed -> emitted with its trail, exactly once).  If the merged span
    # exceeds _GF_MAX_DENSE hours, JUMP the frontier first: drop buckets
    # below the capped lo (counting dropped AND never-materialized hours
    # into n_pruned) so state update and emission stay bounded even when
    # one event arrives after a months-long silence.
    lo, hi = min(m), max(m)
    span_hours = (hi - lo) // _HOUR_US + 1
    if span_hours > _GF_MAX_DENSE:
        capped_lo = hi - (_GF_MAX_DENSE - 1) * _HOUR_US
        n_pruned += (capped_lo - lo) // _HOUR_US
        m = {h: c for h, c in m.items() if h >= capped_lo}
        changed = {h for h in changed if h >= capped_lo}
        lo = capped_lo
    dense, h = [], lo
    while h <= hi:
        if h not in m:
            m[h] = 0
            changed.add(h)
        dense.append(h)
        h += _HOUR_US
    idx = {h: i for i, h in enumerate(dense)}
    affected: set[int] = set()
    for h in changed:
        i = idx[h]
        affected.update(dense[i : i + _BURST_TRAIL + 1])
    retained = dense[-_BURST_RETAIN:]
    n_pruned += len(dense) - len(retained)
    state.update((retained[0], [m[x] for x in retained], n_pruned))
    rows = []
    for h in sorted(affected):
        i = idx[h]
        trail = dense[max(0, i - _BURST_TRAIL) : i]
        trail_sum = sum(m[t] for t in trail)
        trail_n = len(trail)
        rows.append(
            (
                key[0],
                pd.Timestamp(h, unit="us"),
                m[h],
                m[h] == 0,
                trail_sum,
                trail_n,
                trail_n > 0 and m[h] * trail_n > _BURST_FACTOR * trail_sum,
            )
        )
    yield pd.DataFrame(rows, columns=cols)


def event_bursts_gapfilled_stream(events: DataFrame) -> DataFrame:
    """Streaming gap-filled burst detector: applyInPandasWithState keyed by
    event_type over a dense per-key hour spine.  tests pin its emissions
    against a per-type-bounds batch reference (and against the registered
    q_event_burst_gapfilled rows for keys spanning the global range)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_bursts_gapfilled,
        outputStructType=GAPFILLED_BURST_SCHEMA,
        stateStructType=_GF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Running-moments value-anomaly detector (streaming twin of
# operators/events.py's q_value_outliers)
# --------------------------------------------------------------------------

VALUE_OUTLIER_SCHEMA = (
    "event_type string, n_events bigint, mean_value double, std_value double, "
    "n_outliers bigint, outlier_share double"
)
# Exact integer moments on the shared 1e-2 grid: n, sum(vq), sum(vq^2),
# plus the running outlier count.
_VO_STATE_SCHEMA = "n bigint, s bigint, ss bigint, n_out bigint"
from ..operators.events import _VO_Q2  # noqa: E402
_VO_FACTOR_SQ = 9.0  # 3-sigma, squared


def _update_value_outliers(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running z-score anomaly flags per event type.

    State is the exact integer moment triple (n, Σvq, Σvq²) plus the
    outliers-so-far count — constant size at any stream length, and
    because the moments are associative BIGINT sums on the 1e-2 grid,
    the state after ANY micro-batch split equals the batch twin's
    moments over the same prefix exactly (no float drift).

    Documented semantics delta vs the batch spec: each arriving value is
    tested against the moments INCLUDING its own batch (the batch is
    merged into state first, then flagged) — so a single-batch run
    reproduces q_value_outliers row-for-row, while a split stream flags
    early events against prefix moments, the honest behavior of an
    online detector that cannot see the future.  Tests pin both: exact
    single-batch equality and exact state-moment equality under splits."""
    n, s, ss, n_out = state.get if state.exists else (0, 0, 0, 0)
    vqs = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        v = pdf["value"].to_numpy(dtype="float64")
        vq = np.floor(v * _VO_Q2 + 0.5).astype("int64")
        vqs.append(vq)
        n += len(vq)
        s += int(vq.sum())
        ss += int((vq * vq).sum())
    if n == 0:
        yield pd.DataFrame(
            [],
            columns=[
                "event_type", "n_events", "mean_value", "std_value",
                "n_outliers", "outlier_share",
            ],
        )
        return
    mean_q = s / n
    var_q = max(ss / n - mean_q * mean_q, 0.0)
    for vq in vqs:
        d = vq - mean_q
        n_out += int(((d * d) > _VO_FACTOR_SQ * var_q).sum())
    state.update((n, s, ss, n_out))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "mean_value": [mean_q / _VO_Q2],
            "std_value": [var_q ** 0.5 / _VO_Q2],
            "n_outliers": [n_out],
            "outlier_share": [n_out / n],
        }
    )


def value_outliers_stream(events: DataFrame) -> DataFrame:
    """Streaming running-moments anomaly detector keyed by event_type:
    one updated (moments, outlier-count) row per type per micro-batch."""
    return (
        events.filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_value_outliers,
            outputStructType=VALUE_OUTLIER_SCHEMA,
            stateStructType=_VO_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming EWMA rate smoother (stateful twin of
# operators/events.py's q_ewma_hourly)
# --------------------------------------------------------------------------

EWMA_SCHEMA = (
    "event_type string, hour_start timestamp, x bigint, n_window bigint, "
    "ewma double"
)
# Observed (hour, count) buckets + pruned count — same constant-size shape
# as the burst detector's state.
_EWMA_STATE_SCHEMA = "hours array<long>, counts array<long>, n_pruned bigint"
# Single source of truth for window length and weights: the batch twin.
from ..operators.events import _EWMA_WEIGHTS, _EWMA_WINDOW  # noqa: E402

_EWMA_RETAIN = 2 * _EWMA_WINDOW  # late-update headroom beyond one window
_EWMA_WT = dict(_EWMA_WEIGHTS)   # lag (hours) -> integer weight 2^(15-lag)


def _update_ewma(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type EWMA of the hourly rate across micro-batches.

    State is the last ``_EWMA_RETAIN`` observed (hour, count) buckets plus
    a pruned-bucket counter — constant-size.  Each batch merges its hourly
    counts into the state and recomputes the smoothed value for the
    buckets the batch AFFECTED: the changed buckets and every observed
    bucket whose trailing 16-hour TIME window (lag 0..15 hours — the
    batch twin's weight fan-out, NOT the burst detector's observed-
    position trail) contains a changed bucket.  The smoothed value is the
    batch twin's expression exactly — integer contributions x * 2^(15-lag)
    over OBSERVED contributors, one IEEE division of two exact BIGINT
    sums — so a single availableNow batch reproduces q_ewma_hourly
    row-for-row, and split streams re-emit corrected rows as late buckets
    land (update mode: latest emission wins downstream).

    Late-data contract (the burst detector's, adapted to time windows):
    once pruning has happened, events for buckets earlier than
    first_retained + 15 hours are dropped (the explicit analog of a
    watermark) — so every ACCEPTED change, and therefore every affected
    bucket, has its full 15-hour lookback present in the merged map, and
    previously-emitted rows for older hours remain the correct prefix
    values."""
    if state.exists:
        hours, counts, n_pruned = (
            list(state.get[0]), list(state.get[1]), int(state.get[2])
        )
        m = dict(zip(hours, counts))
    else:
        hours, m, n_pruned = [], {}, 0
    horizon = (
        hours[0] + (_EWMA_WINDOW - 1) * _HOUR_US
        if n_pruned > 0 and hours
        else None
    )
    changed: set[int] = set()
    for pdf in batches:
        if len(pdf) == 0:
            continue
        us = pdf["ts"].astype("int64") // 1_000  # ns -> us
        bucket = (us // _HOUR_US) * _HOUR_US
        for h, c in bucket.value_counts().items():
            h = int(h)
            if horizon is not None and h < horizon:
                continue  # behind the late-data horizon: dropped
            m[h] = m.get(h, 0) + int(c)
            changed.add(h)
    ordered = sorted(m)
    affected = {
        h
        for h in ordered
        for c in changed
        if 0 <= h - c <= (_EWMA_WINDOW - 1) * _HOUR_US
    }
    retained = ordered[-_EWMA_RETAIN:]
    n_pruned += len(ordered) - len(retained)
    state.update((retained, [m[h] for h in retained], n_pruned))
    # Emission reads the PRE-PRUNE map: the horizon drop above guarantees
    # every affected bucket's full lookback is present in it (changes are
    # only accepted at >= prior_first + 15h), so no affected row is ever
    # computed from truncated history — the burst twin's discipline.
    rows = []
    for h in sorted(affected):
        num = den = n_win = 0
        for lag in range(_EWMA_WINDOW):
            src = h - lag * _HOUR_US
            if src in m:
                wt = _EWMA_WT[lag]
                num += m[src] * wt
                den += wt
                n_win += 1
        rows.append(
            (key[0], pd.Timestamp(h, unit="us"), m[h], n_win, num / den)
        )
    yield pd.DataFrame(
        rows,
        columns=["event_type", "hour_start", "x", "n_window", "ewma"],
    )


def ewma_hourly_stream(events: DataFrame) -> DataFrame:
    """Streaming EWMA rate smoother: applyInPandasWithState keyed by
    event_type.  tests/test_streaming_stateful.py pins a single
    availableNow batch row-for-row against the batch q_ewma_hourly."""
    return (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_ewma,
            outputStructType=EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming seasonal (hour-of-day) rate-anomaly detector (stateful twin of
# operators/events.py's q_seasonal_hourly_anomaly)
# --------------------------------------------------------------------------

SEASONAL_SCHEMA = (
    "event_type string, hod bigint, n_cells bigint, mean_cnt double, "
    "std_cnt double, n_anomalies bigint, anomaly_share double"
)
# Open (day, hod) cell counts (packed key day_us + hod, always distinct
# because hod < 24 and day_us is hour-0-aligned) + per-hod CLOSED moments
# (n, s, ss) and closed anomaly counts folded in when cells are pruned.
_SEAS_STATE_SCHEMA = (
    "cell_keys array<long>, cell_counts array<long>, "
    "closed_n array<long>, closed_s array<long>, closed_ss array<long>, "
    "closed_anom array<long>, n_pruned bigint, max_pruned_key bigint"
)
_SEAS_RETAIN = 768  # open day-cells kept per type (~32 days x 24 slots)
_DAY_US = 86_400_000_000


def _update_seasonal(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type hour-of-day rate baseline across micro-batches.

    State is the last ``_SEAS_RETAIN`` OPEN (day, hod) cell counts — still
    updatable by late events — plus per-hod CLOSED moment triples
    (n, Σx, Σx²) and closed anomaly counts, folded in when cells age out:
    constant-size at any stream length.  Each batch merges its (day, hod)
    counts, then re-emits the (type, hod) summary rows the batch touched,
    with moments = closed + open (associative BIGINT sums, so a single
    availableNow batch reproduces q_seasonal_hourly_anomaly row-for-row).

    Documented semantics delta vs the batch spec (the value-outliers
    twin's contract): a CLOSED cell's anomaly verdict is frozen with the
    moments known at prune time — an online detector cannot re-judge
    history as the baseline drifts — while OPEN cells are re-judged
    against the full current moments on every touched emission.  Late
    events for already-pruned cells are dropped (the explicit analog of a
    watermark): the horizon is the persisted MAX PRUNED packed key, so a
    pruned cell can never be recreated and double-counted — pruning walks
    packed keys in sorted order, so every pruned key is <= that frontier
    and every retained key is above it (the day-truncated horizon this
    replaces let a late event resurrect a mid-day-pruned cell of the
    oldest retained day; ADVICE r6)."""
    if state.exists:
        (keys, counts, c_n, c_s, c_ss, c_an, n_pruned, max_pruned) = (
            list(state.get[0]), list(state.get[1]), list(state.get[2]),
            list(state.get[3]), list(state.get[4]), list(state.get[5]),
            int(state.get[6]), int(state.get[7]),
        )
        cells = dict(zip(keys, counts))
    else:
        cells, n_pruned, max_pruned = {}, 0, -1
        c_n, c_s, c_ss, c_an = [0] * 24, [0] * 24, [0] * 24, [0] * 24
    touched_hods: set[int] = set()
    for pdf in batches:
        if len(pdf) == 0:
            continue
        us = pdf["ts"].astype("int64") // 1_000  # ns -> us
        day = (us // _DAY_US) * _DAY_US
        hod = (us // _HOUR_US) % 24
        packed = day + hod
        for k, c in packed.value_counts().items():
            k = int(k)
            if k <= max_pruned:
                continue  # at/behind the pruned frontier: dropped
            cells[k] = cells.get(k, 0) + int(c)
            touched_hods.add(int(k % _DAY_US))  # k = day_us + hod, hod < 24
    ordered = sorted(cells)
    for k in ordered[:-_SEAS_RETAIN] if len(ordered) > _SEAS_RETAIN else []:
        hod = int(k % _DAY_US)
        x = cells.pop(k)
        max_pruned = k  # ascending walk: the frontier ends at the max
        # freeze the verdict with the full moments known NOW (closed+open)
        n_all = c_n[hod] + sum(1 for kk in cells if kk % _DAY_US == hod) + 1
        s_all = c_s[hod] + sum(
            cells[kk] for kk in cells if kk % _DAY_US == hod
        ) + x
        ss_all = c_ss[hod] + sum(
            cells[kk] * cells[kk] for kk in cells if kk % _DAY_US == hod
        ) + x * x
        mean_q = s_all / n_all
        var_q = max(ss_all / n_all - mean_q * mean_q, 0.0)
        d = float(x) - mean_q
        c_an[hod] += int(d * d > 9.0 * var_q)
        c_n[hod] += 1
        c_s[hod] += x
        c_ss[hod] += x * x
        n_pruned += 1
    state.update((
        sorted(cells), [cells[k] for k in sorted(cells)],
        c_n, c_s, c_ss, c_an, n_pruned, max_pruned,
    ))
    rows = []
    for hod in sorted(touched_hods):
        open_x = [cells[k] for k in cells if k % _DAY_US == hod]
        n_all = c_n[hod] + len(open_x)
        if n_all == 0:
            continue
        s_all = c_s[hod] + sum(open_x)
        ss_all = c_ss[hod] + sum(x * x for x in open_x)
        mean_q = s_all / n_all
        var_q = max(ss_all / n_all - mean_q * mean_q, 0.0)
        n_anom = c_an[hod] + sum(
            1 for x in open_x if (float(x) - mean_q) ** 2 > 9.0 * var_q
        )
        rows.append(
            (key[0], hod, n_all, mean_q, var_q ** 0.5, n_anom, n_anom / n_all)
        )
    yield pd.DataFrame(
        rows,
        columns=[
            "event_type", "hod", "n_cells", "mean_cnt", "std_cnt",
            "n_anomalies", "anomaly_share",
        ],
    )


def seasonal_anomaly_stream(events: DataFrame) -> DataFrame:
    """Streaming hour-of-day rate-anomaly detector keyed by event_type:
    one updated (type, hod) summary row per touched slot per micro-batch.
    tests/test_streaming_stateful.py pins a single availableNow batch
    row-for-row against the batch q_seasonal_hourly_anomaly."""
    return (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_seasonal,
            outputStructType=SEASONAL_SCHEMA,
            stateStructType=_SEAS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming SCD2 builder (stateful twin of operators/events.py's
# q_scd2_history)
# --------------------------------------------------------------------------

SCD2_SCHEMA = (
    "user_id long, state string, valid_from timestamp, valid_to timestamp, "
    "version long, is_current long"
)
# Constant-size per-user state: the open interval (current state, its start,
# its ordinal version) — SCD2 maintenance never needs more than the open row.
_SCD2_STATE_SCHEMA = "cur_state string, since_us bigint, version bigint"


def _update_scd2(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user incremental SCD2 maintenance across micro-batches.

    State is ONLY the open interval (current state, start, version) —
    constant-size at any stream length, the defining property of online
    SCD2: closed intervals are immutable once emitted, so they live in the
    sink, not in state.  Each batch sorts its events by (ts, event_id),
    folds them through the change detector, emits every interval CLOSED in
    this batch plus the (possibly updated) open row.  Update-mode
    reconstruction contract: the latest emission per (user_id, version)
    key is the authoritative row — a closed interval re-emits under the
    same version that its earlier open form used, superseding it — so a
    single availableNow batch reproduces q_scd2_history row-for-row and a
    split stream's latest-per-version view equals the batch build (pinned
    in tests/test_streaming_stateful.py).

    Late-data contract (the family's watermark analog): events at or
    before the open interval's start AS OF BATCH START are DROPPED — an
    out-of-order event from a later batch cannot reopen or reorder closed
    history (an offline backfill rebuilds via the batch spec instead).
    The frontier is snapshotted at batch start so same-timestamp ties
    WITHIN a batch still fold in (ts, event_id) order exactly as the
    batch spec's window ordering does."""
    if state.exists:
        cur_state, since_us, version = (
            state.get[0], int(state.get[1]), int(state.get[2])
        )
    else:
        cur_state, since_us, version = None, None, 0
    since0 = since_us  # the cross-batch late-data frontier
    merged = [p for p in batches if len(p)]
    if not merged:
        return
    pdf = pd.concat(merged).sort_values(["ts", "event_id"])
    rows = []
    user = key[0]
    changed = False  # open row re-emits ONLY when this batch moved it
    for ts_ns, etype in zip(
        pdf["ts"].astype("int64"), pdf["event_type"]
    ):
        us = int(ts_ns) // 1_000
        if etype is None:
            continue
        if since0 is not None and us <= since0:
            continue  # at/behind the batch-start frontier: dropped
        if cur_state is None:
            cur_state, since_us, version = etype, us, 1
            changed = True
        elif etype != cur_state:
            rows.append(
                (user, cur_state, pd.Timestamp(since_us, unit="us"),
                 pd.Timestamp(us, unit="us"), version, 0)
            )
            cur_state, since_us = etype, us
            version += 1
            changed = True
    state.update((cur_state, since_us, version))
    if changed:
        rows.append(
            (user, cur_state, pd.Timestamp(since_us, unit="us"),
             None, version, 1)
        )
    yield pd.DataFrame(
        rows,
        columns=[
            "user_id", "state", "valid_from", "valid_to", "version",
            "is_current",
        ],
    )


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming SCD2 builder keyed by user_id: emits intervals closed in
    each micro-batch plus the updated open row.  tests pin a single
    availableNow batch row-for-row against the batch q_scd2_history and
    the split-stream latest-per-version reconstruction."""
    return (
        events.filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_scd2,
            outputStructType=SCD2_SCHEMA,
            stateStructType=_SCD2_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming robust (median/MAD) outlier monitor (stateful twin of
# operators/events.py's q_robust_outliers)
# --------------------------------------------------------------------------

ROBUST_SCHEMA = (
    "event_type string, n_events bigint, median_value double, "
    "mad_value double, n_outliers bigint, outlier_share double"
)
# The per-type VALUE HISTOGRAM {vq: count} — the sufficient statistic for
# median/MAD/outlier counts, so merging batch histograms is EXACTLY
# associative: the split-batch contract below is equality, not just
# row-for-row on a single batch.
_ROBUST_STATE_SCHEMA = "vqs array<long>, counts array<long>"
_RO_MAX_BINS = 100_000  # state bound: distinct 1e-2 grid values per type.
# Beyond it the monitor fails fast with an explicit error instead of
# growing state silently — production widens the grid (or clamps the value
# domain) BEFORE deployment; an implicit rebin here would silently change
# the reported order statistics vs the batch twin.


def _hist_order_stat(pairs: list[tuple[int, int]]) -> tuple[int, int]:
    """(value at the lower-median rank, total count) from (value, count)
    pairs — the batch twin's rank (n-1)//2 + 1 selected by walking the
    sorted histogram, never materializing rows."""
    n = sum(c for _, c in pairs)
    target = (n - 1) // 2 + 1
    cum = 0
    for v, c in sorted(pairs):
        cum += c
        if cum >= target:
            return v, n
    raise AssertionError("unreachable: histogram empty")


def _update_robust(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type median/MAD outlier monitor across micro-batches.

    State is the quantized VALUE HISTOGRAM — constant-size in stream
    LENGTH (bounded by the 1e-2 grid's distinct values, guarded by
    _RO_MAX_BINS), and an associative merge: histogram(batch A union
    batch B) == histogram(A) merged with histogram(B), so the final
    emission after any batch split equals the single-batch emission
    EXACTLY, and a single availableNow batch reproduces q_robust_outliers
    row-for-row.  Each touched type re-emits its full summary (update
    mode: latest emission wins downstream).

    Unlike the moment-based detectors (EWMA/seasonal), nothing here is
    frozen at prune time because nothing is pruned: robust statistics
    need the full histogram, which is value-cardinality-bounded — the
    monitor's memory follows the DATA DOMAIN, not the stream length, the
    same reason the batch twin's scale story holds at 100 TB."""
    if state.exists:
        hist = dict(zip(list(state.get[0]), list(state.get[1])))
    else:
        hist = {}
    touched = False
    for pdf in batches:
        if len(pdf) == 0:
            continue
        vq = (pdf["value"].astype("float64") * _VO_Q2).round().astype("int64")
        for v, c in vq.value_counts().items():
            hist[int(v)] = hist.get(int(v), 0) + int(c)
        touched = True
    if len(hist) > _RO_MAX_BINS:
        raise ValueError(
            f"robust monitor for {key[0]!r} exceeds {_RO_MAX_BINS} value "
            "bins; widen the quantization grid or clamp the value domain"
        )
    state.update((sorted(hist), [hist[v] for v in sorted(hist)]))
    if not touched or not hist:
        yield pd.DataFrame(columns=[c.split()[0] for c in ROBUST_SCHEMA.split(", ")])
        return
    pairs = list(hist.items())
    med, n = _hist_order_stat(pairs)
    dev: dict[int, int] = {}
    for v, c in pairs:
        d = abs(v - med)
        dev[d] = dev.get(d, 0) + c
    mad, _ = _hist_order_stat(list(dev.items()))
    n_out = sum(c for d, c in dev.items() if d > 3 * mad)
    yield pd.DataFrame(
        [
            (
                key[0],
                n,
                med / _VO_Q2,
                mad / _VO_Q2,
                n_out,
                n_out / n,
            )
        ],
        columns=[
            "event_type", "n_events", "median_value",
            "mad_value", "n_outliers", "outlier_share",
        ],
    )


def robust_outliers_stream(events: DataFrame) -> DataFrame:
    """Streaming robust-outlier monitor: applyInPandasWithState keyed by
    event_type.  tests/test_streaming_stateful.py pins a single
    availableNow batch row-for-row against the batch q_robust_outliers and
    the EXACT split-batch associativity of the histogram state."""
    return (
        events.filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_robust,
            outputStructType=ROBUST_SCHEMA,
            stateStructType=_ROBUST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming token-budget gate (the q_token_budget_sample twin)
# --------------------------------------------------------------------------

TOKEN_BUDGET_SCHEMA = (
    "doc_id bigint, source string, n_tokens bigint, cum_tokens bigint,"
    " kept bigint"
)
_TBG_STATE_SCHEMA = "cum bigint"


def _make_update_token_budget(budget: int):
    """Closure factory: the budget is a per-deployment constant (the batch
    spec derives it from corpus totals; a stream cannot know them upfront,
    so the gate takes it as a parameter — the operational shape anyway:
    'cap this source at N tokens')."""

    def _update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Per-source running token mass; a document is admitted iff the
        cumulative mass INCLUDING it is within budget (the batch spec's
        positional-cut semantics: rejected docs still advance the
        cursor).  Within one micro-batch rows are ordered by (hash48,
        doc_id) — so a single availableNow batch reproduces the batch
        q_token_budget_sample row-for-row; across batches the order is
        arrival order, the documented online contract.  State is one
        BIGINT per source — constant size forever."""
        (cum,) = state.get if state.exists else (0,)
        pdf = pd.concat(list(batches), ignore_index=True)
        if len(pdf) == 0:
            state.update((cum,))
            return
        pdf = pdf.sort_values(
            ["hkey", "doc_id"], kind="mergesort"
        ).reset_index(drop=True)
        cums = pdf["n_tokens"].astype("int64").cumsum() + cum
        cum = int(cums.iloc[-1])
        state.update((cum,))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "source": key[0],
                "n_tokens": pdf["n_tokens"].astype("int64"),
                "cum_tokens": cums.astype("int64"),
                "kept": (cums <= budget).astype("int64"),
            }
        )

    return _update


def token_budget_gate_stream(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Streaming per-source token-budget gate: admit arriving documents
    until each source's cumulative token mass exhausts ``budget_tokens``
    — quota enforcement at ingest time, the online twin of the batch
    q_token_budget_sample (operators/pipeline.py).  tests/
    test_streaming_stateful.py pins a single availableNow batch
    row-for-row against the batch spec and the exact split-batch
    associativity of the cumulative state."""
    from ..functions.text import hash48, tokens

    toks = docs.filter(
        F.col("doc_id").isNotNull()
        & F.col("source").isNotNull()
        & F.col("text").isNotNull()
    ).select(
        "doc_id",
        "source",
        F.size(tokens()).cast("long").alias("n_tokens"),
        hash48(F.col("doc_id").cast("string")).alias("hkey"),
    )
    return toks.groupBy("source").applyInPandasWithState(
        _make_update_token_budget(int(budget_tokens)),
        outputStructType=TOKEN_BUDGET_SCHEMA,
        stateStructType=_TBG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming CUSUM regime monitor (the q_cusum_changepoint twin, per type)
# --------------------------------------------------------------------------

CUSUM_SCHEMA = (
    "event_type string, n_days bigint, n_events bigint, peak_day date,"
    " peak_abs_cusum bigint, n_peak_days bigint"
)
_CU_STATE_SCHEMA = "days array<long>, counts array<long>"
_CU_MAX_DAYS = 100_000  # ~270 years of daily cells per type — a config
# error, not data, if exceeded; fail fast rather than grow state silently
# (the _RO_MAX_BINS doctrine).


def _cusum_trace(pairs: list[tuple[int, int]]) -> tuple[int, int, int]:
    """(peak day, peak |cusum|, n peak days) of the exact-integer CUSUM
    over (epoch-day, count) pairs — residual n_d*D - N cleared of the
    mean division, the batch twin's arithmetic verbatim.  Only OBSERVED
    days enter the trace (the batch twin's daily relation has no
    zero-count spine), so the statistic is over the observed series."""
    pairs = sorted(pairs)
    n_days = len(pairs)
    total = sum(c for _, c in pairs)
    cum = 0
    best = (-1, -1)  # (abs cusum, ) with first-day tiebreak via scan order
    n_best = 0
    for d, c in pairs:
        cum += c * n_days - total
        a = abs(cum)
        if a > best[0]:
            best = (a, d)
            n_best = 1
        elif a == best[0]:
            n_best += 1
    return best[1], best[0], n_best


def _update_cusum(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type volume-regime monitor across micro-batches: state is
    the DAY-COUNT histogram — calendar-bounded (not stream-length-
    bounded) and exactly associative, so the final emission after any
    batch split equals the single-batch emission, the robust-monitor
    doctrine applied to the time axis.  Each touched type re-emits its
    current CUSUM summary (update mode): the day where the cumulative
    residual peaks is the most likely mean-shift point of that type's
    daily volume series so far."""
    if state.exists:
        hist = dict(zip(list(state.get[0]), list(state.get[1])))
    else:
        hist = {}
    touched = False
    for pdf in batches:
        if len(pdf) == 0:
            continue
        days = (pdf["ts_us"].astype("int64") // _DAY_US).astype("int64")
        for d, c in days.value_counts().items():
            hist[int(d)] = hist.get(int(d), 0) + int(c)
        touched = True
    if len(hist) > _CU_MAX_DAYS:
        raise ValueError(
            f"cusum monitor for {key[0]!r} exceeds {_CU_MAX_DAYS} day "
            "cells; the stream is feeding implausible timestamps"
        )
    state.update((sorted(hist), [hist[d] for d in sorted(hist)]))
    if not touched or not hist:
        yield pd.DataFrame(columns=[c.split()[0] for c in CUSUM_SCHEMA.split(", ")])
        return
    peak_day, peak_abs, n_peak = _cusum_trace(list(hist.items()))
    yield pd.DataFrame(
        [
            (
                key[0],
                len(hist),
                int(sum(hist.values())),
                pd.Timestamp(peak_day * 86_400, unit="s").date(),
                peak_abs,
                n_peak,
            )
        ],
        columns=[
            "event_type", "n_days", "n_events", "peak_day",
            "peak_abs_cusum", "n_peak_days",
        ],
    )


def cusum_regime_stream(events: DataFrame) -> DataFrame:
    """Streaming CUSUM change-point monitor keyed by event_type — the
    online deployment shape of the batch q_cusum_changepoint
    (operators/events.py): state per type is the associative day-count
    histogram, the emission is the current most-likely mean-shift day
    with its exact-integer peak statistic.  tests/
    test_streaming_stateful.py pins a single availableNow batch against
    an independent SQL recomputation, the exact split-batch
    associativity of the day histogram, and the fail-fast state bound."""
    return (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_cusum,
            outputStructType=CUSUM_SCHEMA,
            stateStructType=_CU_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming KMV distinct-count sketch (the q_kmv_sketch_setops twin)
# --------------------------------------------------------------------------

KMV_SCHEMA = "source string, n_sketch bigint, h_k bigint, d_hat bigint"
_KMV_STATE_SCHEMA = "sk array<long>"
from ..operators.dedup import _KMV_K, _KMV_SCALE, _SHINGLE_K  # noqa: E402


def _update_kmv(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-source bottom-K shingle-hash sketch across micro-batches.

    State is the K smallest distinct hash48 values seen — bottom-k is
    closed under union (bottomK(A ∪ B) == bottomK(bottomK(A) ∪ B)), so the
    merge is exactly associative, the state is <= K BIGINTs per source BY
    CONSTRUCTION (the hardest-bounded state of all the twins: no grid, no
    retention window, no prune counter), and the final emission after any
    batch split equals the single-batch emission.  A single availableNow
    batch therefore reproduces the batch spec's per-source d_hat exactly
    (pinned in tests/test_streaming_stateful.py).

    This is the online face of the KMV set algebra: each source's live
    sketch supports the same distinct estimate emitted here, and any two
    sources' sketches merge downstream for union/jaccard — yesterday's
    corpus never gets re-read."""
    sk = set(state.get[0]) if state.exists else set()
    touched = False
    for pdf in batches:
        if len(pdf) == 0:
            continue
        sk.update(int(h) for h in pdf["h"])
        touched = True
    sk_sorted = sorted(sk)[:_KMV_K]
    state.update((sk_sorted,))
    if not touched or not sk_sorted:
        yield pd.DataFrame(
            columns=[c.split()[0] for c in KMV_SCHEMA.split(", ")]
        )
        return
    n = len(sk_sorted)
    hk = sk_sorted[-1]
    d_hat = n if n < _KMV_K else _KMV_SCALE // hk
    yield pd.DataFrame(
        [(key[0], n, hk, d_hat)],
        columns=["source", "n_sketch", "h_k", "d_hat"],
    )


def kmv_sketch_stream(docs: DataFrame) -> DataFrame:
    """Streaming per-source KMV distinct-shingle estimator: the shingle +
    hash48 projection runs as the SAME Catalyst expressions the batch spec
    uses (tokenization fidelity by construction, not by reimplementation),
    then applyInPandasWithState merges bottom-K per source."""
    from ..functions.text import hash48, with_shingles

    sh = (
        with_shingles(
            docs.filter(
                F.col("source").isNotNull() & F.col("text").isNotNull()
            ),
            _SHINGLE_K,
        )
        .select("source", F.explode("shingle_set").alias("shingle"))
        .select("source", hash48(F.col("shingle")).alias("h"))
    )
    return sh.groupBy("source").applyInPandasWithState(
        _update_kmv,
        outputStructType=KMV_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming distribution-drift monitor (the q_distribution_drift twin)
# --------------------------------------------------------------------------

DRIFT_SCHEMA = (
    "feature string, n_buckets bigint, n_ref bigint, n_cur bigint,"
    " tvd_num bigint, tvd_ppm bigint, drift_flag int, tvd double"
)
_DRIFT_STATE_SCHEMA = "buckets array<string>, nr array<long>, nc array<long>"
_DRIFT_MAX_BUCKETS = 100_000  # fail-fast bound (the _RO_MAX_BINS doctrine):
# feature bucket domains are bounded (catalog / 24 hours / log2 decades);
# exceeding this means a mis-bucketed feature, not data.
from ..operators.events import _DRIFT_FLAG_X10  # noqa: E402


def _update_drift(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-feature reference/current bucket histograms across micro-batches.

    State is the pair of count histograms over the feature's bounded
    bucket domain — the sufficient statistic of the TVD, exactly
    associative under batch splits, so the final emission after any split
    equals the single-batch emission and a single availableNow batch
    reproduces q_distribution_drift row-for-row (pinned in
    tests/test_streaming_stateful.py).  Each touched feature re-emits its
    full drift verdict (update mode: latest wins downstream) — the live
    dashboard row a data-quality monitor tails."""
    if state.exists:
        b, nr, nc = state.get
        hist = {k: [r, c] for k, r, c in zip(list(b), list(nr), list(nc))}
    else:
        hist = {}
    touched = False
    for pdf in batches:
        if len(pdf) == 0:
            continue
        # dropna=False: a NULL bucket is a bucket (the batch
        # q_distribution_drift and its DuckDB oracle both keep the NULL
        # group), mapped to a sentinel no real bucket label can collide
        # with so the histograms stay aligned row-for-row.
        grp = pdf.groupby("bucket", dropna=False)["is_cur"].agg(["count", "sum"])
        for bucket, row in grp.iterrows():
            cur = int(row["sum"])
            ref = int(row["count"]) - cur
            b_key = "\x00null" if pd.isna(bucket) else str(bucket)
            cell = hist.setdefault(b_key, [0, 0])
            cell[0] += ref
            cell[1] += cur
        touched = True
    if len(hist) > _DRIFT_MAX_BUCKETS:
        raise ValueError(
            f"drift monitor for {key[0]!r} exceeds {_DRIFT_MAX_BUCKETS} "
            "buckets; the feature is mis-bucketed (unbounded domain)"
        )
    ks = sorted(hist)
    state.update((ks, [hist[k][0] for k in ks], [hist[k][1] for k in ks]))
    if not touched or not hist:
        yield pd.DataFrame(columns=[c.split()[0] for c in DRIFT_SCHEMA.split(", ")])
        return
    n_ref = sum(v[0] for v in hist.values())
    n_cur = sum(v[1] for v in hist.values())
    if n_ref == 0 or n_cur == 0:
        # One side empty: TVD is undefined (division by zero) — emit the
        # counts with a NULL verdict so the dashboard shows the monitor is
        # alive but not yet comparable.
        yield pd.DataFrame(
            [(key[0], len(hist), n_ref, n_cur, None, None, None, None)],
            columns=[c.split()[0] for c in DRIFT_SCHEMA.split(", ")],
        )
        return
    tvd_num = sum(abs(r * n_cur - c * n_ref) for r, c in hist.values())
    yield pd.DataFrame(
        [
            (
                key[0],
                len(hist),
                n_ref,
                n_cur,
                tvd_num,
                (1_000_000 * tvd_num) // (2 * n_ref * n_cur),
                1 if _DRIFT_FLAG_X10 * tvd_num >= n_ref * n_cur else 0,
                tvd_num / (2 * n_ref * n_cur),
            )
        ],
        columns=[c.split()[0] for c in DRIFT_SCHEMA.split(", ")],
    )


def drift_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming feature-distribution drift monitor: the same 3-arm
    (feature, bucket, is_cur) projection as the batch q_distribution_drift
    (built from the registered builder's expressions so bucketing fidelity
    holds by construction), then applyInPandasWithState per feature."""
    from ..operators.events import _DRIFT_SPLIT

    is_cur = F.when(
        F.col("ts") >= F.lit(_DRIFT_SPLIT).cast("timestamp"), 1
    ).otherwise(0)
    arms = [
        events.select(
            F.lit("event_type").alias("feature"),
            F.col("event_type").alias("bucket"),
            is_cur.alias("is_cur"),
        ),
        events.select(
            F.lit("hour_of_day").alias("feature"),
            F.hour("ts").cast("string").alias("bucket"),
            is_cur.alias("is_cur"),
        ),
        events.select(
            F.lit("value_log2_centi").alias("feature"),
            (
                F.length(F.bin(F.floor(F.col("value") * 100).cast("long"))) - 1
            )
            .cast("string")
            .alias("bucket"),
            is_cur.alias("is_cur"),
        ),
    ]
    b = arms[0].unionByName(arms[1]).unionByName(arms[2])
    return b.groupBy("feature").applyInPandasWithState(
        _update_drift,
        outputStructType=DRIFT_SCHEMA,
        stateStructType=_DRIFT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming quality-classifier gate (the q_quality_classifier twin)
# --------------------------------------------------------------------------

QC_SCHEMA = (
    "source string, n_docs bigint, n_keep bigint, keep_ppm bigint,"
    " avg_score bigint, min_score bigint, max_score bigint"
)
_QC_STATE_SCHEMA = (
    "n_docs long, n_keep long, sum_score long, min_score long, max_score long"
)


def _update_qc(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-source classifier-verdict census across micro-batches.

    Input rows are the PER-TOKEN weight relation (doc_id, w) — a streaming
    groupBy ahead of arbitrary state is unsupported, so the per-doc fold
    (count, sum, then the shift-to-nonnegative integer normalization,
    bit-identical to the batch qc_scored expression) runs HERE in pandas.
    An exploded doc's tokens land wholly inside its input row's
    micro-batch, but within one invocation the group's rows arrive as
    MULTIPLE Arrow chunks (``spark.sql.execution.arrow.maxRecordsPerBatch``,
    default 10k) whose boundaries are NOT doc-aligned — so per-doc
    (count, sum) partials are accumulated across ALL chunks first and the
    normalization runs exactly once per doc at the end; normalizing per
    chunk would double-count straddling docs with partial scores
    (pinned by ``test_qc_twin_chunk_straddling`` with
    maxRecordsPerBatch=7).

    State is FIVE BIGINTs — doc count, keep count, score sum, min, max —
    the sufficient statistic of the batch census, exactly associative
    under any doc-boundary batch split (sums/mins/maxes of integers), so
    a single availableNow pass reproduces q_quality_classifier
    row-for-row and the state size is constant per source at ANY stream
    length: the hardest possible checkpoint bound alongside the KMV
    twin's <=K.  Each touched source re-emits its full verdict row
    (update mode — the live keep-rate dashboard a curation pipeline
    tails while a crawl lands)."""
    if state.exists:
        n_docs, n_keep, sum_score, min_score, max_score = state.get
    else:
        n_docs = n_keep = sum_score = 0
        min_score, max_score = None, None
    partials = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        partials.append(pdf.groupby("doc_id")["w"].agg(["count", "sum"]))
    touched = bool(partials)
    if partials:
        per_doc = pd.concat(partials).groupby(level=0).sum()
        ns = ((per_doc["sum"] + 1000 * per_doc["count"]) // per_doc["count"]) - 1000
        n_docs += int(len(ns))
        n_keep += int((ns >= 0).sum())
        sum_score += int(ns.sum())
        b_min, b_max = int(ns.min()), int(ns.max())
        min_score = b_min if min_score is None else min(min_score, b_min)
        max_score = b_max if max_score is None else max(max_score, b_max)
    state.update((n_docs, n_keep, sum_score, min_score, max_score))
    cols = [c.split()[0] for c in QC_SCHEMA.split(", ")]
    if not touched or n_docs == 0:
        yield pd.DataFrame(columns=cols)
        return
    yield pd.DataFrame(
        [
            (
                key[0],
                n_docs,
                n_keep,
                (n_keep * 1_000_000) // n_docs,
                ((sum_score + 1000 * n_docs) // n_docs) - 1000,
                min_score,
                max_score,
            )
        ],
        columns=cols,
    )


def quality_classifier_stream(docs: DataFrame) -> DataFrame:
    """Streaming quality-classifier gate: the token-weight relation is the
    SAME ``qc_token_weights`` pipeline as the batch census (hashing-trick
    features + the broadcast weight relation as a stream-static join —
    scoring fidelity holds by construction); applyInPandasWithState then
    folds per-doc scores and keeps the five-integer census per source."""
    from ..operators.textops import qc_token_weights

    return (
        qc_token_weights(docs)
        .select("source", "doc_id", "w")
        .groupBy("source")
        .applyInPandasWithState(
            _update_qc,
            outputStructType=QC_SCHEMA,
            stateStructType=_QC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
