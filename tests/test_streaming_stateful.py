"""Custom stateful operator + stream-stream join semantics, pinned against
their batch twins (the streaming model's prefix-consistency guarantee).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from pyspark.sql import functions as F

from data_ingestion_ex8_producer_spark.streaming.events import stream_events_fixture
from data_ingestion_ex8_producer_spark.streaming.stateful import (
    purchases_after_signup,
    user_running_totals,
)

SF = "/root/testdata/sf0.001"


def _run(streaming_df, name: str, mode: str) -> None:
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()


def _batch_events(spark):
    from data_ingestion_ex8_producer_spark.sources.tables import load_table

    return load_table(spark, SF, "events")


@pytest.mark.slow
def test_stateful_running_totals_match_batch(spark, tmp_path: Path) -> None:
    events = stream_events_fixture(spark, SF, str(tmp_path / "st1"))
    _run(user_running_totals(events), "stateful_totals", "update")
    # Last emitted row per user == final totals (update mode emits per batch;
    # with availableNow over one file there is exactly one emission per user).
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM stateful_totals").collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["tv"])
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")).cast("double"), 2).alias("tv"),
        )
        .collect()
    }
    assert got == expected


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, tmp_path: Path) -> None:
    events = stream_events_fixture(spark, SF, str(tmp_path / "st2"))
    _run(purchases_after_signup(events), "ss_join", "append")
    got = {
        (r["signup_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    ev = _batch_events(spark)
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("sts"), F.col("event_id").alias("sid")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    expected = {
        (r["sid"], r["pid"])
        for r in s.join(
            p,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("pts") >= F.col("sts"))
            & (F.col("pts") <= F.col("sts") + F.expr("INTERVAL 2 HOURS")),
        ).collect()
    }
    assert len(expected) > 0
    assert got == expected


@pytest.mark.slow
def test_stateful_stream_with_rocksdb_state_store(spark, tmp_path: Path) -> None:
    """The same watermarked tumbling aggregation runs with the RocksDB state
    store provider — the provider a 100 TB deployment uses so streaming state
    spills to local disk instead of living on the executor heap.  Results
    must be identical to the default (HDFS-backed in-memory) provider."""
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_events_fixture,
        tumbling_counts,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = stream_events_fixture(spark, SF, str(tmp_path / "ev_rocks"))
        query = (
            tumbling_counts(events)
            .writeStream.format("memory")
            .queryName("rocks_tumbling")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .start()
        )
        query.awaitTermination(120)
        query.stop()
        got = {
            (r["window_start"], r["window_end"], r["event_type"]): (
                r["n_events"],
                r["total_value"],
            )
            for r in spark.sql("SELECT * FROM rocks_tumbling").collect()
        }
        from data_ingestion_ex8_producer_spark.operators.events import (
            q_tumbling_window,
        )

        expected = {
            (r["window_start"], r["window_end"], r["event_type"]): (
                r["n_events"],
                r["total_value"],
            )
            for r in q_tumbling_window(spark, SF).collect()
        }
        assert got == expected
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.mark.slow
def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path: Path) -> None:
    """Left-outer stream-stream join: a signup with no purchase inside the
    horizon is emitted with null purchase columns — but only after the global
    watermark passes its join horizon, which takes two further micro-batches
    (batch N data advances the watermark used by batch N+1).  This pins the
    state-expiry semantics a 100 TB streaming join relies on to bound memory."""
    import os
    import time as _time

    staging = tmp_path / "ss_outer"
    staging.mkdir()
    schema = "user_id long, event_type string, ts timestamp, event_id long, value double"
    t0 = "2024-01-01 08:00:00"

    def write_file(name: str, rows: list, mtime: float) -> None:
        path = str(staging / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        os.utime(path, (mtime, mtime))
        for f in Path(path).glob("*.parquet"):
            os.utime(f, (mtime, mtime))

    from datetime import datetime, timedelta

    base = datetime.fromisoformat(t0)
    now = _time.time()
    # batch 0: one matched signup (user 1), one never-matched signup (user 2)
    write_file(
        "f0",
        [
            (1, "signup", base, 100, 0.0),
            (1, "purchase", base + timedelta(minutes=10), 101, 9.99),
            (2, "signup", base, 102, 0.0),
        ],
        now - 300,
    )
    # batch 1: events 10 days later on both sides -> advances both watermarks
    write_file(
        "f1",
        [
            (7, "signup", base + timedelta(days=10), 200, 0.0),
            (7, "purchase", base + timedelta(days=10, minutes=5), 201, 1.0),
        ],
        now - 200,
    )
    # batch 2: consumes the advanced watermark -> user 2's null row emits here
    write_file(
        "f2",
        [
            (8, "signup", base + timedelta(days=20), 300, 0.0),
            (8, "purchase", base + timedelta(days=20, minutes=5), 301, 1.0),
        ],
        now - 100,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(staging))
    )
    joined = purchases_after_signup(stream, how="left_outer")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ss_outer_ckpt"))
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    rows = {r["signup_id"]: r for r in spark.sql("SELECT * FROM ss_outer").collect()}
    assert rows[100]["purchase_id"] == 101  # matched pair
    assert 102 in rows, f"unmatched signup never emitted: {sorted(rows)}"
    assert rows[102]["purchase_id"] is None and rows[102]["purchase_ts"] is None


@pytest.mark.slow
def test_streaming_bursts_match_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful streaming burst detector must
    emit exactly the batch q_event_burst_detection rows (prefix
    consistency); retention pruning only affects which buckets a LATER
    batch could still update."""
    from data_ingestion_ex8_producer_spark.operators.events import (
        q_event_burst_detection,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        event_bursts_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "burst"))
    _run(event_bursts_stream(events), "stream_bursts", "update")
    got = {
        (r["event_type"], r["hour_start"]): (
            r["n_events"], r["trail_sum"], r["trail_n"], r["is_burst"]
        )
        for r in spark.sql("SELECT * FROM stream_bursts").collect()
    }
    expected = {
        (r["event_type"], r["hour_start"]): (
            r["n_events"], r["trail_sum"], r["trail_n"], r["is_burst"]
        )
        for r in q_event_burst_detection(spark, SF).collect()
    }
    assert got == expected


class _FakeState:
    """Minimal GroupState stand-in for direct state-function unit tests."""

    def __init__(self) -> None:
        self._value = None

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value) -> None:
        self._value = value


def _mk_events(hour_counts: dict[int, int]):
    """One pandas batch with `count` events inside each epoch-hour bucket."""
    import pandas as pd

    ts = []
    for h, c in hour_counts.items():
        base = pd.Timestamp(h * 3_600_000_000, unit="us")
        ts.extend(base + pd.Timedelta(seconds=i) for i in range(c))
    return pd.DataFrame({"ts": pd.Series(ts, dtype="datetime64[ns]")})


def test_burst_state_no_truncated_reemission() -> None:
    """Multi-batch regression: after pruning, a later batch must NOT re-emit
    old buckets with trails recomputed from truncated history (update-mode
    sinks would overwrite the correct earlier rows)."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _BURST_RETAIN,
        _update_bursts,
    )

    state = _FakeState()
    # Batch 1: 30 hourly buckets -> full-history flags, then prune to 24.
    batch1 = _mk_events({h: 1 + h % 3 for h in range(100, 130)})
    out1 = pd.concat(_update_bursts(("click",), iter([batch1]), state))
    assert len(out1) == 30  # everything is new -> everything emitted
    assert len(state.get[0]) == _BURST_RETAIN

    # Batch 2: one event in a brand-new bucket.  Only that bucket may be
    # emitted (nothing else changed; no trailing window contains it).
    out2 = pd.concat(_update_bursts(("click",), iter([_mk_events({130: 5})]), state))
    assert list(out2["hour_start"]) == [pd.Timestamp(130 * 3_600_000_000, unit="us")]
    # Its trail is the 6 preceding retained buckets — complete history.
    assert out2.iloc[0]["trail_n"] == 6

    # Batch 3: a late event into a retained, updatable bucket re-emits that
    # bucket and the buckets whose trailing windows contain it — never the
    # pruned-trail heads.
    state3_hours = list(state.get[0])
    target = state3_hours[10] // 3_600_000_000
    out3 = pd.concat(
        _update_bursts(("click",), iter([_mk_events({int(target): 2})]), state)
    )
    assert 1 <= len(out3) <= 7
    assert all(h >= state3_hours[10] for h in out3["hour_start"].astype("int64") // 1000)


def test_burst_state_drops_data_behind_horizon() -> None:
    """Once pruning has occurred, events older than the 6th retained bucket
    are dropped (the watermark analog) — they can no longer be flagged
    correctly because their trailing history is gone."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_bursts

    state = _FakeState()
    pd.concat(_update_bursts(("e",), iter([_mk_events({h: 1 for h in range(100, 130)})]), state))
    hours_before = list(state.get[0])
    out = pd.concat(_update_bursts(("e",), iter([_mk_events({50: 9})]), state))
    assert len(out) == 0
    assert list(state.get[0]) == hours_before

    # Before any pruning, arbitrarily old out-of-order buckets ARE accepted.
    state2 = _FakeState()
    pd.concat(_update_bursts(("e",), iter([_mk_events({200: 1, 201: 1})]), state2))
    out2 = pd.concat(_update_bursts(("e",), iter([_mk_events({150: 4})]), state2))
    assert 150 * 3_600_000_000 in [int(h) for h in state2.get[0]]
    assert len(out2) >= 1  # the new bucket (and affected successors) emit


@pytest.mark.parametrize("update", ["_update_bursts", "_update_bursts_gapfilled"])
def test_burst_horizon_is_the_trail_th_retained_bucket(update) -> None:
    """After pruning, the oldest bucket a batch may update is the
    _BURST_TRAIL-th retained one, on either spine: an event in the bucket
    just before it is dropped, an event in it is merged and emitted."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.operators.events import _BURST_TRAIL
    from data_ingestion_ex8_producer_spark.streaming import stateful as _st

    fn = getattr(_st, update)
    state = _FakeState()
    pd.concat(fn(("e",), iter([_mk_events({h: 1 for h in range(100, 130)})]), state))
    edge = 130 - _st._BURST_RETAIN + _BURST_TRAIL
    assert len(pd.concat(fn(("e",), iter([_mk_events({edge - 1: 5})]), state))) == 0
    out = pd.concat(fn(("e",), iter([_mk_events({edge: 5})]), state))
    assert pd.Timestamp(edge * 3_600_000_000, unit="us") in set(out["hour_start"])


@pytest.mark.slow
def test_streaming_bursts_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart: the burst detector's state (retained
    buckets + pruned counter) must survive a stream restart, so the
    latest emission per (type, hour) across BOTH runs equals the batch
    twin over the full data — run 2 only re-emits buckets its new data
    affected, with trails computed from the restored state."""
    import shutil

    from pyspark.sql import functions as F

    from data_ingestion_ex8_producer_spark.operators.events import (
        q_event_burst_detection,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_events_fixture,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        event_bursts_stream,
    )

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    # Split the events into two time-ordered halves, one file each.
    events = load_table(spark, SF, "events")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    w1 = events.filter(F.col("ts") <= F.lit("2024-01-15"))
    w2 = events.filter(F.col("ts") > F.lit("2024-01-15"))
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)

    schema = events.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            event_bursts_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()  # restart from the same checkpoint; only file b is new

    emissions = spark.read.parquet(out)
    from pyspark.sql import Window

    latest = Window.partitionBy("event_type", "hour_start").orderBy(
        F.col("epoch").desc()
    )
    got = {
        (r["event_type"], r["hour_start"]): (
            r["n_events"], r["trail_sum"], r["trail_n"], r["is_burst"]
        )
        for r in emissions.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .collect()
    }
    expected = {
        (r["event_type"], r["hour_start"]): (
            r["n_events"], r["trail_sum"], r["trail_n"], r["is_burst"]
        )
        for r in q_event_burst_detection(spark, SF).collect()
    }
    assert got == expected


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _bucketed_batches(draw):
    """Random per-hour counts over a <=20-bucket span (below _BURST_RETAIN,
    so no pruning can occur), split into 1-4 arbitrary batches."""
    hours = draw(
        st.dictionaries(
            st.integers(min_value=500, max_value=519),
            st.integers(min_value=1, max_value=5),
            min_size=1,
            max_size=12,
        )
    )
    events = [(h, i) for h, c in hours.items() for i in range(c)]
    perm = draw(st.permutations(events))
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(perm)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    batches, prev = [], 0
    for c in [*cuts, len(perm)]:
        batches.append(perm[prev:c])
        prev = c
    return hours, batches


@settings(max_examples=60, deadline=None)
@given(_bucketed_batches())
def test_burst_state_split_invariance(case) -> None:
    """PROPERTY: while the bucket span stays inside the retention window,
    ANY split of the events into micro-batches (any order, any cuts,
    including empty batches) yields latest-emission-wins results identical
    to processing everything in one batch — the prefix-consistency
    contract of the stateful operator, without Spark in the loop."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_bursts

    hours, batches = case

    def run(batch_list):
        state = _FakeState()
        latest: dict = {}
        for evs in batch_list:
            counts: dict[int, int] = {}
            for h, _ in evs:
                counts[h] = counts.get(h, 0) + 1
            out = pd.concat(
                _update_bursts(("k",), iter([_mk_events(counts)]), state)
            )
            for r in out.itertuples(index=False):
                latest[r.hour_start] = (
                    r.n_events, r.trail_sum, r.trail_n, r.is_burst
                )
        return latest

    single = run([[(h, i) for h, c in hours.items() for i in range(c)]])
    split = run(batches)
    assert split == single


# --------------------------------------------------------------------------
# Gap-filled burst detector (streaming twin of q_event_burst_gapfilled)
# --------------------------------------------------------------------------


def _gapfilled_reference(spark, per_type_bounds: bool):
    """Batch reference for the gap-filled burst flags.  With
    per_type_bounds=True the spine spans each event_type's own min..max
    hour (the keyed-state semantics); with False it is the registered
    q_event_burst_gapfilled (global bounds)."""
    from pyspark.sql import Window

    from data_ingestion_ex8_producer_spark.operators.events import (
        _BURST_FACTOR,
        _BURST_TRAIL,
        q_event_burst_gapfilled,
    )

    if not per_type_bounds:
        return q_event_burst_gapfilled(spark, SF)
    ev = _batch_events(spark)
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_start"
        ),
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_actual"))
    dense = spine.join(hourly, ["event_type", "hour_start"], "left").select(
        "event_type",
        "hour_start",
        F.coalesce(F.col("n_actual"), F.lit(0)).cast("long").alias("n_events"),
        F.col("n_actual").isNull().alias("is_gap"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-_BURST_TRAIL, -1)
    )
    trail_sum = F.coalesce(F.sum("n_events").over(w), F.lit(0)).cast("long")
    trail_n = F.count("n_events").over(w).cast("long")
    return dense.select(
        "event_type",
        "hour_start",
        "n_events",
        "is_gap",
        trail_sum.alias("trail_sum"),
        trail_n.alias("trail_n"),
        (
            (trail_n > 0)
            & (F.col("n_events") * trail_n > _BURST_FACTOR * trail_sum)
        ).alias("is_burst"),
    )


@pytest.mark.slow
def test_streaming_gapfilled_bursts_match_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the gap-filled streaming detector emits
    exactly the per-type-bounds batch reference rows — including the
    synthesized zero-activity gap rows — and, for every event_type whose
    own span equals the global span, exactly the registered
    q_event_burst_gapfilled rows."""
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        event_bursts_gapfilled_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "gfburst"))
    _run(event_bursts_gapfilled_stream(events), "stream_gf_bursts", "update")

    def keyed(rows):
        return {
            (r["event_type"], r["hour_start"]): (
                r["n_events"], r["is_gap"], r["trail_sum"], r["trail_n"],
                r["is_burst"],
            )
            for r in rows
        }

    got = keyed(spark.sql("SELECT * FROM stream_gf_bursts").collect())
    expected = keyed(_gapfilled_reference(spark, per_type_bounds=True).collect())
    assert got == expected
    assert any(v[1] for v in got.values()), "fixture has no gap hours?"

    # Keys spanning the global range must match the REGISTERED batch spec.
    glob = keyed(_gapfilled_reference(spark, per_type_bounds=False).collect())
    glob_hours = {h for (_, h) in glob}
    lo, hi = min(glob_hours), max(glob_hours)
    full_span_types = {
        et for (et, h) in got if h == lo
    } & {et for (et, h) in got if h == hi}
    checked = 0
    for (et, h), v in glob.items():
        if et in full_span_types:
            assert got[(et, h)] == v, (et, h)
            checked += 1
    if full_span_types:
        assert checked > 0


def test_gapfilled_state_materializes_gap_buckets() -> None:
    """Direct state-function check: advancing the frontier materializes the
    intervening zero buckets exactly once, with correct trails, and zero
    buckets drag the trailing mean down (a post-quiet resumption is
    flagged where the sparse detector would stay silent)."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_bursts_gapfilled,
    )

    state = _FakeState()
    out1 = pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({100: 4, 101: 4})]), state)
    )
    assert len(out1) == 2 and not out1["is_gap"].any()

    # Quiet hours 102..107, then 4 events at 108: the six zero buckets are
    # synthesized (is_gap) and the resumption bursts against a zero trail.
    out2 = pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({108: 4})]), state)
    )
    emitted = dict(
        zip(out2["hour_start"].astype("int64") // (3_600_000_000 * 1000), out2["is_gap"])
    )
    assert {102, 103, 104, 105, 106, 107} <= {h for h, g in emitted.items() if g}
    row108 = out2[out2["hour_start"] == pd.Timestamp(108 * 3_600_000_000, unit="us")]
    assert row108.iloc[0]["trail_sum"] == 0  # all-zero trailing window
    assert bool(row108.iloc[0]["is_burst"])
    # The sparse detector's trail for 108 would be the OBSERVED buckets
    # (100, 101: sum 8, n 2) -> 4*2 > 2*8 is false: not flagged.  The dense
    # twin flags it — exactly the on-call difference the operator exists for.

    # Idempotence of the spine: a later event into 109 must not re-emit or
    # re-create the 102..107 gap rows (their trails are unchanged).
    out3 = pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({109: 1})]), state)
    )
    assert list(out3["hour_start"]) == [pd.Timestamp(109 * 3_600_000_000, unit="us")]


def test_gapfilled_state_prunes_and_respects_horizon() -> None:
    """Constant-size state: the dense spine prunes to _BURST_RETAIN buckets,
    and once pruned, events behind the horizon are dropped."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _BURST_RETAIN,
        _update_bursts_gapfilled,
    )

    state = _FakeState()
    pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({100: 1, 129: 1})]), state)
    )
    first, counts, n_pruned = state.get
    assert len(counts) == _BURST_RETAIN
    assert n_pruned == 30 - _BURST_RETAIN
    assert first == (129 - _BURST_RETAIN + 1) * 3_600_000_000

    before = (state.get[0], list(state.get[1]), state.get[2])
    out = pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({100: 7})]), state)
    )
    assert len(out) == 0
    assert (state.get[0], list(state.get[1]), state.get[2]) == before


def test_gapfilled_state_caps_gap_materialization() -> None:
    """ADVICE r5: one event after a months-long silence must NOT densify and
    emit O(gap-hours) buckets — beyond _GF_MAX_DENSE hours the frontier
    jumps, the skipped hours count into n_pruned, and both the emission and
    the retained state stay bounded."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _BURST_RETAIN,
        _GF_MAX_DENSE,
        _update_bursts_gapfilled,
    )

    state = _FakeState()
    pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({100: 3, 101: 3})]), state)
    )
    # One event a year later: span 100..(100+8760) would densify 8761 hours
    # uncapped.  With the cap the single invocation emits at most
    # _GF_MAX_DENSE rows and the un-materialized hours are accounted for.
    far = 100 + 8760
    out = pd.concat(
        _update_bursts_gapfilled(("e",), iter([_mk_events({far: 5})]), state)
    )
    assert len(out) <= _GF_MAX_DENSE
    first, counts, n_pruned = state.get
    assert len(counts) == _BURST_RETAIN
    assert first == (far - _BURST_RETAIN + 1) * 3_600_000_000
    # Every hour in the original span is either retained or pruned-counted.
    total_span = far - 100 + 1
    assert n_pruned == total_span - _BURST_RETAIN
    # The resumption bucket itself is emitted, flagged against a zero trail.
    row = out[out["hour_start"] == pd.Timestamp(far * 3_600_000_000, unit="us")]
    assert row.iloc[0]["n_events"] == 5 and bool(row.iloc[0]["is_burst"])


# --------------------------------------------------------------------------
# Running-moments value-anomaly detector (streaming twin of q_value_outliers)
# --------------------------------------------------------------------------


@pytest.mark.slow
def test_streaming_value_outliers_match_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the running-moments detector's emission
    equals the registered q_value_outliers batch rows COLUMN-FOR-COLUMN
    (global moments == single-batch moments; integer moment sums and
    identical IEEE derivations make even the doubles bit-identical)."""
    from data_ingestion_ex8_producer_spark.operators.events import (
        q_value_outliers,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        value_outliers_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "vo"))
    _run(value_outliers_stream(events), "stream_value_outliers", "update")
    got = {
        r["event_type"]: (
            r["n_events"], r["mean_value"], r["std_value"],
            r["n_outliers"], r["outlier_share"],
        )
        for r in spark.sql("SELECT * FROM stream_value_outliers").collect()
    }
    expected = {
        r["event_type"]: (
            r["n_events"], r["mean_value"], r["std_value"],
            r["n_outliers"], r["outlier_share"],
        )
        for r in q_value_outliers(spark, SF).collect()
    }
    assert got == expected and len(got) > 0


def test_value_outliers_state_moments_split_invariant() -> None:
    """The exact-integer moment state is split-invariant: any micro-batch
    partition of the same rows leaves identical (n, s, ss) state — the
    no-float-drift guarantee — while the outlier count is prefix-honest
    (early events are judged against prefix moments, so a split may flag
    MORE than the single-shot run, never fewer-than-zero; the single-shot
    count equals the batch spec's)."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_value_outliers,
    )

    # One extreme value among 30 near-constant points: a single point among
    # n can reach at most z = (n-1)/sqrt(n) (~2.85 at n=10, ~5.3 at n=30),
    # so n=30 makes the 3-sigma flag attainable.
    vals = [10.0 + 0.01 * i for i in range(29)] + [99.9]

    def frame(vs):
        return pd.DataFrame({"value": pd.Series(vs, dtype="float64")})

    single = _FakeState()
    out_single = pd.concat(
        _update_value_outliers(("e",), iter([frame(vals)]), single)
    )
    split = _FakeState()
    pd.concat(_update_value_outliers(("e",), iter([frame(vals[:11])]), split))
    out_split = pd.concat(
        _update_value_outliers(("e",), iter([frame(vals[11:])]), split)
    )
    assert single.get[:3] == split.get[:3]  # (n, s, ss) identical
    assert split.get[3] >= single.get[3] >= 0
    # The emitted final moments mirror the state on both paths.
    assert out_single.iloc[0]["n_events"] == out_split.iloc[0]["n_events"] == 30
    assert out_single.iloc[0]["mean_value"] == out_split.iloc[0]["mean_value"]
    # The obvious outlier (99.9 among ~10s) is flagged on the single shot.
    assert single.get[3] >= 1


@st.composite
def _value_splits(draw):
    """Random 2-decimal value lists split into 1-4 arbitrary micro-batches."""
    vals = draw(
        st.lists(
            st.integers(min_value=0, max_value=50_000).map(lambda q: q / 100.0),
            min_size=1,
            max_size=60,
        )
    )
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(vals)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    batches, prev = [], 0
    for c in [*cuts, len(vals)]:
        batches.append(vals[prev:c])
        prev = c
    return vals, batches


@settings(max_examples=60, deadline=None)
@given(_value_splits())
def test_value_outlier_moments_split_invariance_property(case) -> None:
    """PROPERTY: the running-moments state (n, Σvq, Σvq²) is identical
    under ANY micro-batch split of the same values — integer sums cannot
    drift — and the final emitted mean/std (pure functions of the state)
    are bit-identical too."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_value_outliers,
    )

    vals, batches = case

    def run(batch_list):
        state = _FakeState()
        last = None
        for vs in batch_list:
            out = pd.concat(
                _update_value_outliers(
                    ("k",),
                    iter([pd.DataFrame({"value": pd.Series(vs, dtype="float64")})]),
                    state,
                )
            )
            if len(out):
                last = out.iloc[0]
        return state.get, last

    s_single, row_single = run([vals])
    s_split, row_split = run(batches)
    assert s_single[:3] == s_split[:3]
    assert row_single["mean_value"] == row_split["mean_value"]
    assert row_single["std_value"] == row_split["std_value"]
    assert row_single["n_events"] == row_split["n_events"] == len(vals)


@pytest.mark.slow
def test_streaming_value_outliers_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart for the running-moments detector: the
    exact integer moment state survives the restart, so the final emission
    per type carries EXACTLY the batch twin's (n, mean, std) — the
    split-invariant core — while the outlier count stays prefix-honest
    (bounded by n; equal to the batch count when all data shares one
    batch, which the single-batch equality test pins separately)."""
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_ex8_producer_spark.operators.events import (
        q_value_outliers,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        value_outliers_stream,
    )

    staging = tmp_path / "vo_staging"
    staging.mkdir()
    ckpt = str(tmp_path / "vo_ckpt")
    out = str(tmp_path / "vo_emissions")

    events = load_table(spark, SF, "events")
    half1 = str(tmp_path / "vo_half1")
    half2 = str(tmp_path / "vo_half2")
    events.filter(F.col("ts") <= F.lit("2024-01-15")).coalesce(1).write.parquet(half1)
    events.filter(F.col("ts") > F.lit("2024-01-15")).coalesce(1).write.parquet(half2)
    schema = events.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            value_outliers_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    for src, name in ((half1, "a.parquet"), (half2, "b.parquet")):
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)
        run_once()

    emissions = spark.read.parquet(out)
    latest = Window.partitionBy("event_type").orderBy(F.col("epoch").desc())
    got = {
        r["event_type"]: (
            r["n_events"], r["mean_value"], r["std_value"], r["n_outliers"]
        )
        for r in emissions.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .collect()
    }
    expected = {
        r["event_type"]: (r["n_events"], r["mean_value"], r["std_value"])
        for r in q_value_outliers(spark, SF).collect()
    }
    assert set(got) == set(expected)
    for et, (n, mean, std, n_out) in got.items():
        assert (n, mean, std) == expected[et]
        assert 0 <= n_out <= n


@pytest.mark.slow
def test_streaming_ewma_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful streaming EWMA smoother must
    emit exactly the batch q_ewma_hourly rows — integer contributions and
    the one IEEE division reproduce bit-identically."""
    from data_ingestion_ex8_producer_spark.operators.events import q_ewma_hourly
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        ewma_hourly_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "ewma"))
    _run(ewma_hourly_stream(events), "stream_ewma", "update")
    got = {
        (r["event_type"], r["hour_start"]): (r["x"], r["n_window"], r["ewma"])
        for r in spark.sql("SELECT * FROM stream_ewma").collect()
    }
    expected = {
        (r["event_type"], r["hour_start"]): (r["x"], r["n_window"], r["ewma"])
        for r in q_ewma_hourly(spark, SF).collect()
    }
    assert got == expected


def test_ewma_state_late_bucket_reemits_affected_window() -> None:
    """Split-stream semantics: a late count landing in an old bucket must
    re-emit every observed bucket within the 15-hour forward window with
    values equal to a fresh single-shot run over the merged input."""
    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_ewma

    # Two batches: hours 0,1,20 first; then +3 late events into hour 0.
    st = _FakeState()
    list(_update_ewma(("click",), iter([_mk_events({0: 4, 1: 2, 20: 5})]), st))
    out2 = list(
        _update_ewma(("click",), iter([_mk_events({0: 3})]), st)
    )[0]
    # Affected = hours 0 and 1 (within 15h forward of hour 0); hour 20 not.
    got = {
        int(r.hour_start.value // 1000): (r.x, r.n_window, r.ewma)
        for r in out2.itertuples()
    }
    fresh = _FakeState()
    single = list(
        _update_ewma(("click",), iter([_mk_events({0: 7, 1: 2, 20: 5})]), fresh)
    )[0]
    want = {
        int(r.hour_start.value // 1000): (r.x, r.n_window, r.ewma)
        for r in single.itertuples()
        if int(r.hour_start.value // 1000) != 20 * 3_600_000_000
    }
    assert got == want
    assert set(got) == {0, 3_600_000_000}  # hours 0 and 1 only


@pytest.mark.slow
def test_streaming_seasonal_anomaly_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful streaming seasonal detector
    must emit exactly the batch q_seasonal_hourly_anomaly rows (no cells
    pruned, so moments and anomaly counts are the full-corpus values)."""
    from data_ingestion_ex8_producer_spark.operators.events import (
        q_seasonal_hourly_anomaly,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        seasonal_anomaly_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "seas"))
    _run(seasonal_anomaly_stream(events), "stream_seasonal", "update")
    got = {
        (r["event_type"], r["hod"]): (
            r["n_cells"], r["mean_cnt"], r["std_cnt"],
            r["n_anomalies"], r["anomaly_share"],
        )
        for r in spark.sql("SELECT * FROM stream_seasonal").collect()
    }
    expected = {
        (r["event_type"], r["hod"]): (
            r["n_cells"], r["mean_cnt"], r["std_cnt"],
            r["n_anomalies"], r["anomaly_share"],
        )
        for r in q_seasonal_hourly_anomaly(spark, SF).collect()
    }
    assert got == expected


def test_seasonal_state_split_batches_accumulate_cells() -> None:
    """Split-stream semantics: merging a second batch into existing state
    must yield the same emitted summary as one combined batch (no pruning
    at this size, so the moments are associative)."""
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_seasonal,
    )

    st = _FakeState()
    list(_update_seasonal(("click",), iter([_mk_events({0: 4, 24: 2})]), st))
    out2 = list(
        _update_seasonal(("click",), iter([_mk_events({0: 3, 48: 1})]), st)
    )[0]
    fresh = _FakeState()
    single = list(
        _update_seasonal(
            ("click",), iter([_mk_events({0: 7, 24: 2, 48: 1})]), fresh
        )
    )[0]
    got = {r.hod: (r.n_cells, r.mean_cnt, r.n_anomalies) for r in out2.itertuples()}
    want = {r.hod: (r.n_cells, r.mean_cnt, r.n_anomalies) for r in single.itertuples()}
    assert got == want


def test_seasonal_state_pruned_cell_cannot_be_resurrected() -> None:
    """ADVICE r6 regression: with a MID-DAY prune frontier (packed key 0
    pruned, day-0 cells at hod >= 1 retained), a late event for the pruned
    (day 0, hod 0) cell must be DROPPED — the old day-truncated horizon
    (min(cells) rounded down to the day start) let it recreate the cell and
    double-count it (once in the frozen closed moments, again as a new open
    cell)."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _SEAS_RETAIN,
        _update_seasonal,
    )

    st = _FakeState()
    # _SEAS_RETAIN + 1 distinct (day, hod) cells force exactly one prune:
    # the smallest packed key 0 = (day 0, hod 0).
    list(
        _update_seasonal(
            ("click",),
            iter([_mk_events({h: 1 for h in range(_SEAS_RETAIN + 1)})]),
            st,
        )
    )
    assert st.get[6] == 1  # one cell pruned
    assert st.get[7] == 0  # frontier = the pruned packed key
    assert 0 not in set(st.get[0])  # pruned cell gone from open state
    n0_closed = st.get[2][0]
    out = pd.concat(
        _update_seasonal(("click",), iter([_mk_events({0: 3})]), st)
    )
    assert len(out) == 0  # dropped: nothing touched, nothing emitted
    assert 0 not in set(st.get[0])  # not resurrected as an open cell
    assert st.get[2][0] == n0_closed  # closed moments untouched


@pytest.mark.parametrize("ts", ["1969-12-31 23:30", "1970-01-01 00:30"])
def test_seasonal_fresh_state_counts_events_either_side_of_epoch(ts) -> None:
    """Nothing is pruned on fresh state, so there is no late-data horizon: an
    event before 1970 (a negative packed key) emits its (type, hod) row as
    one after it does, as the batch q_seasonal_hourly_anomaly counts both."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_seasonal,
    )

    t = pd.Timestamp(ts)
    st = _FakeState()
    out = pd.concat(
        _update_seasonal(
            ("click",), iter([pd.DataFrame({"ts": pd.Series([t], dtype="datetime64[ns]")})]), st
        )
    )
    assert [(r.event_type, r.hod, r.n_cells) for r in out.itertuples()] == [
        ("click", t.hour, 1)
    ]
    assert st.get[6] == 0 and len(st.get[0]) == 1


def test_seasonal_state_drops_events_at_a_negative_pruned_frontier() -> None:
    """A real frontier before 1970 still drops the late events at or behind
    it, and keeps the ones above it."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _SEAS_RETAIN,
        _update_seasonal,
    )

    hours = range(-(_SEAS_RETAIN + 1), 0)
    st = _FakeState()
    list(_update_seasonal(("click",), iter([_mk_events({h: 1 for h in hours})]), st))
    frontier = st.get[7]
    assert st.get[6] == 1 and frontier < 0
    n_closed = list(st.get[2])
    behind = pd.concat(
        _update_seasonal(("click",), iter([_mk_events({hours[0]: 3})]), st)
    )
    assert len(behind) == 0
    assert frontier not in set(st.get[0]) and list(st.get[2]) == n_closed
    above = pd.concat(
        _update_seasonal(("click",), iter([_mk_events({hours[1]: 2})]), st)
    )
    assert len(above) == 1


@pytest.mark.slow
def test_streaming_ewma_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart: the EWMA smoother's state (retained
    buckets + pruned counter) must survive a stream restart, so the latest
    emission per (type, hour) across BOTH runs equals the batch twin over
    the full data.  This holds EXACTLY because retention (32 observed
    buckets) covers the 16-hour time lookback: any contributor within 15
    clock hours of a run-2 bucket is among the most recent <=16 observed
    run-1 buckets, hence restored from the checkpoint."""
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_ex8_producer_spark.operators.events import q_ewma_hourly
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        ewma_hourly_stream,
    )

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    events = load_table(spark, SF, "events")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    w1 = events.filter(F.col("ts") <= F.lit("2024-01-15"))
    w2 = events.filter(F.col("ts") > F.lit("2024-01-15"))
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)
    schema = events.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            ewma_hourly_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()  # restart from the same checkpoint; only file b is new

    emissions = spark.read.parquet(out)
    latest = Window.partitionBy("event_type", "hour_start").orderBy(
        F.col("epoch").desc()
    )
    got = {
        (r["event_type"], r["hour_start"]): (r["x"], r["n_window"], r["ewma"])
        for r in emissions.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .collect()
    }
    expected = {
        (r["event_type"], r["hour_start"]): (r["x"], r["n_window"], r["ewma"])
        for r in q_ewma_hourly(spark, SF).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# Streaming SCD2 builder (q_scd2_history's stateful twin)
# --------------------------------------------------------------------------


@pytest.mark.slow
def test_streaming_scd2_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the latest emission per (user, version)
    must equal the batch q_scd2_history exactly — intervals, versions,
    currency flags."""
    from pyspark.sql import Window

    from data_ingestion_ex8_producer_spark.operators.events import q_scd2_history
    from data_ingestion_ex8_producer_spark.streaming.stateful import scd2_stream

    events = stream_events_fixture(spark, SF, str(tmp_path / "scd2"))
    _run(scd2_stream(events), "stream_scd2", "update")
    got = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in spark.sql("SELECT * FROM stream_scd2").collect()
    }
    expected = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in q_scd2_history(spark, SF).collect()
    }
    assert got == expected


def _mk_typed_events(rows):
    """(hour, event_id, type) triples -> one pandas batch."""
    import pandas as pd

    return pd.DataFrame(
        {
            "ts": pd.Series(
                [pd.Timestamp(h * 3_600_000_000, unit="us") for h, _, _ in rows],
                dtype="datetime64[ns]",
            ),
            "event_id": [e for _, e, _ in rows],
            "event_type": [t for _, _, t in rows],
        }
    )


def test_scd2_state_split_batches_reconstruct_batch_history() -> None:
    """Split-stream semantics: after two batches, the latest emission per
    (user, version) equals a fresh single-shot run over the merged input —
    the update-mode reconstruction contract."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_scd2

    b1 = [(0, 0, "view"), (1, 1, "view"), (2, 2, "click")]
    b2 = [(3, 3, "click"), (4, 4, "purchase"), (5, 5, "view")]
    st = _FakeState()
    out = []
    out.append(pd.concat(_update_scd2((7,), iter([_mk_typed_events(b1)]), st)))
    out.append(pd.concat(_update_scd2((7,), iter([_mk_typed_events(b2)]), st)))
    latest = {}
    for frame in out:
        for r in frame.itertuples():
            latest[(r.user_id, r.version)] = (
                r.state, r.valid_from, r.valid_to, r.is_current
            )
    fresh = _FakeState()
    single = pd.concat(
        _update_scd2((7,), iter([_mk_typed_events(b1 + b2)]), fresh)
    )
    want = {
        (r.user_id, r.version): (r.state, r.valid_from, r.valid_to, r.is_current)
        for r in single.itertuples()
    }
    assert latest == want
    # Exactly one current row, and it is the last version.
    currents = [k for k, v in latest.items() if v[3] == 1]
    assert currents == [(7, max(v for _, v in latest))]


def test_scd2_state_drops_cross_batch_late_events() -> None:
    """A late event at/behind the open interval's batch-start frontier is
    dropped: closed history cannot be reopened or reordered."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_scd2

    st = _FakeState()
    pd.concat(
        _update_scd2(
            (1,), iter([_mk_typed_events([(0, 0, "view"), (5, 1, "click")])]), st
        )
    )
    assert st.get[0] == "click" and st.get[2] == 2
    out = pd.concat(
        _update_scd2((1,), iter([_mk_typed_events([(3, 2, "purchase")])]), st)
    )
    assert len(out) == 0  # dropped: nothing changed, nothing emitted
    assert st.get[0] == "click" and st.get[2] == 2


def test_streaming_robust_outliers_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful robust-outlier monitor must
    emit exactly the batch q_robust_outliers rows."""
    from data_ingestion_ex8_producer_spark.operators.events import (
        q_robust_outliers,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        robust_outliers_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "robust"))
    _run(robust_outliers_stream(events), "stream_robust", "update")
    got = {
        r["event_type"]: (
            r["n_events"], r["median_value"], r["mad_value"],
            r["n_outliers"], r["outlier_share"],
        )
        for r in spark.sql("SELECT * FROM stream_robust").collect()
    }
    expected = {
        r["event_type"]: (
            r["n_events"], r["median_value"], r["mad_value"],
            r["n_outliers"], r["outlier_share"],
        )
        for r in q_robust_outliers(spark, SF).collect()
    }
    assert got == expected


def test_robust_state_split_batches_are_exactly_associative() -> None:
    """The histogram state is the sufficient statistic, so the final
    emission after ANY batch split equals the single-batch emission
    exactly — a stronger contract than the moment-based twins'."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_robust,
    )

    def _vals(vs):
        return pd.DataFrame({"value": pd.Series(vs, dtype="float64")})

    a = [1.00, 1.01, 1.02, 1.00, 9.99]
    b = [1.01, 1.03, 0.98, 25.5, 1.02]
    split = _FakeState()
    list(_update_robust(("buy",), iter([_vals(a)]), split))
    out_split = pd.concat(_update_robust(("buy",), iter([_vals(b)]), split))
    single = _FakeState()
    out_single = pd.concat(_update_robust(("buy",), iter([_vals(a + b)]), single))
    assert split.get == single.get  # identical histogram state
    assert out_split.to_dict("records") == out_single.to_dict("records")
    row = out_single.iloc[0]
    assert row["n_events"] == 10
    assert row["median_value"] == 1.01  # lower order statistic of the 10
    assert row["n_outliers"] == 2  # 9.99 and 25.5 vs MAD 0.01


def test_robust_state_bin_cap_fails_fast() -> None:
    """Beyond _RO_MAX_BINS distinct quantized values the monitor raises an
    explicit error instead of growing state silently (the documented
    widen-the-grid operational guard)."""
    import pandas as pd
    import pytest as _pytest

    from data_ingestion_ex8_producer_spark.streaming import stateful as _st

    old = _st._RO_MAX_BINS
    _st._RO_MAX_BINS = 3
    try:
        st = _FakeState()
        vals = pd.DataFrame({"value": pd.Series([0.01, 0.02, 0.03, 0.04])})
        with _pytest.raises(ValueError, match="value bins"):
            list(_st._update_robust(("buy",), iter([vals]), st))
    finally:
        _st._RO_MAX_BINS = old


def _budget_for(spark) -> int:
    """The batch spec's budget: total corpus tokens div (n_sources * 2)."""
    from data_ingestion_ex8_producer_spark.functions.text import tokens
    from data_ingestion_ex8_producer_spark.operators._util import t

    row = (
        t(spark, SF, "documents")
        .select(F.size(tokens()).cast("long").alias("n"), "source")
        .agg(
            F.sum("n").cast("long").alias("total"),
            F.countDistinct("source").cast("long").alias("ns"),
        )
        .collect()[0]
    )
    return int(row["total"]) // (int(row["ns"]) * 2)


@pytest.mark.slow
def test_streaming_token_budget_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the streaming token-budget gate must emit
    exactly the batch q_token_budget_sample rows (the within-batch
    (hash48, doc_id) ordering reproduces the batch spec's hash order)."""
    from data_ingestion_ex8_producer_spark.operators.pipeline import (
        q_token_budget_sample,
    )
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_documents_fixture,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        token_budget_gate_stream,
    )

    docs = stream_documents_fixture(spark, SF, str(tmp_path / "tbg"))
    _run(
        token_budget_gate_stream(docs, _budget_for(spark)),
        "stream_tbg",
        "append",
    )
    got = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_tokens"], r["kept"])
        for r in spark.sql("SELECT * FROM stream_tbg").collect()
    }
    expected = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_tokens"], r["kept"])
        for r in q_token_budget_sample(spark, SF).collect()
    }
    assert got == expected


def test_token_budget_state_split_batches_sum_exactly() -> None:
    """The cumulative-mass state is a plain BIGINT sum, so after ANY batch
    split the final cursor equals the single-batch cursor exactly, and
    every emitted row's kept flag is cum <= budget relative to the running
    cursor (the documented online arrival-order contract)."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _make_update_token_budget,
    )

    def _docs(ids, toks, hks):
        return pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "source": "s0",
                "n_tokens": pd.Series(toks, dtype="int64"),
                "hkey": pd.Series(hks, dtype="int64"),
            }
        )

    update = _make_update_token_budget(100)
    a = _docs([1, 2], [40, 30], [5, 9])
    b = _docs([3, 4], [40, 10], [1, 7])  # doc 3 hashes EARLIER than batch a
    split = _FakeState()
    out_a = pd.concat(update(("s0",), iter([a]), split))
    out_b = pd.concat(update(("s0",), iter([b]), split))
    single = _FakeState()
    out_single = pd.concat(
        update(("s0",), iter([pd.concat([a, b], ignore_index=True)]), single)
    )
    # cursor state is exactly associative under any split
    assert split.get == single.get == (120,)
    # online contract: batch a admits 40+30; batch b's doc 3 arrives with
    # only 30 budget left and is rejected even though its hash order would
    # have admitted it in the single-batch run
    ka = dict(zip(out_a["doc_id"], out_a["kept"]))
    kb = dict(zip(out_b["doc_id"], out_b["kept"]))
    assert ka == {1: 1, 2: 1} and kb == {3: 0, 4: 0}
    ks = dict(zip(out_single["doc_id"], out_single["kept"]))
    assert ks == {3: 1, 1: 1, 4: 1, 2: 0}  # hash order: 3(40) 1(40) 4(10) 2(30)
    # every emission is internally consistent: kept == (cum <= budget)
    for out in (out_a, out_b, out_single):
        assert ((out["cum_tokens"] <= 100).astype("int64") == out["kept"]).all()


# --------------------------------------------------------------------------
# Streaming CUSUM regime monitor (q_cusum_changepoint's per-type twin)
# --------------------------------------------------------------------------


def test_streaming_cusum_matches_sql_reference(spark, tmp_path: Path) -> None:
    """Single availableNow batch: each type's emitted CUSUM summary must
    equal an independent SQL recomputation of the per-type exact-integer
    trace (earliest peak day, peak |cusum|, peak-day count)."""
    import duckdb

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        cusum_regime_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "cusum"))
    _run(cusum_regime_stream(events), "stream_cusum", "update")
    got = {
        r.event_type: (r.n_days, r.n_events, r.peak_day, r.peak_abs_cusum,
                       r.n_peak_days)
        for r in spark.sql("SELECT * FROM stream_cusum").collect()
    }
    ref = duckdb.sql(f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM read_parquet('{SF}/events.parquet')
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
            GROUP BY 1, 2
        ),
        t AS (
            SELECT event_type, SUM(c) AS total, COUNT(*) AS nd
            FROM daily GROUP BY 1
        ),
        tr AS (
            SELECT d.event_type, d.day,
                   SUM(d.c * t.nd - t.total) OVER (
                       PARTITION BY d.event_type ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cs
            FROM daily d JOIN t ON t.event_type = d.event_type
        ),
        pk AS (
            SELECT event_type, MAX(abs(cs)) AS peak FROM tr GROUP BY 1
        )
        SELECT tr.event_type,
               CAST(t.nd AS BIGINT) AS n_days,
               CAST(t.total AS BIGINT) AS n_events,
               MIN(tr.day) FILTER (WHERE abs(tr.cs) = pk.peak) AS peak_day,
               CAST(pk.peak AS BIGINT) AS peak_abs,
               CAST(COUNT(*) FILTER (WHERE abs(tr.cs) = pk.peak) AS BIGINT)
                 AS n_peak
        FROM tr
        JOIN pk ON pk.event_type = tr.event_type
        JOIN t ON t.event_type = tr.event_type
        GROUP BY tr.event_type, t.nd, t.total, pk.peak
    """).fetchall()
    want = {r[0]: (r[1], r[2], r[3], r[4], r[5]) for r in ref}
    assert got == want and len(got) > 0


def test_cusum_state_split_batches_are_exactly_associative() -> None:
    """The day histogram is the sufficient statistic: any batch split
    yields identical state and final emission as one batch."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_cusum,
    )

    def _b(day_counts):
        us = []
        for d, c in day_counts.items():
            us.extend(d * 86_400_000_000 + i for i in range(c))
        return pd.DataFrame({"ts_us": pd.Series(us, dtype="int64")})

    a = {19000: 3, 19001: 3, 19002: 3}
    b = {19003: 9, 19004: 10, 19001: 1}
    split = _FakeState()
    list(_update_cusum(("buy",), iter([_b(a)]), split))
    out_split = pd.concat(_update_cusum(("buy",), iter([_b(b)]), split))
    single = _FakeState()
    out_single = pd.concat(_update_cusum(("buy",), iter([_b({
        k: a.get(k, 0) + b.get(k, 0) for k in {**a, **b}
    })]), single))
    assert split.get == single.get
    assert out_split.to_dict("records") == out_single.to_dict("records")
    row = out_single.iloc[0]
    # series 3,4,3,9,10 over 5 days: residuals *5 - 29 -> trace peaks
    # (abs) at day 19002 before the regime shift.
    assert row["n_days"] == 5 and row["n_events"] == 29
    assert str(row["peak_day"]) == "2022-01-10"


def test_cusum_state_day_cap_fails_fast() -> None:
    import pandas as pd
    import pytest as _pytest

    from data_ingestion_ex8_producer_spark.streaming import stateful as _st

    old = _st._CU_MAX_DAYS
    _st._CU_MAX_DAYS = 2
    try:
        st = _FakeState()
        b = pd.DataFrame({"ts_us": pd.Series(
            [0, 86_400_000_000, 2 * 86_400_000_000], dtype="int64")})
        with _pytest.raises(ValueError, match="day"):
            list(_st._update_cusum(("buy",), iter([b]), st))
    finally:
        _st._CU_MAX_DAYS = old


# --------------------------------------------------------------------------
# Streaming KMV sketch twin (q_kmv_sketch_setops's per-source estimator)
# --------------------------------------------------------------------------


def _batch_kmv_dhat(spark) -> dict[str, int]:
    """Expected per-source d_hat from the REGISTERED batch spec: every
    source appears on some pair row, so the union of (source_a, d_hat_a)
    and (source_b, d_hat_b) covers the catalog."""
    from data_ingestion_ex8_producer_spark.operators.dedup import (
        q_kmv_sketch_setops,
    )

    out: dict[str, int] = {}
    for r in q_kmv_sketch_setops(spark, SF).collect():
        out[r["source_a"]] = r["d_hat_a"]
        out[r["source_b"]] = r["d_hat_b"]
    return out


@pytest.mark.slow
def test_streaming_kmv_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful bottom-K sketch must emit
    exactly the batch spec's per-source distinct estimates."""
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_documents_fixture,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        kmv_sketch_stream,
    )

    docs = stream_documents_fixture(spark, SF, str(tmp_path / "kmv"))
    _run(kmv_sketch_stream(docs), "stream_kmv", "update")
    got = {
        r["source"]: r["d_hat"]
        for r in spark.sql("SELECT * FROM stream_kmv").collect()
    }
    assert got == _batch_kmv_dhat(spark)


def test_kmv_state_split_batches_are_exactly_associative() -> None:
    """bottom-K is closed under union, so the final state and emission
    after any batch split equal the single-batch run exactly."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _KMV_K,
        _update_kmv,
    )

    def _h(vs):
        return pd.DataFrame({"h": pd.Series(vs, dtype="int64")})

    a = [5000 + 7 * i for i in range(90)]   # 90 values
    b = [1000 + 13 * i for i in range(90)]  # 90 smaller values, overlapping none
    split = _FakeState()
    list(_update_kmv(("web",), iter([_h(a)]), split))
    out_split = pd.concat(_update_kmv(("web",), iter([_h(b)]), split))
    single = _FakeState()
    out_single = pd.concat(_update_kmv(("web",), iter([_h(a + b)]), single))
    assert split.get == single.get
    assert len(split.get[0]) == _KMV_K  # 180 distinct -> truncated to K
    assert out_split.to_dict("records") == out_single.to_dict("records")
    row = out_single.iloc[0]
    assert row["n_sketch"] == _KMV_K
    # 128 smallest of the union: all 90 b-values + the 38 smallest a-values.
    assert row["h_k"] == sorted(a + b)[_KMV_K - 1]


def test_kmv_constants_match_batch_spec() -> None:
    """The twin's K and scale must equal the batch spec's (the pin above
    would catch a drift, but only via a wrong estimate — assert directly)."""
    from data_ingestion_ex8_producer_spark.operators import dedup as _d
    from data_ingestion_ex8_producer_spark.streaming import stateful as _st

    assert _st._KMV_K == _d._KMV_K
    assert _st._KMV_SCALE == _d._KMV_SCALE


@pytest.mark.slow
def test_streaming_kmv_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart: the sketch survives a stream restart and
    the latest emission per source over both runs equals the batch
    estimate over the full corpus — exact, because bottom-K state is the
    sufficient statistic."""
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        kmv_sketch_stream,
    )

    staging = tmp_path / "kmv_staging"
    staging.mkdir()
    ckpt = str(tmp_path / "kmv_ckpt")
    out = str(tmp_path / "kmv_emissions")

    docs = load_table(spark, SF, "documents")
    half1 = str(tmp_path / "kmv_half1")
    half2 = str(tmp_path / "kmv_half2")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(half1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(half2)
    schema = docs.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            kmv_sketch_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    import shutil

    shutil.copy(f"{half1}/{_one_parquet(half1)}", staging / "a.parquet")
    run_once()
    shutil.copy(f"{half2}/{_one_parquet(half2)}", staging / "b.parquet")
    run_once()

    emitted = spark.read.parquet(out)
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("epoch").desc())
    latest = (
        emitted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("source", "d_hat")
    )
    got = {r["source"]: r["d_hat"] for r in latest.collect()}
    assert got == _batch_kmv_dhat(spark)


def _one_parquet(d: str) -> str:
    import os

    return next(f for f in os.listdir(d) if f.endswith(".parquet"))


# --------------------------------------------------------------------------
# Streaming drift-monitor twin (q_distribution_drift's online face)
# --------------------------------------------------------------------------


@pytest.mark.slow
def test_streaming_drift_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful drift monitor must emit
    exactly the batch q_distribution_drift rows."""
    from data_ingestion_ex8_producer_spark.operators.events import (
        q_distribution_drift,
    )
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_events_fixture,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        drift_monitor_stream,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "drift"))
    _run(drift_monitor_stream(events), "stream_drift", "update")
    got = {
        r["feature"]: (
            r["n_buckets"], r["n_ref"], r["n_cur"],
            r["tvd_num"], r["tvd_ppm"], r["drift_flag"], r["tvd"],
        )
        for r in spark.sql("SELECT * FROM stream_drift").collect()
    }
    want = {
        r["feature"]: (
            r["n_buckets"], r["n_ref"], r["n_cur"],
            r["tvd_num"], r["tvd_ppm"], r["drift_flag"], r["tvd"],
        )
        for r in q_distribution_drift(spark, SF).collect()
    }
    assert got == want


def test_drift_state_split_batches_are_exactly_associative() -> None:
    """The bucket histograms are the sufficient statistic, so the final
    state and emission after any batch split equal the single-batch run."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_drift,
    )

    def _b(buckets, is_cur):
        return pd.DataFrame({"bucket": buckets, "is_cur": is_cur})

    a = _b(["x", "x", "y"], [0, 1, 0])
    b = _b(["y", "z", "x"], [1, 1, 0])
    split = _FakeState()
    list(_update_drift(("f",), iter([a]), split))
    out_split = pd.concat(_update_drift(("f",), iter([b]), split))
    single = _FakeState()
    ab = pd.concat([a, b], ignore_index=True)
    out_single = pd.concat(_update_drift(("f",), iter([ab]), single))
    assert split.get == single.get
    assert out_split.to_dict("records") == out_single.to_dict("records")
    row = out_single.iloc[0]
    # ref: x=2, y=1, z=0 (N=3); cur: x=1, y=1, z=1 (N=3)
    # tvd_num = |2*3-1*3| + |1*3-1*3| + |0*3-1*3| = 3 + 0 + 3 = 6
    assert row["tvd_num"] == 6
    assert row["tvd"] == 6 / (2 * 3 * 3)
    assert row["drift_flag"] == 1  # 10*6 >= 9


def test_drift_null_bucket_counts_as_a_bucket() -> None:
    """A NULL bucket is a bucket: the batch q_distribution_drift (Spark
    groupBy keeps the NULL group) and its DuckDB oracle both count it, so
    the streaming twin must too (dropna=False + sentinel key).  Before the
    r9 fix, pandas' default dropna=True silently dropped NULL-bucket rows
    and the row-for-row parity claim was latent-broken."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_drift,
    )

    pdf = pd.DataFrame(
        {"bucket": ["x", None, None, "x"], "is_cur": [0, 0, 1, 1]}
    )
    st = _FakeState()
    out = pd.concat(_update_drift(("f",), iter([pdf]), st))
    row = out.iloc[0]
    # Two buckets: x (ref 1, cur 1) and NULL (ref 1, cur 1) — all four
    # rows counted, none dropped.
    assert row["n_buckets"] == 2
    assert row["n_ref"] == 2 and row["n_cur"] == 2
    assert row["tvd_num"] == 0 and row["drift_flag"] == 0
    # The sentinel cannot collide with a real bucket label and the NULL
    # group accumulates across batches like any other bucket.
    buckets, nr, nc = st.get
    assert "\x00null" in list(buckets)


def test_drift_one_sided_slice_emits_null_verdict() -> None:
    """Before the current window opens (or with an empty reference) the
    TVD is undefined: the monitor emits counts with NULL verdict columns
    instead of a divide-by-zero or a fake 0."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_drift,
    )

    st = _FakeState()
    ref_only = pd.DataFrame({"bucket": ["x", "y"], "is_cur": [0, 0]})
    out = pd.concat(_update_drift(("f",), iter([ref_only]), st))
    row = out.iloc[0]
    assert row["n_ref"] == 2 and row["n_cur"] == 0
    assert pd.isna(row["tvd_num"]) and pd.isna(row["drift_flag"])


def test_drift_constants_match_batch_spec() -> None:
    from data_ingestion_ex8_producer_spark.operators import events as _e
    from data_ingestion_ex8_producer_spark.streaming import stateful as _st

    assert _st._DRIFT_FLAG_X10 == _e._DRIFT_FLAG_X10


# --------------------------------------------------------------------------
# Streaming quality-classifier gate twin (q_quality_classifier's online face)
# --------------------------------------------------------------------------


def test_streaming_quality_classifier_matches_batch(spark, tmp_path: Path) -> None:
    """Single availableNow batch: the stateful gate must emit exactly the
    batch q_quality_classifier census rows (per-doc scoring is the shared
    qc_scored pipeline; the census state is five integers per source)."""
    from data_ingestion_ex8_producer_spark.operators.textops import (
        q_quality_classifier,
    )
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_documents_fixture,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        quality_classifier_stream,
    )

    docs = stream_documents_fixture(spark, SF, str(tmp_path / "qc"))
    _run(quality_classifier_stream(docs), "stream_qc", "update")
    got = {
        (
            r["source"], r["n_docs"], r["n_keep"], r["keep_ppm"],
            r["avg_score"], r["min_score"], r["max_score"],
        )
        for r in spark.sql("SELECT * FROM stream_qc").collect()
    }
    want = {
        (
            r["source"], r["n_docs"], r["n_keep"], r["keep_ppm"],
            r["avg_score"], r["min_score"], r["max_score"],
        )
        for r in q_quality_classifier(spark, SF).collect()
    }
    assert got == want


def test_qc_state_split_batches_are_exactly_associative() -> None:
    """The five-integer census is the sufficient statistic: state and
    emission after any DOC-BOUNDARY batch split equal the single-batch
    run (an exploded doc's tokens always share a micro-batch — the
    documented contract), and the state is constant-size by construction
    (not merely bounded).  Per-doc folds here: doc1 [5,5] -> +5 keep;
    doc2 [-7] -> -7 drop; doc3 [0,0,1] -> 0 keep; doc4 [-1000] -> -1000
    drop; doc5 [3,4] -> +3 keep."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_qc

    def _b(rows):
        return pd.DataFrame(rows, columns=["doc_id", "w"])

    a = _b([(1, 5), (1, 5), (2, -7), (3, 0), (3, 0), (3, 1)])
    b = _b([(4, -1000), (5, 3), (5, 4)])
    split = _FakeState()
    list(_update_qc(("s",), iter([a]), split))
    out_split = pd.concat(_update_qc(("s",), iter([b]), split))
    single = _FakeState()
    out_single = pd.concat(
        _update_qc(("s",), iter([pd.concat([a, b], ignore_index=True)]), single)
    )
    assert split.get == single.get
    assert out_split.to_dict("records") == out_single.to_dict("records")
    row = out_single.iloc[0]
    # n=5, keep=3, sum=5-7+0-1000+3=-999: avg=((-999+5000)//5)-1000=-200
    assert (row["n_docs"], row["n_keep"], row["keep_ppm"]) == (5, 3, 600000)
    assert row["avg_score"] == -200
    assert (row["min_score"], row["max_score"]) == (-1000, 5)
    # Constant state: five scalars regardless of stream length.
    assert len(single.get) == 5


def test_qc_twin_chunk_straddling_doc_not_double_counted() -> None:
    """Within ONE invocation, applyInPandasWithState delivers a group's
    rows as multiple Arrow chunks (arrow.maxRecordsPerBatch, default 10k)
    whose boundaries are NOT doc-aligned.  A doc whose token rows
    straddle two chunks must be folded exactly once with its full score
    — per-chunk normalization would count it twice with partial scores.
    Here doc 3's rows [0, 0, 1] straddle the chunk boundary: the census
    must equal the doc-aligned single-chunk run from the associativity
    test (n=5, keep=3, avg=-200)."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.streaming.stateful import _update_qc

    def _b(rows):
        return pd.DataFrame(rows, columns=["doc_id", "w"])

    chunk1 = _b([(1, 5), (1, 5), (2, -7), (3, 0)])
    chunk2 = _b([(3, 0), (3, 1), (4, -1000), (5, 3), (5, 4)])
    st = _FakeState()
    out = pd.concat(_update_qc(("s",), iter([chunk1, chunk2]), st))
    row = out.iloc[0]
    assert (row["n_docs"], row["n_keep"], row["keep_ppm"]) == (5, 3, 600000)
    assert row["avg_score"] == -200
    assert (row["min_score"], row["max_score"]) == (-1000, 5)
    assert st.get == (5, 3, -999, -1000, 5)


@pytest.mark.slow
def test_qc_twin_chunk_straddling_end_to_end(spark, tmp_path: Path) -> None:
    """End-to-end chunk-straddling pin: with arrow.maxRecordsPerBatch=7
    every multi-token doc's weight rows straddle Arrow chunks inside
    applyInPandasWithState, and the gate must STILL reproduce the batch
    census row-for-row (the ADVICE r9 latent-bug scenario, forced at
    fixture scale instead of waiting for a >10k-token micro-batch)."""
    from data_ingestion_ex8_producer_spark.operators.textops import (
        q_quality_classifier,
    )
    from data_ingestion_ex8_producer_spark.streaming.events import (
        stream_documents_fixture,
    )
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        quality_classifier_stream,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        docs = stream_documents_fixture(spark, SF, str(tmp_path / "qc_chunk"))
        _run(quality_classifier_stream(docs), "stream_qc_chunk", "update")
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM stream_qc_chunk").collect()
        }
        want = {tuple(r) for r in q_quality_classifier(spark, SF).collect()}
    finally:
        spark.conf.set(key, prev)
    assert got == want


def test_streaming_quality_classifier_checkpoint_restart(
    spark, tmp_path: Path
) -> None:
    """Two-run checkpoint restart for the classifier gate: the
    five-integer census per source must survive a stream restart, so the
    LATEST emission per source across both runs equals the batch census
    over the full corpus — run 2 folds only its new docs into the
    restored counters."""
    import shutil

    from data_ingestion_ex8_producer_spark.operators.textops import (
        q_quality_classifier,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        quality_classifier_stream,
    )

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    docs = load_table(spark, SF, "documents")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    w1 = docs.filter(F.col("doc_id") % 2 == 0)
    w2 = docs.filter(F.col("doc_id") % 2 == 1)
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)
    schema = docs.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            quality_classifier_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()  # restart from the same checkpoint; only file b is new

    from pyspark.sql import Window

    emissions = spark.read.parquet(out)
    latest = Window.partitionBy("source").orderBy(F.col("epoch").desc())
    got = {
        (
            r["source"], r["n_docs"], r["n_keep"], r["keep_ppm"],
            r["avg_score"], r["min_score"], r["max_score"],
        )
        for r in emissions.withColumn(
            "rn", F.row_number().over(latest)
        ).filter(F.col("rn") == 1).collect()
    }
    want = {
        (
            r["source"], r["n_docs"], r["n_keep"], r["keep_ppm"],
            r["avg_score"], r["min_score"], r["max_score"],
        )
        for r in q_quality_classifier(spark, SF).collect()
    }
    assert got == want


def test_streaming_drift_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart for the drift monitor: the per-feature
    bucket histograms survive the restart, so the latest emission per
    feature across both runs equals the batch q_distribution_drift over
    the full data — run 2 folds only its new events into the restored
    histograms (exercising the r9 NULL-bucket-safe accumulation path on
    real data)."""
    import shutil

    from data_ingestion_ex8_producer_spark.operators.events import (
        q_distribution_drift,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        drift_monitor_stream,
    )

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    events = load_table(spark, SF, "events")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    # Split orthogonally to the drift monitor's own ref/cur time split so
    # BOTH runs touch both sides of every histogram.
    w1 = events.filter(F.col("event_id") % 2 == 0)
    w2 = events.filter(F.col("event_id") % 2 == 1)
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)
    schema = events.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            drift_monitor_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()  # restart from the same checkpoint; only file b is new

    from pyspark.sql import Window

    emissions = spark.read.parquet(out)
    latest = Window.partitionBy("feature").orderBy(F.col("epoch").desc())
    got = {
        (
            r["feature"], r["n_buckets"], r["n_ref"], r["n_cur"],
            r["tvd_num"], r["tvd_ppm"], r["drift_flag"], r["tvd"],
        )
        for r in emissions.withColumn(
            "rn", F.row_number().over(latest)
        ).filter(F.col("rn") == 1).collect()
    }
    want = {
        (
            r["feature"], r["n_buckets"], r["n_ref"], r["n_cur"],
            r["tvd_num"], r["tvd_ppm"], r["drift_flag"], r["tvd"],
        )
        for r in q_distribution_drift(spark, SF).collect()
    }
    assert got == want


def test_streaming_cusum_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart for the CUSUM regime monitor: the
    per-type day-count histogram survives the restart, so the latest
    emission per type across both runs equals a single-pass run over the
    full data (itself pinned against SQL above)."""
    import shutil

    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        cusum_regime_stream,
    )

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    events = load_table(spark, SF, "events")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    # Orthogonal to the day grid: both runs touch most day cells.
    w1 = events.filter(F.col("event_id") % 2 == 0)
    w2 = events.filter(F.col("event_id") % 2 == 1)
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)
    schema = events.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            cusum_regime_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()  # restart from the same checkpoint; only file b is new

    from pyspark.sql import Window

    emissions = spark.read.parquet(out)
    latest = Window.partitionBy("event_type").orderBy(F.col("epoch").desc())
    got = {
        (
            r["event_type"], r["n_days"], r["n_events"], r["peak_day"],
            r["peak_abs_cusum"], r["n_peak_days"],
        )
        for r in emissions.withColumn(
            "rn", F.row_number().over(latest)
        ).filter(F.col("rn") == 1).collect()
    }
    # Single-pass truth over the full data through the same operator.
    single_staging = tmp_path / "single"
    single_staging.mkdir()
    events.coalesce(1).write.parquet(str(tmp_path / "full"))
    shutil.copy(
        next(Path(str(tmp_path / "full")).glob("part-*.parquet")),
        single_staging / "all.parquet",
    )
    stream = spark.readStream.schema(schema).parquet(str(single_staging))
    _run(cusum_regime_stream(stream), "cusum_single_truth", "update")
    want = {
        (
            r["event_type"], r["n_days"], r["n_events"], r["peak_day"],
            r["peak_abs_cusum"], r["n_peak_days"],
        )
        for r in spark.sql("SELECT * FROM cusum_single_truth").collect()
    }
    assert got == want


def _two_run_restart(spark, tmp_path: Path, events, build_stream, out_mode="update"):
    """Shared two-run checkpoint-restart harness: time-ordered halves, one
    file each, same checkpoint; returns the emissions DataFrame with an
    `epoch` column."""
    import shutil

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    w1 = events.filter(F.col("ts") <= F.lit("2024-01-15"))
    w2 = events.filter(F.col("ts") > F.lit("2024-01-15"))
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)
    schema = events.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            build_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode(out_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()
    return spark.read.parquet(out)


def test_streaming_scd2_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run restart over a TIME-ordered split (SCD2 is order-sensitive
    by contract): the open-interval state survives the checkpoint and the
    latest emission per (user, version) across both runs equals the batch
    q_scd2_history over the full data."""
    from pyspark.sql import Window

    from data_ingestion_ex8_producer_spark.operators.events import q_scd2_history
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import scd2_stream

    events = load_table(spark, SF, "events")
    emissions = _two_run_restart(spark, tmp_path, events, scd2_stream)
    latest = Window.partitionBy("user_id", "version").orderBy(
        F.col("epoch").desc()
    )
    got = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in emissions.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .collect()
    }
    expected = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in q_scd2_history(spark, SF).collect()
    }
    assert got == expected


def test_streaming_seasonal_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run restart over a TIME-ordered split: the seasonal monitor's
    open cells + folded closed moments survive the checkpoint; since
    folding is exact, the latest per-(type, hod) summary across both runs
    equals the batch q_seasonal_hourly_anomaly over the full data."""
    from pyspark.sql import Window

    from data_ingestion_ex8_producer_spark.operators.events import (
        q_seasonal_hourly_anomaly,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        seasonal_anomaly_stream,
    )

    events = load_table(spark, SF, "events")
    emissions = _two_run_restart(spark, tmp_path, events, seasonal_anomaly_stream)
    latest = Window.partitionBy("event_type", "hod").orderBy(
        F.col("epoch").desc()
    )
    got = {
        (r["event_type"], r["hod"]): (
            r["n_cells"], r["mean_cnt"], r["std_cnt"],
            r["n_anomalies"], r["anomaly_share"],
        )
        for r in emissions.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .collect()
    }
    expected = {
        (r["event_type"], r["hod"]): (
            r["n_cells"], r["mean_cnt"], r["std_cnt"],
            r["n_anomalies"], r["anomaly_share"],
        )
        for r in q_seasonal_hourly_anomaly(spark, SF).collect()
    }
    assert got == expected


def test_streaming_token_budget_checkpoint_restart(spark, tmp_path: Path) -> None:
    """Two-run checkpoint restart for the token-budget gate: the gate is
    arrival-order-sensitive by contract, so the split must respect the
    batch spec's (hash48, doc_id) admission order — run 1 gets every doc
    BELOW the per-corpus hash median, run 2 the rest, making cross-run
    arrival order equal the batch hash order.  The one-BIGINT cumulative
    state survives the checkpoint and the union of both runs' append-mode
    emissions equals the batch q_token_budget_sample exactly."""
    import shutil

    from data_ingestion_ex8_producer_spark.functions.text import hash48
    from data_ingestion_ex8_producer_spark.operators.pipeline import (
        q_token_budget_sample,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        token_budget_gate_stream,
    )

    docs = load_table(spark, SF, "documents").withColumn(
        "_hk", hash48(F.col("doc_id").cast("string"))
    )
    median = docs.approxQuantile("_hk", [0.5], 0.0)[0]
    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    w1 = docs.filter(F.col("_hk") <= median).drop("_hk")
    w2 = docs.filter(F.col("_hk") > median).drop("_hk")
    assert w1.count() > 0 and w2.count() > 0
    w1.coalesce(1).write.parquet(half1)
    w2.coalesce(1).write.parquet(half2)
    schema = w1.schema
    budget = _budget_for(spark)

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(staging))

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)

        q = (
            token_budget_gate_stream(stream, budget)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    def _copy_part(src: str, name: str) -> None:
        part = next(Path(src).glob("part-*.parquet"))
        shutil.copy(part, staging / name)

    _copy_part(half1, "a.parquet")
    run_once()
    _copy_part(half2, "b.parquet")
    run_once()  # restart from the same checkpoint; only file b is new

    got = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_tokens"], r["kept"])
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_tokens"], r["kept"])
        for r in q_token_budget_sample(spark, SF).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# The 1e-2 value grid: stream twins round like the batch twins
# --------------------------------------------------------------------------

# Products that are exact halves (0.125 * 100 == 12.5, 0.005 * 100 == 0.5,
# 2.675 * 100 == 267.5 in doubles) and one just below a half
# (1.005 * 100 == 100.49999999999999).
_GRID_VALUES = [0.125, -0.125, 0.005, -0.005, 2.675, -2.675, 1.005, 0.0]


def test_stream_twins_quantize_like_batch_round(spark) -> None:
    """``_update_value_outliers`` and ``_update_robust`` put a value on the
    1e-2 grid exactly as the batch twins' ``round(value * 100)`` does (half
    away from zero); pandas ``round`` (half to even) and
    ``floor(x + 0.5)`` (half up) each disagree on the halves above."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.operators.events import _VO_Q2
    from data_ingestion_ex8_producer_spark.streaming.stateful import (
        _update_robust,
        _update_value_outliers,
    )

    want = [
        r["vq"]
        for r in spark.createDataFrame([(v,) for v in _GRID_VALUES], "value double")
        .select(F.round(F.col("value") * _VO_Q2).cast("long").alias("vq"))
        .collect()
    ]
    assert want[:4] == [13, -13, 1, -1]

    def one(update, v):
        st = _FakeState()
        list(update(("k",), iter([pd.DataFrame({"value": [v]})]), st))
        return st.get

    assert [one(_update_value_outliers, v)[1] for v in _GRID_VALUES] == want
    assert [one(_update_robust, v)[0] for v in _GRID_VALUES] == [[q] for q in want]
