"""Event-time windowing over the ``events`` table.  ``tumbling_counts``,
``session_values`` and ``ohlc_bars`` are the plans of three registered
builders as functions of an events frame; ``streaming/events.py`` applies
them unchanged to watermarked streams.  ``drift_buckets`` is
q_distribution_drift's projection, shared the same way with
``streaming/stateful.py``'s drift monitor.

``F.window`` / ``F.session_window`` work identically on batch DataFrames, so
the driver-scored batch results here pin the exact same grouping semantics the
streaming pipeline produces per micro-batch (SIGMOD'18 Structured Streaming
model: a streaming query result == the batch query over the prefix).

DuckDB oracles rebuild the windows arithmetically: tumbling/sliding via
``time_bucket`` (both engines align windows to the epoch), sessions via the
classic lag + gap-flag + cumulative-sum session-id construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import t


@register(
    "q_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    bench=True,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    return tumbling_counts(t(spark, sf_dir, "events"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """The q_tumbling_window plan over any events frame, batch or stream."""
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_sliding_window",
    oracle="""
    WITH slid AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
                 AS window_start,
               value
        FROM events
        CROSS JOIN (SELECT UNNEST([0, 1]) AS k)
    )
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM slid
    GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): every event lands in two
    overlapping windows.  The oracle expands each event into its two windows
    explicitly; Spark's window() does the same expansion internally."""
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        t(spark, sf_dir, "events")
        .groupBy(win)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_session,
               event_id
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 10-minute inactivity gap per user.  Spark's
    session_window end = last event + gap; the oracle reproduces that with the
    lag/cumsum sessionization idiom."""
    return session_values(t(spark, sf_dir, "events"))


def session_values(events: DataFrame) -> DataFrame:
    """The q_session_window plan over any events frame, batch or stream."""
    return (
        events.groupBy("user_id", F.session_window("ts", "10 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_event_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    """,
)
def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct over a projected key set — the batch twin of streaming
    dropDuplicates (which additionally bounds state with a watermark)."""
    return t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@register(
    "q_enrich_events",
    oracle="""
    SELECT n.n_name,
           e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, e.event_type
    ORDER BY n.n_name, e.event_type
    """,
)
def q_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment shape (events joined to dimension tables),
    run in batch: broadcast the dims, aggregate by enriched keys."""
    ev = t(spark, sf_dir, "events")
    cust = F.broadcast(t(spark, sf_dir, "customer"))
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .orderBy("n_name", "event_type")
    )


@register(
    "q_time_series_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
               CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM bounds
    ),
    actual AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT h.hour_start,
           COALESCE(a.n_events, 0) AS n_events,
           CAST(a.n_events IS NULL AS BOOLEAN) AS is_gap
    FROM hours h LEFT JOIN actual a ON h.hour_start = a.hour_start
    """,
)
def q_time_series_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a generated dense hour spine left-joined to
    the actual hourly counts, so silent empty hours become explicit zero
    rows.  The spine generation (sequence + explode of an aggregated
    min/max) is one tiny row exploded — no data-volume cost at any scale."""
    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_actual")
    )
    return hours.join(actual, "hour_start", "left").select(
        "hour_start",
        F.coalesce(F.col("n_actual"), F.lit(0)).alias("n_events"),
        F.col("n_actual").isNull().alias("is_gap"),
    )


@register(
    "q_session_window_dynamic",
    oracle="""
    WITH gapped AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN INTERVAL '30 minutes'
                    ELSE INTERVAL '10 minutes' END AS gap
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts >= MAX(ts + gap) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id
                                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                                            AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_session,
               ts + gap AS this_end
        FROM gapped
    ),
    numbered AS (
        SELECT user_id, ts, this_end,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(this_end) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC per-event gap (purchases hold the
    session open 30 min, everything else 10): sessions are the union of
    overlapping [ts, ts+gap) intervals.  The oracle reproduces interval-union
    semantics with a running-max window (new session iff the event starts at
    or after every previous interval's end)."""
    gap = F.when(F.col("event_type") == "purchase", "30 minutes").otherwise(
        "10 minutes"
    )
    win = F.session_window("ts", gap)
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id", win)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q_multi_grain_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                THEN CAST(date_trunc('hour', ts) AS TIMESTAMP) END AS hour_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    HAVING GROUPING(date_trunc('day', ts)) = 0
    """,
)
def q_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hourly AND daily aggregates
    of the event stream in ONE pass (ROLLUP over two time truncations;
    day-level subtotal rows carry NULL hour_start).  The continuous-aggregate
    pattern for time-series stores, expressed as a single Expand+aggregate."""
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    return (
        t(spark, sf_dir, "events")
        .rollup(day.alias("day_start"), hour.alias("hour_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .filter(F.col("day_start").isNotNull())
    )


# --------------------------------------------------------------------------
# Burst detection + per-user feature extraction
# --------------------------------------------------------------------------

_BURST_TRAIL = 6  # trailing observed hour-buckets in the baseline
_BURST_FACTOR = 2  # burst = count > FACTOR x trailing mean


@register(
    "q_event_burst_detection",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', ts) AS hour_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    trailed AS (
        SELECT event_type, hour_start, n_events,
               CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS trail_sum,
               CAST(COUNT(n_events) OVER w AS BIGINT) AS trail_n
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                     ROWS BETWEEN {_BURST_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_start, n_events, trail_sum, trail_n,
           (trail_n > 0 AND n_events * trail_n > {_BURST_FACTOR} * trail_sum)
             AS is_burst
    FROM trailed
    """,
)
def q_event_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-burst flags: an hour bucket is a burst when its event count
    exceeds 2x the mean of the trailing 6 OBSERVED buckets of
    the same event type (hours with zero events produce no bucket and are
    skipped by the frame — the documented semantics; q_event_burst_gapfilled
    below is the dense-spine variant where empty hours count as zeros).

    Exactness: the burst predicate is pure INTEGER arithmetic —
    ``count * trail_n > 2 * trail_sum`` instead of a floating
    count-vs-mean comparison — so the flag can never disagree across
    engines at the decision boundary.

    Scale shape: the hourly rollup is a map-side-combinable groupBy whose
    output is (event_types x hours) — time-bounded metadata, tiny relative
    to the event stream; the trailing frame then runs over that rollup, so
    the window shuffle is metadata-sized no matter how many raw events an
    hour contains.  (The same two-stage shape streams: tumbling agg +
    stateful comparison.)"""
    from pyspark.sql import Window

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "event_type",
            F.col("window.start").alias("hour_start"),
            "n_events",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-_BURST_TRAIL, -1)
    )
    trail_sum = F.coalesce(F.sum("n_events").over(w), F.lit(0)).cast("long")
    trail_n = F.count("n_events").over(w).cast("long")
    return hourly.select(
        "event_type",
        "hour_start",
        "n_events",
        trail_sum.alias("trail_sum"),
        trail_n.alias("trail_n"),
        (
            (trail_n > 0)
            & (F.col("n_events") * trail_n > _BURST_FACTOR * trail_sum)
        ).alias("is_burst"),
    )


@register(
    "q_event_burst_gapfilled",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
               CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type, h.hour_start,
               COALESCE(a.n_events, 0) AS n_events,
               CAST(a.n_events IS NULL AS BOOLEAN) AS is_gap
        FROM types t
        CROSS JOIN hours h
        LEFT JOIN hourly a
          ON a.event_type = t.event_type AND a.hour_start = h.hour_start
    ),
    trailed AS (
        SELECT event_type, hour_start, n_events, is_gap,
               CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS trail_sum,
               CAST(COUNT(n_events) OVER w AS BIGINT) AS trail_n
        FROM dense
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                     ROWS BETWEEN {_BURST_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_start, n_events, is_gap, trail_sum, trail_n,
           (trail_n > 0 AND n_events * trail_n > {_BURST_FACTOR} * trail_sum)
             AS is_burst
    FROM trailed
    """,
)
def q_event_burst_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over a GAP-FILLED hour spine — the variant an
    on-call alerting pipeline actually wants: q_event_burst_detection's
    trailing baseline skips empty hours entirely (its frame sees only
    observed buckets), so traffic resuming after a quiet night is compared
    against pre-quiet levels and looks normal.  Here every (event_type,
    hour) cell of the dense spine exists — empty hours count as
    zero-activity buckets that DRAG the trailing mean down — so a
    resumption spike is flagged, and gap rows themselves are marked
    (`is_gap`, the q_time_series_gapfill convention) for the silence-alert
    path.  Same integer-only burst predicate as the sparse variant
    (count * trail_n > 2 * trail_sum — no floating decision boundary).

    Scale shape: the spine is |event_types| x |hours| — generated metadata
    (one aggregated min/max row exploded, crossJoined against the distinct
    types, both broadcast-sized), NOT a scan product — left-joined to the
    same map-side-combinable hourly rollup the sparse variant uses; the
    trailing window again runs over bucket metadata, never raw events.
    The dense-spine trade-off at 100 TB: rollup output grows from observed
    to all cells, still time-bounded metadata (e.g. 10 types x 1 year =
    87.6k rows)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_start"
        )
    )
    types = ev.select("event_type").distinct()
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_actual"))
    dense = (
        types.crossJoin(hours)
        .join(hourly, ["event_type", "hour_start"], "left")
        .select(
            "event_type",
            "hour_start",
            F.coalesce(F.col("n_actual"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n_actual").isNull().alias("is_gap"),
        )
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


@register(
    "q_user_activity_features",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clicks,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_views,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS error_rate,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)
             AS avg_value,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_seconds
    FROM events
    GROUP BY user_id
    """,
)
def q_user_activity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector — the feature-extraction pass that
    turns a raw event stream into ML-model inputs: activity volume, type
    diversity, click/view counts, error rate, exact-decimal value totals,
    and first-to-last-event span.

    One shuffle on user_id with full map-side partial aggregation (every
    feature is an algebraic aggregate; COUNT(DISTINCT event_type) expands
    to the standard two-phase distinct-agg plan).  Value sums follow the
    module's exact-decimal discipline so the doubles hash identically on
    both engines."""
    e = t(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(12,4)")
    total_value = F.sum(val).cast("double")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n_clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_views"),
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("error_rate"),
        total_value.alias("total_value"),
        (total_value / F.count(F.lit(1))).alias("avg_value"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        )
        .cast("long")
        .alias("span_seconds"),
    )


_PATH_TOPN = 10


@register(
    "q_event_path_mining",
    oracle=f"""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events WHERE event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT event_type || '>' || e2 || '>' || e3 AS path,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, n_occurrences, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path) AS rk
          FROM paths)
    WHERE rk <= {_PATH_TOPN}
    """,
    bench=True,
)
def q_event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining: the 10 most common 3-step event-type paths across all
    users (consecutive events in each user's timeline, ordered by ts with
    event_id as the deterministic tie-break).  Where q_funnel checks ONE
    prescribed sequence, this discovers which sequences actually happen —
    the exploration step that decides which funnels are worth defining.

    Scale shape: one shuffle on user_id for the sequence window (the
    natural sessionization partitioning — skew equals the busiest user's
    event count, same exposure as every per-user window); the path rollup
    is a map-side-combinable groupBy over at most |event_types|^3 keys, and
    the final ranking window runs on that metadata-sized relation (<= 125
    rows here), so its single-partition sort is trivially bounded."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NULL-typed events are excluded BEFORE the window on both engines:
    # unguarded, Spark's concat_ws would silently skip a NULL first element
    # (counting a 2-step path as 3-step) while the oracle's || yields NULL
    # — the one place the two engines' concat semantics differ.
    seq = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
    )
    paths = (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    w_rank = Window.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return (
        paths.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= _PATH_TOPN)
        .select("path", "n_occurrences", "rk")
    )


@register(
    "q_event_transition_time",
    oracle="""
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER w AS to_type,
               CAST(date_diff('microsecond', ts, LEAD(ts) OVER w) AS BIGINT)
                 AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT from_type, to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000 AS mean_gap_sec
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transition_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition dwell-time matrix: for every (from_type, to_type) pair of
    consecutive events in a user's timeline, how often the transition
    happens and the mean seconds it takes — the weighted companion to
    q_event_path_mining (paths say WHICH journeys happen; this says how
    fast each hop is, the input to timeout/abandonment thresholds).

    Exactness: gaps are integer MICROSECOND differences summed as BIGINT
    (associative, order-free); the single closing division chain to mean
    seconds is identical on both engines.  Scale shape: one user_id window
    shuffle (shared with every per-user sequence op), then a
    |types|^2-key combinable rollup — metadata-sized output."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.lead("ts", 1).over(w)) - F.unix_micros(F.col("ts"))
    seq = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
        gap_us.alias("gap_us"),
    )
    return (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
            (
                F.sum("gap_us").cast("double")
                / F.count(F.lit(1))
                / F.lit(1_000_000.0)
            ).alias("mean_gap_sec"),
        )
    )


# --------------------------------------------------------------------------
# Shuffle-key skew diagnostics
# --------------------------------------------------------------------------

_SKEW_TOPN = 20


@register(
    "q_key_skew_profile",
    oracle=f"""
    WITH per_key AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(n_events) AS BIGINT) AS total_events,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM per_key
    )
    SELECT CAST(rk AS INTEGER) AS rk, user_id, n_events,
           CAST(n_events AS DOUBLE) / total_events AS share,
           CAST(n_events AS DOUBLE) * n_keys / total_events AS x_over_mean
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rk
        FROM per_key
    ) CROSS JOIN tot
    WHERE rk <= {_SKEW_TOPN}
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report for the stream's natural partitioning key:
    the 20 heaviest user_ids with their event count, corpus share, and
    multiple-over-mean — the diagnostic every operator in this module that
    shuffles on user_id (sessionization, path mining, activity features)
    is sized against, turned into a first-class query.  A pipeline runs
    this BEFORE choosing between plain hash partitioning, salting, and
    AQE skew-join handling; the x_over_mean column is exactly the factor
    by which the hottest task outweighs the average one.

    Exactness: counts are integers; share and x_over_mean are single IEEE
    divisions of exact integers (identical on both engines).

    Scale shape: one map-side-combinable groupBy(user_id) (the same
    shuffle being diagnosed — unavoidable and minimal), a 1-row total
    broadcast back over the top slice, and a global top-20 via
    WindowGroupLimit: each map task forwards at most 20 candidate keys,
    so the final single-partition ranking sees tasks x 20 rows of
    metadata, never the key population."""
    from pyspark.sql import Window

    per_key = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    tot = per_key.agg(
        F.sum("n_events").cast("long").alias("total_events"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        per_key.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SKEW_TOPN)
        .crossJoin(F.broadcast(tot))
        .select(
            "rk",
            "user_id",
            "n_events",
            (F.col("n_events").cast("double") / F.col("total_events")).alias(
                "share"
            ),
            (
                F.col("n_events").cast("double")
                * F.col("n_keys")
                / F.col("total_events")
            ).alias("x_over_mean"),
        )
    )


# --------------------------------------------------------------------------
# Last-touch attribution + time-weighted averages
# --------------------------------------------------------------------------


@register(
    "q_purchase_attribution",
    oracle="""
    WITH touched AS (
        SELECT event_type, value,
               COALESCE(
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   'direct') AS attributed_type
        FROM events
    )
    SELECT attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY attributed_type
    """,
)
def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch purchase attribution: every purchase's value is credited
    to the user's most recent PRECEDING non-purchase event type (purchases
    with no prior touch credit 'direct') — the marketing-attribution rollup
    behind conversion reporting, and the window idiom (last_value IGNORE
    NULLS over an unbounded-preceding frame) that one lag(1) cannot express
    when conversions arrive back-to-back.

    Exactness: attributed_value sums exact decimal casts (the _util
    doctrine), counts are integers.

    Scale shape: ONE shuffle on user_id (the sessionization key all
    sequence operators share; skew = busiest user, see
    q_key_skew_profile), then a map-side-combinable rollup to |types|+1
    rows of metadata."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        t(spark, sf_dir, "events")
        .withColumn("attributed_type", F.coalesce(touch, F.lit("direct")))
        .filter(F.col("event_type") == "purchase")
        .groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


_TWAP_Q4 = 10_000  # value quantization grid for the weighted sum


@register(
    "q_time_weighted_avg",
    oracle=f"""
    WITH gapped AS (
        SELECT event_type,
               CAST(round(value * {_TWAP_Q4}) AS BIGINT) AS vq,
               CAST(date_diff('second', ts,
                              LEAD(ts) OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id))
                    AS BIGINT) AS hold_sec
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(hold_sec) AS BIGINT) AS total_sec,
           CAST(SUM(vq * hold_sec) AS DOUBLE)
             / ({_TWAP_Q4} * SUM(hold_sec)) AS twap
    FROM gapped
    WHERE hold_sec IS NOT NULL AND hold_sec > 0
    GROUP BY event_type
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP): each observation
    is weighted by how long it 'held' — the seconds until the type's next
    event — so bursts of readings don't dominate the average the way they
    do a plain mean.  The standard downsampling statistic for irregular
    time series (sensor/price feeds).

    Exactness: values quantize to a 1e-4 BIGINT grid BEFORE weighting, so
    the weighted sum is pure integer arithmetic (|vq| <= ~3.3e6, hold_sec
    <= ~1e5 at this timeline, product <= ~3e11, far under BIGINT even
    summed over millions of intervals); the final division is one IEEE op
    on exact integers.  Zero-length holds (same-timestamp events) are
    excluded identically on both engines — they carry no time weight and
    would otherwise depend on intra-timestamp ordering.

    Scale shape: one shuffle on event_type for the lead window (|types|
    partitions — for a high-cardinality key this would be the per-key
    sessionization shuffle instead), then a combinable |types|-row
    rollup."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gapped = t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * _TWAP_Q4).cast("long").alias("vq"),
        (
            F.unix_timestamp(F.lead("ts", 1).over(w))
            - F.unix_timestamp(F.col("ts"))
        )
        .cast("long")
        .alias("hold_sec"),
    )
    return (
        gapped.filter(F.col("hold_sec").isNotNull() & (F.col("hold_sec") > 0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("hold_sec").cast("long").alias("total_sec"),
            (
                F.sum(F.col("vq") * F.col("hold_sec")).cast("double")
                / (F.lit(_TWAP_Q4) * F.sum("hold_sec"))
            ).alias("twap"),
        )
    )


@register(
    "q_ohlc_bars",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               ts, event_id, value
        FROM events
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM base
    )
    SELECT event_type, hour_start,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS volume
    FROM ranked
    GROUP BY event_type, hour_start
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the canonical downsampling of an
    irregular value series (open/high/low/close + activity count + exact
    volume), the compaction step feeding dashboards and coarse-grained
    models so they never rescan raw events.  Complements
    q_time_weighted_avg: TWAP weights by holding time, bars keep the
    boundary values.

    Exactness: open/close SELECT raw stored doubles (no arithmetic — the
    deterministic (ts, event_id) struct key makes first/last unambiguous
    even under same-timestamp events); high/low are pure comparisons;
    volume sums exact decimal casts (the _util doctrine); n_events is an
    integer.

    Scale shape: ONE map-side-combinable groupBy — min_by/max_by over the
    (ts, event_id) struct combine per-partition then merge, so the
    exchange carries (event_types x hours) metadata rows, never raw
    events; the oracle's window twin expresses the same semantics the
    declarative way DuckDB prefers.  At 100 TB the plan is the same
    partial-agg shape as every counter rollup here."""
    return ohlc_bars(t(spark, sf_dir, "events"))


def ohlc_bars(events: DataFrame) -> DataFrame:
    """The q_ohlc_bars plan over any events frame, batch or stream."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("hour_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )


# --------------------------------------------------------------------------
# Value-based anomaly report (z-score outliers from exact moment sums)
# --------------------------------------------------------------------------

_VO_Q2 = 100  # event values are 2-decimal; the 1e-2 grid is exact
_OUTLIER_Z_SQ = 9.0  # 3-sigma test, squared: (x - mean)^2 > 9 * var
_OUTLIER_MAD_K = 3  # robust test: |x - median| > 3 * MAD


@register(
    "q_value_outliers",
    oracle=f"""
    WITH vq AS (
        SELECT event_type, CAST(round(value * {_VO_Q2}) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    moments AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(vq) AS BIGINT) AS s,
               CAST(SUM(vq * vq) AS BIGINT) AS ss
        FROM vq GROUP BY event_type
    ),
    stats AS (
        SELECT event_type, n_events, s, ss,
               CAST(s AS DOUBLE) / n_events AS mean_q,
               greatest(CAST(ss AS DOUBLE) / n_events
                        - (CAST(s AS DOUBLE) / n_events)
                          * (CAST(s AS DOUBLE) / n_events), 0.0) AS var_q
        FROM moments
    )
    SELECT v.event_type, st.n_events,
           st.mean_q / {_VO_Q2} AS mean_value,
           sqrt(st.var_q) / {_VO_Q2} AS std_value,
           CAST(SUM(CASE WHEN (v.vq - st.mean_q) * (v.vq - st.mean_q)
                              > {_OUTLIER_Z_SQ} * st.var_q
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN (v.vq - st.mean_q) * (v.vq - st.mean_q)
                              > {_OUTLIER_Z_SQ} * st.var_q
                         THEN 1 ELSE 0 END) AS DOUBLE) / st.n_events
             AS outlier_share
    FROM vq v JOIN stats st ON st.event_type = v.event_type
    GROUP BY v.event_type, st.n_events, st.mean_q, st.var_q
    """,
)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based anomaly report per event type — the z-score complement
    of the count-based burst detectors: exact first/second moments of the
    2-decimal event values, then a 3-sigma outlier count and share (the
    monitoring row an on-call dashboard alerts on).

    Exactness doctrine: values quantize exactly to a 1e-2 BIGINT grid, so
    the moment sums are associative integers at any parallelism; mean and
    variance derive from those integers through IDENTICAL double
    expression trees on both engines (never an integer square of the
    corpus-sized sum — s*s in int64 would overflow at ~10x sf0.1, so the
    squaring happens in double); the outlier test compares
    (x - mean)^2 > 9*var in doubles that are bit-identical by
    construction, and a zero-variance type naturally reports zero
    outliers (0 > 0 is false) with no division anywhere.

    Scale shape: two map-side-combinable aggregates over the same narrow
    (event_type, vq) projection — the moments pass (|types| keys of three
    BIGINTs) and the flag pass re-scanning with the broadcast per-type
    stats joined in.  No window, no shuffle of raw events beyond the
    grouped sums; 100 TB of events is two metadata exchanges."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * _VO_Q2).cast("long").alias("vq"),
        )
    )
    moments = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vq").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).alias("ss"),
    )
    mean_q = F.col("s").cast("double") / F.col("n_events")
    var_q = F.greatest(
        F.col("ss").cast("double") / F.col("n_events") - mean_q * mean_q,
        F.lit(0.0),
    )
    stats = F.broadcast(
        moments.select(
            "event_type",
            "n_events",
            mean_q.alias("mean_q"),
            var_q.alias("var_q"),
        )
    )
    d = F.col("vq") - F.col("mean_q")
    is_out = (d * d > F.lit(_OUTLIER_Z_SQ) * F.col("var_q")).cast("long")
    return (
        ev.join(stats, "event_type")
        .groupBy("event_type", "n_events", "mean_q", "var_q")
        .agg(F.sum(is_out).cast("long").alias("n_outliers"))
        .select(
            "event_type",
            "n_events",
            (F.col("mean_q") / _VO_Q2).alias("mean_value"),
            (F.sqrt("var_q") / _VO_Q2).alias("std_value"),
            "n_outliers",
            (
                F.col("n_outliers").cast("double") / F.col("n_events")
            ).alias("outlier_share"),
        )
    )


# --------------------------------------------------------------------------
# DAU / WAU stickiness (trailing-window distinct engagement)
# --------------------------------------------------------------------------


@register(
    "q_dau_wau_stickiness",
    oracle="""
    WITH ev AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM ev),
    dau AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau FROM ev
        GROUP BY day
    ),
    wau AS (
        SELECT d.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
        FROM days d JOIN ev e
          ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY d.day
    )
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    """,
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the canonical engagement ratio: per active
    day, the distinct users that day over the distinct users of the
    trailing 7 days (inclusive), stickiness = DAU/WAU in (0, 1].

    The WAU side is the scale move: instead of a per-day 7-day-range
    self-join (each probe re-scanning a week of raw events), every
    (day, user) activity row EXPLODES into the <=7 report days it can
    influence — a bounded constant fan-out, the same trick as the
    trailing-window contribution pattern — then one distinct-aggregate
    per report day.  Rows fanned beyond the corpus's last active day are
    dropped by the semi-join back onto the observed-day set, exactly
    matching the oracle's day-range join.  Both sides count the same
    (day, user) sets, so the BIGINT counts and their double ratio are
    bit-identical.

    Scale shape: one narrow (day, user) projection; distinct-aggregates
    shuffle metadata-sized (day, user) keys; the observed-day set is a
    broadcast (bounded by the calendar).  No window function, no range
    join against raw events."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
        )
    )
    days = ev.select("day").distinct()
    dau = ev.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("dau")
    )
    fan = ev.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day"),
        "user_id",
    )
    wau = (
        fan.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# Seasonal (hour-of-day) rate-anomaly report
# --------------------------------------------------------------------------


@register(
    "q_seasonal_hourly_anomaly",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               date_trunc('day', ts) AS day,
               CAST(hour(ts) AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    mom AS (
        SELECT event_type, hod,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS ss
        FROM cells GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, hod, n_cells,
               CAST(s AS DOUBLE) / n_cells AS mean_q,
               greatest(CAST(ss AS DOUBLE) / n_cells
                        - (CAST(s AS DOUBLE) / n_cells)
                          * (CAST(s AS DOUBLE) / n_cells), 0.0) AS var_q
        FROM mom
    )
    SELECT c.event_type, c.hod, st.n_cells,
           st.mean_q AS mean_cnt,
           sqrt(st.var_q) AS std_cnt,
           CAST(SUM(CASE WHEN (CAST(c.x AS DOUBLE) - st.mean_q)
                              * (CAST(c.x AS DOUBLE) - st.mean_q)
                              > {_OUTLIER_Z_SQ} * st.var_q
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           CAST(SUM(CASE WHEN (CAST(c.x AS DOUBLE) - st.mean_q)
                              * (CAST(c.x AS DOUBLE) - st.mean_q)
                              > {_OUTLIER_Z_SQ} * st.var_q
                         THEN 1 ELSE 0 END) AS DOUBLE) / st.n_cells
             AS anomaly_share
    FROM cells c
    JOIN stats st ON st.event_type = c.event_type AND st.hod = c.hod
    GROUP BY c.event_type, c.hod, st.n_cells, st.mean_q, st.var_q
    """,
)
def q_seasonal_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal rate-anomaly report: for every (event_type, hour-of-day)
    slot, the baseline mean/std of the per-DAY event count in that slot,
    and how many days broke 3 sigma — the count-seasonality complement of
    q_value_outliers (value z-scores) and the burst detectors (absolute
    hourly thresholds).  This is the dashboard that distinguishes "9am is
    always busy" from "THIS 9am is anomalous": a flat global baseline
    alerts every diurnal peak; the hour-of-day baseline alerts deviations
    FROM the diurnal shape.

    Exactness doctrine (q_value_outliers' contract): the cell counts are
    exact integers, so the per-slot moment sums are associative BIGINTs at
    any parallelism; mean and variance derive through IDENTICAL double
    expression trees on both engines (the corpus-sized sum is never
    squared in int64 — the squaring happens in double); the anomaly test
    compares (x - mean)^2 > 9*var in bit-identical doubles, and a
    zero-variance slot reports zero anomalies (0 > 0 is false) with no
    division anywhere.  sqrt is IEEE-correctly-rounded on both engines.

    Scale shape: three map-side-combinable aggregates, each strictly
    smaller than the last — raw events -> (type, day, hod) cells (the only
    pass that touches the corpus; uniform composite key), cells ->
    (type, hod) moments (|types| x 24 rows of three BIGINTs), then the
    flag pass re-joins the TINY broadcast stats row back onto cells.
    Baseline is over OBSERVED (type, day) cells; composing the dense
    day-spine (q_event_burst_gapfilled's trick) would also score silent
    days — kept separate so each report stays one-pass."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    cells = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    mom = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    mean_q = F.col("s").cast("double") / F.col("n_cells")
    var_q = F.greatest(
        F.col("ss").cast("double") / F.col("n_cells") - mean_q * mean_q,
        F.lit(0.0),
    )
    stats = mom.select(
        "event_type", "hod", "n_cells",
        mean_q.alias("mean_q"), var_q.alias("var_q"),
    )
    dev2 = (F.col("x").cast("double") - F.col("mean_q")) * (
        F.col("x").cast("double") - F.col("mean_q")
    )
    is_anom = F.when(dev2 > F.lit(_OUTLIER_Z_SQ) * F.col("var_q"), 1).otherwise(0)
    return (
        cells.join(F.broadcast(stats), ["event_type", "hod"])
        .groupBy("event_type", "hod", "n_cells", "mean_q", "var_q")
        .agg(
            F.sum(is_anom).cast("long").alias("n_anomalies"),
            (F.sum(is_anom).cast("double") / F.col("n_cells").cast("double")).alias(
                "anomaly_share"
            ),
        )
        .select(
            "event_type", "hod", "n_cells",
            F.col("mean_q").alias("mean_cnt"),
            F.sqrt("var_q").alias("std_cnt"),
            "n_anomalies", "anomaly_share",
        )
    )


# --------------------------------------------------------------------------
# Exponential smoothing (EWMA) over the hourly rate series
# --------------------------------------------------------------------------

_EWMA_WINDOW = 16  # trailing hours; weight 2^-d at lag d (1-hour half-life).
_EWMA_WEIGHTS = tuple((d, 1 << (_EWMA_WINDOW - 1 - d)) for d in range(_EWMA_WINDOW))


@register(
    "q_ewma_hourly",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    w(d, wt) AS (
        VALUES {', '.join(f'({d}, {wt})' for d, wt in _EWMA_WEIGHTS)}
    ),
    contrib AS (
        SELECT c.event_type,
               c.hour_start + to_hours(w.d) AS hour_start,
               c.x * w.wt AS xw,
               CAST(w.wt AS BIGINT) AS wt
        FROM cells c CROSS JOIN w
    )
    SELECT o.event_type, o.hour_start, o.x,
           CAST(COUNT(*) AS BIGINT) AS n_window,
           CAST(SUM(k.xw) AS DOUBLE) / CAST(SUM(k.wt) AS DOUBLE) AS ewma
    FROM cells o
    JOIN contrib k
      ON k.event_type = o.event_type AND k.hour_start = o.hour_start
    GROUP BY o.event_type, o.hour_start, o.x
    """,
)
def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly event rate per
    type: each observed hour's count smoothed over the trailing 16 hours
    with weight 2^-lag (a 1-hour half-life), normalized by the weights of
    the OBSERVED contributors — the denoised rate line a monitoring
    dashboard plots under the raw counts (and the smoother the burst
    detectors' trailing-mean test approximates with a flat window).

    Exactness: the classic recursive EWMA (s_t = a*x_t + (1-a)*s_{{t-1}})
    is a sequential fold no parallel engine reproduces deterministically;
    this is the truncated-window form with POWER-OF-TWO integer weights —
    every contribution x*2^(15-lag) is an exact BIGINT, both sums are
    associative integer aggregates, and the final ewma is ONE IEEE
    division of exact integers.  Bit-identical at any parallelism, <0.002%
    of window mass truncated.

    Scale shape: the hourly rollup is the only pass over raw events; the
    16x fan-out rides a broadcast 16-row weight table (the q_dau_wau
    bounded-explode idiom — never a range self-join against the series),
    lands on the (type, target-hour) composite key, and the final join
    keeps only observed hours.  The cell relation feeds the fan-out and
    the observed-hour join, so it is persisted through the
    persist_tracked seam."""
    from ._util import persist_tracked

    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    cells = persist_tracked(
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour_start")
        ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = spark.createDataFrame(list(_EWMA_WEIGHTS), "d int, wt long")
    fan = cells.crossJoin(F.broadcast(w)).select(
        "event_type",
        F.expr("hour_start + make_interval(0, 0, 0, 0, d)").alias("hour_start"),
        (F.col("x") * F.col("wt")).alias("xw"),
        "wt",
    )
    return (
        cells.join(fan, ["event_type", "hour_start"])
        .groupBy("event_type", "hour_start", "x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_window"),
            (
                F.sum("xw").cast("double") / F.sum("wt").cast("double")
            ).alias("ewma"),
        )
    )


# --------------------------------------------------------------------------
# Activity islands (gaps-and-islands over the hourly spine)
# --------------------------------------------------------------------------


@register(
    "q_activity_islands",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    isl AS (
        SELECT event_type, hour_start, hidx, x,
               hidx - ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY hidx) AS grp
        FROM cells
    )
    SELECT event_type,
           MIN(hour_start) AS start_hour,
           MAX(hour_start) AS end_hour,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(x) AS BIGINT) AS n_events
    FROM isl GROUP BY event_type, grp
    """,
)
def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity islands per event type: maximal runs of CONSECUTIVE hours
    with at least one event, each emitted as (start, end, n_hours,
    n_events) — the gaps-and-islands pattern (the hidx - row_number
    grouping-key trick), the complement of the gap-filling operators:
    q_time_series_gapfill materializes the silence, this one summarizes
    the activity between silences (uptime stretches, burst episodes,
    sensor-online windows).

    Exactness: the island key hidx - ROW_NUMBER() is pure integer
    arithmetic on exact epoch-hour indexes (unix_micros div 3.6e9 ==
    DuckDB epoch_us // 3.6e9 — both exact BIGINT); all outputs are
    integer aggregates and min/max timestamps.

    Scale shape: one combinable hourly rollup over raw events (the only
    full-data pass), then a PER-TYPE window over the hourly cells — the
    partition is the event-type key and the series length is bounded by
    the calendar (8,760 cells/type/year), so no single partition ever
    scales with event volume — and a final combinable groupBy on (type,
    grp)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    cells = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
            "hidx"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("hidx")
    isl = cells.withColumn(
        "grp", F.col("hidx") - F.row_number().over(w)
    )
    return (
        isl.groupBy("event_type", "grp")
        .agg(
            F.min("hour_start").alias("start_hour"),
            F.max("hour_start").alias("end_hour"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("x").cast("long").alias("n_events"),
        )
        .drop("grp")
    )


# --------------------------------------------------------------------------
# SCD2 temporal history (change-data-capture -> type-2 dimension build)
# --------------------------------------------------------------------------


@register(
    "q_scd2_history",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL
    ),
    ch AS (
        SELECT user_id, event_type, ts, event_id FROM e
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS version,
           CAST(CASE WHEN LEAD(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM ch
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change stream — the
    warehouse primitive that turns an event log into a queryable temporal
    table: per user, collapse consecutive same-state events and emit one
    VERSIONED interval row per state change with [valid_from, valid_to)
    validity and an is_current flag (valid_to NULL = the open row).  The
    tracked attribute here is event_type (the user's last-seen activity
    state); any CDC attribute column drops into the same plan.

    Determinism: interval boundaries and versions are decided by the
    (ts, event_id) total order — a pure column ordering, no arithmetic —
    so both engines agree exactly, including on same-timestamp ties.

    Scale shape: one shuffle keyed by user_id, then three narrow window
    passes over each user's slice (lag to find change points, lead +
    row_number over the collapsed change rows).  Per-user history length
    bounds the partition — the standard SCD2 build shape; a 100 TB
    deployment runs the identical plan incrementally by windowing only
    users touched by the day's changes (the q_incremental_dedup
    convention) against their stored current rows."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.when(valid_to.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


# --------------------------------------------------------------------------
# Robust (median/MAD) outlier report — the heavy-tail-safe z-score twin
# --------------------------------------------------------------------------


@register(
    "q_robust_outliers",
    oracle=f"""
    WITH vq AS (
        SELECT event_type, CAST(round(value * {_VO_Q2}) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, vq,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vq) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM vq
    ),
    med AS (
        SELECT event_type, n AS n_events, vq AS medq
        FROM ranked WHERE rk = (n - 1) // 2 + 1
    ),
    dev AS (
        SELECT v.event_type, abs(v.vq - m.medq) AS dq
        FROM vq v JOIN med m ON m.event_type = v.event_type
    ),
    dranked AS (
        SELECT event_type, dq,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dq) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, dq AS madq
        FROM dranked WHERE rk = (n - 1) // 2 + 1
    )
    SELECT m.event_type, m.n_events,
           CAST(m.medq AS DOUBLE) / {_VO_Q2} AS median_value,
           CAST(a.madq AS DOUBLE) / {_VO_Q2} AS mad_value,
           CAST(SUM(CASE WHEN d.dq > {_OUTLIER_MAD_K} * a.madq THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(SUM(CASE WHEN d.dq > {_OUTLIER_MAD_K} * a.madq THEN 1 ELSE 0 END) AS DOUBLE)
             / m.n_events AS outlier_share
    FROM dev d
    JOIN med m ON m.event_type = d.event_type
    JOIN mad a ON a.event_type = d.event_type
    GROUP BY m.event_type, m.n_events, m.medq, a.madq
    """,
)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per event type: median and MAD (median
    absolute deviation) instead of mean and sigma, flagging values with
    |x - median| > 3*MAD — the heavy-tail-safe twin of q_value_outliers,
    whose mean/sigma are themselves dragged by the outliers they are
    supposed to find (one 1e6 spike inflates sigma enough to hide ten 1e3
    spikes; the median/MAD pair is breakdown-point-0.5 robust).

    Exactness: values sit on the same exact 1e-2 BIGINT grid as
    q_value_outliers; the median is a lower ORDER STATISTIC (the value at
    rank (n-1)//2 + 1 — a value FROM the data, identical on any engine,
    the q_emb_dim_quantiles doctrine), the MAD is the same order statistic
    over the integer deviations |vq - medq|, and the outlier test is the
    pure-integer comparison dq > 3*madq.  Class A end-to-end; the reported
    median/mad/share doubles are single divisions of those integers.  A
    constant-valued type has MAD 0 and the strict > flags nothing.

    Scale shape — median WITHOUT a global sort: the oracle ranks rows
    directly (fine at its scale), while the Spark side selects each order
    statistic from the per-type VALUE HISTOGRAM: groupBy (type, vq) counts
    (map-side combinable, bounded by value cardinality — the 1e-2 grid,
    not corpus volume), a cumulative window over that metadata-sized
    histogram, then min(vq | cum >= target rank).  The deviation pass
    repeats the trick against the broadcast medians.  100 TB of events is
    two histogram exchanges plus two broadcast-annotated scans; nothing
    fact-scale is ever sorted or windowed."""
    from pyspark.sql import Window

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * _VO_Q2).cast("long").alias("vq"),
        )
    )

    def _order_stat(rel: DataFrame, col: str, out: str) -> DataFrame:
        """Smallest value whose cumulative histogram count reaches the
        lower-median rank — one metadata-sized window over the histogram."""
        hist = rel.groupBy("event_type", col).agg(
            F.count(F.lit(1)).alias("c")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wn = Window.partitionBy("event_type")
        cum = hist.select(
            "event_type",
            F.col(col),
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(wn).alias("n"),
        )
        return (
            cum.filter(F.col("cum") >= F.expr("(n - 1) div 2 + 1"))
            .groupBy("event_type")
            .agg(
                F.min(col).alias(out),
                F.first("n").alias("n_events"),
            )
        )

    med = _order_stat(ev, "vq", "medq")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("vq") - F.col("medq")).alias("dq")
    )
    mad = _order_stat(dev, "dq", "madq").select("event_type", "madq")
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n_events", "medq", "madq")
        .agg(
            F.sum((F.col("dq") > _OUTLIER_MAD_K * F.col("madq")).cast("long"))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("medq").cast("double") / _VO_Q2).alias("median_value"),
            (F.col("madq").cast("double") / _VO_Q2).alias("mad_value"),
            "n_outliers",
            (
                F.col("n_outliers").cast("double") / F.col("n_events")
            ).alias("outlier_share"),
        )
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection over the daily event-rate series
# --------------------------------------------------------------------------


@register(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_events) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily
    ),
    c AS (
        SELECT day, n_events,
               CAST(SUM(n_events * (SELECT n_days FROM tot)
                        - (SELECT total FROM tot))
                    OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cusum_scaled
        FROM daily
    ),
    m AS (SELECT MAX(abs(cusum_scaled)) AS peak FROM c)
    SELECT c.day, c.n_events, c.cusum_scaled,
           CAST(CASE WHEN abs(c.cusum_scaled) = m.peak THEN 1 ELSE 0 END
                AS BIGINT) AS is_changepoint
    FROM c CROSS JOIN m
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over the daily event-count series: the
    classic cumulative-sum-of-residuals statistic (Page 1954) whose peak
    locates the most likely mean-shift day — the first dial an ingest
    monitor reads when a source's volume regime changes.  To stay exact,
    residuals are cleared of the division: with D observed days and N
    total events, the residual is ``n_d * D - N`` (BIGINT, sums to zero),
    so the CUSUM trace and its peak are pure integer arithmetic and the
    flagged argmax needs no tolerance (ties flag every peak day,
    deterministically on both engines).

    Scale shape: corpus volume is reduced by the map-side-combinable
    per-day groupBy; everything after — the running sum, the 1-row total
    and peak broadcasts — runs on the calendar-sized daily relation
    (thousands of rows at ANY corpus size), so the unpartitioned window
    is a deliberate, bounded single-task step, the same doctrine as the
    other daily rollups.  At 100 TB the plan is one aggregate shuffle
    plus metadata."""
    from pyspark.sql import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    tot = daily.agg(
        F.sum("n_events").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum_scaled",
            F.sum(F.col("n_events") * F.col("n_days") - F.col("total"))
            .over(w)
            .cast("long"),
        )
        .select("day", "n_events", "cusum_scaled")
    )
    m = c.agg(F.max(F.abs(F.col("cusum_scaled"))).alias("peak"))
    return c.crossJoin(F.broadcast(m)).select(
        "day",
        "n_events",
        "cusum_scaled",
        F.when(F.abs(F.col("cusum_scaled")) == F.col("peak"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_changepoint"),
    )


# --------------------------------------------------------------------------
# Daily-rate autocorrelation (lag 1..7)
# --------------------------------------------------------------------------

_AC_MAX_LAG = 7


@register(
    "q_daily_autocorr",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {_AC_MAX_LAG + 1})) AS lag),
    pair AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
    ),
    s AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pair GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS var_x,
           CAST(n * syy - sy * sy AS BIGINT) AS var_y,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                END AS r
    FROM s
    """,
)
def q_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 Pearson autocorrelation of the daily event-count series —
    the weekly-seasonality fingerprint (a lag-7 spike says "weekday
    pattern") read before configuring seasonal baselines like
    q_seasonal_hourly_anomaly.  Only observed-day pairs enter each lag
    (gap days drop out of the equi-join on day+lag, identically on both
    engines).

    Exactness: every moment (sx, sxx, sxy, ...) is a BIGINT sum over
    integer daily counts; the Pearson numerator/denominators are exact
    cleared-denominator BIGINTs, and the final r is a deterministic
    double expression of those integers (sqrt is correctly rounded in
    IEEE-754, so both engines compute bit-identical doubles from
    identical integers — FLOAT_QUALS Class A).  Overflow bound: sxx sums
    D * c_max^2; BIGINT holds daily counts up to ~10^6 over ~10^4 days
    with 10^3 headroom — a 100 TB deployment whose daily counts exceed
    that pre-scales counts (e.g. to thousands) or widens to
    DECIMAL(38,0), same doctrine as q_item_pmi_similarity.

    Scale shape: corpus volume dies at the per-day groupBy; the lag
    cross-product and self-join run on the calendar-sized daily relation
    (7 x days rows), broadcast-joinable at any corpus size."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lags = spark.range(1, _AC_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.crossJoin(lags).select(
        "lag", F.expr("date_add(day, CAST(lag AS INT))").alias("jday"), F.col("c").alias("x")
    )
    b = daily.select(F.col("day").alias("jday"), F.col("c").alias("y"))
    pair = a.join(b, "jday").select("lag", "x", "y")
    s = pair.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        cov.cast("long").alias("cov_num"),
        var_x.cast("long").alias("var_x"),
        var_y.cast("long").alias("var_y"),
        F.when(
            (var_x > 0) & (var_y > 0),
            cov.cast("double")
            / (F.sqrt(var_x.cast("double")) * F.sqrt(var_y.cast("double"))),
        ).alias("r"),
    )


# --------------------------------------------------------------------------
# Distribution drift monitor (total-variation distance between time slices)
# --------------------------------------------------------------------------

_DRIFT_SPLIT = "2024-01-15"  # ref = events before, cur = events at/after
# drift flag: TVD >= 0.05, tested as the integer cross-multiplication
# 10 * tvd_num >= N_ref * N_cur (tvd = num / (2 * N_ref * N_cur)).
_DRIFT_FLAG_X10 = 10

_SQL_DRIFT_FEATURES = (
    ("event_type", "event_type"),
    ("hour_of_day", "CAST(EXTRACT(hour FROM ts) AS VARCHAR)"),
    (
        "value_log2_centi",
        "CAST(length(bin(CAST(floor(value * 100) AS BIGINT))) - 1 AS VARCHAR)",
    ),
)


def _drift_oracle() -> str:
    selects = "\n        UNION ALL\n        ".join(
        f"SELECT '{name}' AS feature, {expr} AS bucket,\n"
        f"               CASE WHEN ts >= TIMESTAMP '{_DRIFT_SPLIT}'"
        f" THEN 1 ELSE 0 END AS is_cur FROM events"
        for name, expr in _SQL_DRIFT_FEATURES
    )
    return f"""
    WITH b AS (
        {selects}
    ),
    per_bucket AS (
        SELECT feature, bucket,
               SUM(1 - is_cur) AS nr, SUM(is_cur) AS nc
        FROM b GROUP BY 1, 2
    ),
    totals AS (
        SELECT feature, SUM(nr) AS n_ref, SUM(nc) AS n_cur
        FROM per_bucket GROUP BY 1
    )
    SELECT p.feature,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(t.n_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t.n_cur) AS BIGINT) AS n_cur,
           CAST(SUM(ABS(p.nr * t.n_cur - p.nc * t.n_ref)) AS BIGINT)
             AS tvd_num,
           CAST((1000000 * SUM(ABS(p.nr * t.n_cur - p.nc * t.n_ref)))
                // (2 * MAX(t.n_ref) * MAX(t.n_cur)) AS BIGINT) AS tvd_ppm,
           CAST(CASE WHEN {_DRIFT_FLAG_X10}
                          * SUM(ABS(p.nr * t.n_cur - p.nc * t.n_ref))
                     >= MAX(t.n_ref) * MAX(t.n_cur)
                     THEN 1 ELSE 0 END AS INTEGER) AS drift_flag,
           CAST(SUM(ABS(p.nr * t.n_cur - p.nc * t.n_ref)) AS DOUBLE)
             / (2 * MAX(t.n_ref) * MAX(t.n_cur)) AS tvd
    FROM per_bucket p JOIN totals t ON t.feature = p.feature
    GROUP BY p.feature
    """


@register(
    "q_distribution_drift",
    oracle=_drift_oracle(),
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-distribution drift between two time slices — the data-drift
    monitor in front of every production model and curation pipeline: for
    three event features (type, hour-of-day, integer-log2 value bucket),
    the total-variation distance between the reference window (before
    2024-01-15) and the current window, with a >= 0.05 drift flag.

    TVD instead of the usual PSI/KL on purpose: PSI needs ln(p/q), a
    transcendental no cross-engine contract covers, while TVD =
    1/2 * sum |p_i - q_i| clears denominators into the exact BIGINT
    cross-multiplication |nr_i * N_cur - nc_i * N_ref| — the flag and the
    ppm value are Class A integers, and TVD bounds every f-divergence-
    based alarm anyway (Pinsker's inequality).  The one DOUBLE is a single
    division of exact integers (Class B, reported only).

    Shape: one scan emits (feature, bucket, is_cur) rows
    (``drift_buckets``, which the streaming twin shares — still
    scan-stage, no join); buckets are bounded domains (catalog / 24 hours
    / ~16 log2 decades), so the groupBy is map-side-combinable into a
    metadata-sized relation and everything after is arithmetic on <= ~50
    rows.  At 100 TB the cross-multiplied
    BIGINT form holds while slice counts stay < ~3e9 (the product must fit
    int64); beyond that the same identity runs in DECIMAL(38,0) — still
    exact — or on per-million-scaled counts."""
    # r11-opt: the per-bucket census — |features| x |buckets| rows of
    # metadata — persists because both the totals and the deviation join
    # consume it.
    from ..operators._util import persist_tracked

    b = drift_buckets(t(spark, sf_dir, "events"))
    per_bucket = persist_tracked(
        b.groupBy("feature", "bucket").agg(
            F.sum(F.lit(1) - F.col("is_cur")).alias("nr"),
            F.sum("is_cur").alias("nc"),
        )
    )
    totals = per_bucket.groupBy("feature").agg(
        F.sum("nr").alias("n_ref"), F.sum("nc").alias("n_cur")
    )
    j = per_bucket.join(F.broadcast(totals), "feature")
    dev = F.abs(F.col("nr") * F.col("n_cur") - F.col("nc") * F.col("n_ref"))
    return (
        j.groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.sum(dev).cast("long").alias("tvd_num"),
        )
        .select(
            "feature",
            "n_buckets",
            "n_ref",
            "n_cur",
            "tvd_num",
            F.expr(
                "(1000000 * tvd_num) div (2 * n_ref * n_cur)"
            ).cast("long").alias("tvd_ppm"),
            F.when(
                _DRIFT_FLAG_X10 * F.col("tvd_num")
                >= F.col("n_ref") * F.col("n_cur"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("drift_flag"),
            (
                F.col("tvd_num").cast("double")
                / (F.lit(2) * F.col("n_ref") * F.col("n_cur"))
            ).alias("tvd"),
        )
    )


def drift_buckets(events: DataFrame) -> DataFrame:
    """The q_distribution_drift projection over any events frame, batch or
    stream: one (feature, bucket, is_cur) row per event and feature, the
    three feature arms exploded from one scan (a per-arm unionByName would
    scan the events three times)."""
    is_cur = F.when(
        F.col("ts") >= F.lit(_DRIFT_SPLIT).cast("timestamp"), 1
    ).otherwise(0)
    arm_structs = F.array(
        F.struct(
            F.lit("event_type").alias("feature"),
            F.col("event_type").alias("bucket"),
        ),
        F.struct(
            F.lit("hour_of_day").alias("feature"),
            F.hour("ts").cast("string").alias("bucket"),
        ),
        F.struct(
            F.lit("value_log2_centi").alias("feature"),
            (
                F.length(F.bin(F.floor(F.col("value") * 100).cast("long"))) - 1
            )
            .cast("string")
            .alias("bucket"),
        ),
    )
    return events.select(
        F.explode(arm_structs).alias("e"), is_cur.alias("is_cur")
    ).select("e.feature", "e.bucket", "is_cur")
