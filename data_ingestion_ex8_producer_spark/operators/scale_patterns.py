"""Scale-pattern operators: plans written the way they must be written at
100 TB — salted two-phase aggregation for skewed keys, exact percentiles,
positional explode, and the array-function battery.

The salted variants return IDENTICAL results to their naive forms (the
oracle is the plain SQL), so the pattern's correctness is driver-verified,
not just asserted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import sql_hash48
from ..plans.registry import register
from ._util import persist_tracked, t

_SALT_BUCKETS = 16


@register(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a LOW-cardinality (hence maximally
    skewed) key: phase 1 aggregates on (key, salt) spreading each hot key
    over 16 reducers, phase 2 merges the partials.  Result is identical to
    the naive groupBy (the oracle IS the naive query); only the shuffle
    distribution differs.  Every aggregate here must be decomposable
    (count->sum, sum->sum, max->max)."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "__salt", (F.crc32(F.col("l_orderkey").cast("string")) % _SALT_BUCKETS)
    )
    partial = (
        li.groupBy("l_returnflag", "__salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("l_quantity").cast("decimal(12,4)")).alias("pq"),
            F.max("l_extendedprice").alias("pm"),
        )
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n_rows"),
            F.sum("pq").cast("double").alias("sum_qty"),
            F.max("pm").alias("max_price"),
        )
    )


@register(
    "q_salted_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
               AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderstatus
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted (hot-key-replicated) join: the fact side gets a deterministic
    salt derived from its row identity, the dimension side is exploded once
    per salt bucket, and the join key becomes (key, salt) — spreading any
    single hot customer over 16 reducers.

    The oracle is the PLAIN join: salting is a physical rewrite that must be
    invisible in the result, and the correctness gate proves exactly that.
    This is the manual fallback for skew Spark's AQE skew-join can't fix —
    a single key too hot for any one reducer even after AQE splitting (AQE
    splits partitions, but one key lives in one partition per join).  At
    100 TB the salt count scales with the hottest key's row share, and only
    hot keys (found via approx freq) get salted — salting everything, as
    here, is the didactic worst case."""
    salts = 16
    fact = t(spark, sf_dir, "orders").withColumn(
        "__salt_f", (F.crc32(F.col("o_orderkey").cast("string")) % salts).cast("int")
    )
    dim = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("__salt_d", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
        .withColumn("__salt_d", F.col("__salt_d").cast("int"))
    )
    return (
        fact.join(
            dim,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("__salt_f") == F.col("__salt_d")),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.sum(F.col("o_totalprice").cast("decimal(12,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "q_percentiles",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont: both linearly interpolate on the sorted values, and the
    interpolation arithmetic is IEEE-identical for identical inputs).
    At scale prefer approx_percentile (KLL/GK sketch, one pass, mergeable) —
    engine-specific output, so the exact form carries the oracle."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_posexplode",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, len(ts))) AS INTEGER) AS pos,
           unnest(ts) AS token
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
          FROM documents WHERE doc_id < 20) d
    """,
)
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token stream with 0-based positions (oracle zips a
    parallel range() unnest — DuckDB 1.0 has no WITH ORDINALITY)."""
    from ..functions.text import tokens

    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(tokens()).alias("pos", "token"))
    )


@register(
    "q_array_funcs",
    oracle="""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
                  FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           ts[1] AS first_token,
           ts[len(ts)] AS last_token,
           CAST(len(ts) AS INTEGER) AS n_tokens,
           array_to_string(list_sort(ts[1:5]), '-') AS head_sorted,
           list_contains(ts, 'data') AS has_data,
           CAST(nullif(list_position(ts, 'the'), 0) AS INTEGER) AS first_the,
           array_to_string(ts[1:3], '-') AS head_joined,
           array_to_string(list_reverse(ts[1:3]), '-') AS head_reversed
    FROM toks
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: indexing, slice, sort, containment, position,
    join, reverse — all Catalyst array expressions.  Both engines return 0
    for a missing element's position; normalized to NULL on both sides.
    The sorted/reversed heads are PROJECTED to '-'-joined strings (the
    repo's canonical-scalar rule for driver-scored output: the driver's
    pandas comparator cannot sort rows on raw array columns — the guard
    is test_priority_specs_scalar_output); the array expressions still
    execute JVM-side, only the final projection is scalar."""
    from ..functions.text import tokens

    ts = tokens()
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.element_at(ts, 1).alias("first_token"),
            F.element_at(ts, -1).alias("last_token"),
            F.size(ts).alias("n_tokens"),
            F.array_join(F.sort_array(F.slice(ts, 1, 5)), "-").alias("head_sorted"),
            F.array_contains(ts, "data").alias("has_data"),
            F.nullif(F.array_position(ts, "the").cast("int"), F.lit(0)).alias("first_the"),
            F.array_join(F.slice(ts, 1, 3), "-").alias("head_joined"),
            F.array_join(F.reverse(F.slice(ts, 1, 3)), "-").alias("head_reversed"),
        )
    )


@register(
    "q_approx_percentile",
    oracle=None,  # sketch (GK/KLL) results are engine-specific; rows-only
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the one-pass mergeable-sketch quantile — the scale
    path q_percentiles' exact form replaces at 100 TB (exact percentile
    needs a full sort per group).  The three quantiles are projected to
    scalar double columns (p50/p90/p99) per the canonical-scalar rule for
    driver-scored output — the rows-only driver check still canonicalizes
    the frame through pandas, which cannot sort on an array column."""
    q = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            q.getItem(0).alias("p50"),
            q.getItem(1).alias("p90"),
            q.getItem(2).alias("p99"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Time-bucketed proximity self-join (the band-join scale pattern)
# --------------------------------------------------------------------------

_PROX_WINDOW_US = 300_000_000  # +/- 5 minutes, exact integer microseconds


@register(
    "q_event_proximity_pairs",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) AS t_us
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT a.user_id,
           a.event_id AS event_id_a,
           b.event_id AS event_id_b,
           a.event_type AS type_a,
           b.event_type AS type_b,
           CAST(b.t_us - a.t_us AS BIGINT) AS dt_us
    FROM e a JOIN e b
      ON b.user_id = a.user_id
     AND b.event_id > a.event_id
     AND abs(b.t_us - a.t_us) <= {_PROX_WINDOW_US}
    """,
)
def q_event_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal proximity self-join: all same-user event pairs within
    +/- 5 minutes — the primitive behind co-occurrence mining, duplicate-
    click detection, and cross-device stitching.  The oracle states the
    intent as a naive theta self-join (|dt| <= w), which no engine can
    hash; the builder runs the TIME-BUCKETED BAND JOIN every production
    stream processor uses instead: bucket = epoch_us div w, each left row
    probes buckets {{b-1, b, b+1}}, so the join is a plain EQUI-join on
    (user_id, bucket) and the theta predicate only ever evaluates on
    candidates from adjacent 5-minute cells.  Each qualifying pair
    matches on exactly ONE probe bucket (b's own), so no dedup step is
    needed.  All arithmetic is exact BIGINT microseconds (unix_micros ==
    DuckDB epoch_us; the signed dt is reported raw — never floor-divided,
    where the two engines' negative-division conventions differ).

    Scale shape: candidate volume is bounded by per-(user, 5-min-cell)
    density — 3 cells per probe — instead of per-user history squared;
    the equi-join shuffles on the uniform (user_id, bucket) composite
    key.  A user parked in one hot cell is the q_key_skew_profile
    surveillance case, and the remedy (salt the hot cell) composes with
    q_salted_join's pattern above."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("t_us"),
        )
        .withColumn("bucket", F.expr(f"t_us div {_PROX_WINDOW_US}"))
    )
    probes = e.select(
        F.col("user_id"),
        F.col("event_id").alias("event_id_a"),
        F.col("event_type").alias("type_a"),
        F.col("t_us").alias("t_us_a"),
        F.explode(
            F.array(
                F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
            )
        ).alias("bucket"),
    )
    right = e.select(
        "user_id",
        "bucket",
        F.col("event_id").alias("event_id_b"),
        F.col("event_type").alias("type_b"),
        F.col("t_us").alias("t_us_b"),
    )
    return (
        probes.join(right, ["user_id", "bucket"])
        .filter(
            (F.col("event_id_b") > F.col("event_id_a"))
            & (
                F.abs(F.col("t_us_b") - F.col("t_us_a"))
                <= F.lit(_PROX_WINDOW_US)
            )
        )
        .select(
            "user_id",
            "event_id_a",
            "event_id_b",
            "type_a",
            "type_b",
            (F.col("t_us_b") - F.col("t_us_a")).cast("long").alias("dt_us"),
        )
    )


# --------------------------------------------------------------------------
# Z-order (Morton) layout cells — the multi-dimensional clustering key
# --------------------------------------------------------------------------

_Z_BITS = 16  # bits kept per dimension
_Z_CELL_SHIFT = 16  # keep the top 16 bits of the 32-bit Morton key


def _sql_morton(x: str, y: str) -> str:
    """DuckDB expression interleaving the low 16 bits of x (even bit
    positions) and y (odd positions) into a 32-bit Morton key."""
    terms = []
    # CAST to BIGINT: DuckDB's << on INTEGER overflows at shift 31.
    for i in range(_Z_BITS):
        terms.append(f"(((CAST({x} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({y} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _morton(x, y):
    """Spark twin of :func:`_sql_morton` (same unrolled arithmetic)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1
        )
    return z


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH k AS (
        SELECT (o_custkey & 65535) AS x,
               (date_diff('day', DATE '1992-01-01', o_orderdate) & 65535)
                 AS y
        FROM orders
    ),
    z AS (
        SELECT x, y,
               {_sql_morton('x', 'y')} >> {_Z_CELL_SHIFT} AS zcell
        FROM k
    )
    SELECT CAST(zcell AS BIGINT) AS zcell,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(x) AS BIGINT) AS min_cust,
           CAST(MAX(x) AS BIGINT) AS max_cust,
           CAST(MIN(y) AS BIGINT) AS min_day,
           CAST(MAX(y) AS BIGINT) AS max_day,
           CAST(MAX(x) - MIN(x) + 1 AS BIGINT) AS cust_span,
           CAST(MAX(y) - MIN(y) + 1 AS BIGINT) AS day_span
    FROM z GROUP BY zcell
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering cells over orders(custkey, orderdate) —
    the multi-dimensional data-layout key behind Delta/Iceberg OPTIMIZE
    ZORDER (Morton 1966): interleaving the two dimensions' bits makes
    z-contiguous cells compact in BOTH dimensions at once, so per-file
    min/max indexes prune selective filters on EITHER column.  The report
    is exactly what a table optimizer reads: per 16-bit z-cell (a 256 x 256-wide
    macro-grid over custkey x order-day), the row count and both
    dimensions' min/max spans — narrow spans = effective file skipping.
    A date-linear layout would show day_span ~ 1 but cust_span ~ the whole
    customer domain; z-cells bound both.

    Exactness: the Morton key is 32 unrolled shift/mask/add terms,
    generated from ONE Python loop into both engines' expressions —
    pure BIGINT, no float anywhere (FLOAT_QUALS Class A by
    construction).

    Scale shape: a scan-stage integer projection (whole-stage codegen,
    no join, no explode) into a map-side-combinable groupBy on a <= 65536
    key domain.  At 100 TB this same key feeds
    ``repartitionByRange(zcell, zkey)`` before the write — the layout
    pass is one shuffle; THIS report stays a single metadata-sized
    aggregate at any corpus size."""
    k = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").bitwiseAND(F.lit(65535)).alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .bitwiseAND(F.lit(65535))
        .alias("y"),
    )
    z = k.select(
        "x",
        "y",
        F.shiftright(_morton(F.col("x"), F.col("y")), _Z_CELL_SHIFT).alias("zcell"),
    )
    return z.groupBy("zcell").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("x").cast("long").alias("min_cust"),
        F.max("x").cast("long").alias("max_cust"),
        F.min("y").cast("long").alias("min_day"),
        F.max("y").cast("long").alias("max_day"),
        (F.max("x") - F.min("x") + 1).cast("long").alias("cust_span"),
        (F.max("y") - F.min("y") + 1).cast("long").alias("day_span"),
    )


# --------------------------------------------------------------------------
# Zone-map (min/max) file skipping: measuring what a layout actually buys
# --------------------------------------------------------------------------
#
# q_zorder_layout reports the cell geometry of a Morton layout; THIS spec
# closes the loop by measuring the quantity the optimizer cares about —
# how many files a selective predicate can SKIP under each physical
# layout, using exactly the parquet/Delta/Iceberg zone-map rule: a file is
# scanned iff [min, max] of the predicate column intersects the predicate
# range.  Three layouts of the same lineitem rows into fixed 512-row
# files (natural insertion order, single-column shipdate sort, Morton
# z-order over suppkey x ship-day) are evaluated against two predicates
# (a one-month date band and a supplier point lookup).  The expected
# pattern — and what the report proves on real data — is: the single-sort
# layout prunes its own column near-perfectly and the other column not at
# all; z-order prunes BOTH well; natural order prunes (almost) nothing.
#
# Two z-order variants are measured because the difference IS the lesson:
# "zorder" interleaves the RAW values, and ship-day's 12 significant bits
# drown suppkey's 7 (the curve degenerates toward a date sort — measured
# ~88% scan on the supplier probe); "zorder_ranked" first maps ship-day to
# its 256-bucket RANK (the published Delta OPTIMIZE ZORDER recipe:
# interleave range-partition ids, not raw values) so both dimensions
# contribute balanced bits and both predicates prune.

_ZM_FILE_ROWS = 512
_ZM_EPOCH = "1992-01-01"
_ZM_DATE_LO = 2343  # 1998-06-01 as days since epoch
_ZM_DATE_HI = 2372  # 1998-06-30
_ZM_SUPP = 17

# layout name -> SQL ORDER BY over the projected columns (sk, d, okey, lnum);
# the Spark twin sorts the same expressions.
_ZM_LAYOUTS = (
    ("natural", "okey, lnum"),
    ("shipdate_sorted", "d, okey, lnum"),
    ("zorder", f"{_sql_morton('sk', 'd')}, okey, lnum"),
    ("zorder_ranked", f"{_sql_morton('sk', 'db')}, okey, lnum"),
)


_ZM_SAMPLE_TARGET = 8192  # the sampled advisor holds ~this many rows ...
_ZM_SAMPLE_FILE_ROWS = 64  # ... in small files, at ANY corpus size:
# mod = max(1, n div TARGET) is exact on both engines, so the sample —
# and every rank/sort/groupBy past the scan — is constant-size while
# only the hash-filter scan itself stays linear in the data.


def _zm_oracle(sampled: bool = False, file_rows: int = _ZM_FILE_ROWS) -> str:
    sample_where = ""
    if sampled:
        h = sql_hash48(
            "('zs:' || CAST(l_orderkey AS VARCHAR) || ':'"
            " || CAST(l_linenumber AS VARCHAR))"
        )
        mod = (
            "GREATEST(1, (SELECT COUNT(*) FROM lineitem)"
            f" // {_ZM_SAMPLE_TARGET})"
        )
        sample_where = f"WHERE ({h} % {mod}) = 0"
    per_layout = []
    for name, order in _ZM_LAYOUTS:
        per_layout.append(f"""
    f_{name} AS (
        SELECT ((ROW_NUMBER() OVER (ORDER BY {order}) - 1)
                  // {file_rows}) AS file_id,
               sk, d
        FROM base
    ),
    z_{name} AS (
        SELECT file_id, COUNT(*) AS n_rows,
               MIN(sk) AS sk_lo, MAX(sk) AS sk_hi,
               MIN(d) AS d_lo, MAX(d) AS d_hi,
               SUM(CASE WHEN d BETWEEN {_ZM_DATE_LO} AND {_ZM_DATE_HI}
                        THEN 1 ELSE 0 END) AS m_date,
               SUM(CASE WHEN sk = {_ZM_SUPP} THEN 1 ELSE 0 END) AS m_supp
        FROM f_{name} GROUP BY file_id
    ),
    r_{name} AS (
        SELECT '{name}' AS layout, 'date_band' AS predicate,
               COUNT(*) AS n_files,
               SUM(CASE WHEN d_lo <= {_ZM_DATE_HI} AND d_hi >= {_ZM_DATE_LO}
                        THEN 1 ELSE 0 END) AS files_scanned,
               SUM(CASE WHEN d_lo <= {_ZM_DATE_HI} AND d_hi >= {_ZM_DATE_LO}
                        THEN n_rows ELSE 0 END) AS rows_scanned,
               SUM(m_date) AS rows_matching
        FROM z_{name}
        UNION ALL
        SELECT '{name}', 'supp_point',
               COUNT(*),
               SUM(CASE WHEN sk_lo <= {_ZM_SUPP} AND sk_hi >= {_ZM_SUPP}
                        THEN 1 ELSE 0 END),
               SUM(CASE WHEN sk_lo <= {_ZM_SUPP} AND sk_hi >= {_ZM_SUPP}
                        THEN n_rows ELSE 0 END),
               SUM(m_supp)
        FROM z_{name}
    )""")
    unions = "\n    UNION ALL\n    ".join(f"SELECT * FROM r_{name}" for name, _ in _ZM_LAYOUTS)
    return f"""
    WITH base0 AS (
        SELECT l_orderkey AS okey, l_linenumber AS lnum,
               (l_suppkey & 65535) AS sk,
               (date_diff('day', DATE '{_ZM_EPOCH}', l_shipdate) & 65535) AS d
        FROM lineitem
        {sample_where}
    ),
    base AS (
        SELECT *, ((ROW_NUMBER() OVER (ORDER BY d, okey, lnum) - 1) * 256
                     // COUNT(*) OVER ()) AS db
        FROM base0
    ),{','.join(per_layout)}
    SELECT layout, predicate,
           CAST(n_files AS BIGINT) AS n_files,
           CAST(files_scanned AS BIGINT) AS files_scanned,
           CAST(rows_scanned AS BIGINT) AS rows_scanned,
           CAST(rows_matching AS BIGINT) AS rows_matching,
           CAST(files_scanned AS DOUBLE) / n_files AS scan_fraction
    FROM ({unions})
    """


def _zonemap_eval(
    spark: SparkSession,
    sf_dir: str,
    sampled: bool = False,
    file_rows: int = _ZM_FILE_ROWS,
) -> DataFrame:
    """Shared zone-map layout evaluator; ``sampled`` keeps a deterministic
    ~``_ZM_SAMPLE_TARGET``-row hash-sample of lineitem (mod = max(1,
    n div target), exact on both engines) so everything past the scan is
    constant-size at any corpus scale; ``file_rows`` sets the file grain."""
    from ..functions.text import hash48
    from .analytics_ext import _rfm_rank_two_phase

    li = t(spark, sf_dir, "lineitem")
    base0 = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.col("l_suppkey").bitwiseAND(F.lit(65535)).alias("sk"),
        F.datediff(F.col("l_shipdate"), F.lit(_ZM_EPOCH))
        .bitwiseAND(F.lit(65535))
        .alias("d"),
    )
    if sampled:
        # One exact scalar count (parquet-footer-served) sizes the sample
        # modulus — the documented quantizer-lifecycle collect pattern.
        mod = max(1, li.count() // _ZM_SAMPLE_TARGET)
        base0 = base0.filter(
            hash48(
                F.concat(
                    F.lit("zs:"),
                    F.col("okey").cast("string"),
                    F.lit(":"),
                    F.col("lnum").cast("string"),
                )
            )
            % mod
            == 0
        )
    # db = 256-bucket rank of d — the oracle's single ROW_NUMBER over
    # (d, okey, lnum), built two-phase: d is the bucket (calendar-bounded
    # domain), the global rank is offset + within-day row_number.
    n_total = base0.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    base = (
        _rfm_rank_two_phase(
            base0, "d", False, [F.col("okey"), F.col("lnum")], "_drank"
        )
        .crossJoin(F.broadcast(n_total))
        .withColumn("db", F.expr("((_drank - 1) * 256) div _n"))
        .drop("_drank", "_n")
    )
    # The 8 output rows each trigger their own action; persist the narrow
    # 4-int projection (and each layout's bounded file-stats relation
    # below) so the scan + rank-bucket pipeline runs once, not 8x.
    base = persist_tracked(base)
    # (bucket expression, within-bucket order) per layout; bucket coarsens
    # the layout's own leading sort key so cross-bucket order == total order.
    layouts = {
        "natural": (
            F.shiftright(F.col("okey"), 8),
            [F.col("okey"), F.col("lnum")],
        ),
        "shipdate_sorted": (F.col("d"), [F.col("okey"), F.col("lnum")]),
        "zorder": (
            F.shiftright(_morton(F.col("sk"), F.col("d")), 12),
            [
                _morton(F.col("sk"), F.col("d")),
                F.col("okey"),
                F.col("lnum"),
            ],
        ),
        "zorder_ranked": (
            F.shiftright(_morton(F.col("sk"), F.col("db")), 12),
            [
                _morton(F.col("sk"), F.col("db")),
                F.col("okey"),
                F.col("lnum"),
            ],
        ),
    }
    out = None
    for name, _sql_order in _ZM_LAYOUTS:
        bucket_expr, within = layouts[name]
        ranked = _rfm_rank_two_phase(
            base.withColumn("_bk", bucket_expr), "_bk", False, within, "_rank"
        )
        files = persist_tracked(
            ranked.withColumn(
                "file_id", F.expr(f"(_rank - 1) div {file_rows}")
            )
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("sk").alias("sk_lo"),
                F.max("sk").alias("sk_hi"),
                F.min("d").alias("d_lo"),
                F.max("d").alias("d_hi"),
                F.sum(
                    F.when(
                        F.col("d").between(_ZM_DATE_LO, _ZM_DATE_HI), 1
                    ).otherwise(0)
                ).alias("m_date"),
                F.sum(
                    F.when(F.col("sk") == _ZM_SUPP, 1).otherwise(0)
                ).alias("m_supp"),
            )
        )
        date_kept = (F.col("d_lo") <= _ZM_DATE_HI) & (F.col("d_hi") >= _ZM_DATE_LO)
        supp_kept = (F.col("sk_lo") <= _ZM_SUPP) & (F.col("sk_hi") >= _ZM_SUPP)
        for pred, kept, mcol in (
            ("date_band", date_kept, "m_date"),
            ("supp_point", supp_kept, "m_supp"),
        ):
            row = files.agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("files_scanned"),
                F.sum(F.when(kept, F.col("n_rows")).otherwise(0))
                .cast("long")
                .alias("rows_scanned"),
                F.sum(mcol).cast("long").alias("rows_matching"),
            ).select(
                F.lit(name).alias("layout"),
                F.lit(pred).alias("predicate"),
                "n_files",
                "files_scanned",
                "rows_scanned",
                "rows_matching",
                (F.col("files_scanned").cast("double") / F.col("n_files")).alias(
                    "scan_fraction"
                ),
            )
            out = row if out is None else out.unionByName(row)
    return out


@register(
    "q_zonemap_skipping",
    oracle=_zm_oracle(),
)
def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping effectiveness under four physical layouts
    (see module comment — incl. the raw-vs-rank-bucketed z-order lesson):
    per (layout, predicate), how many 512-row files the parquet min/max
    rule scans and how many rows those files hold.

    Exactness: day offsets and supplier keys are BIGINT; the Morton key is
    the same unrolled integer expression as q_zorder_layout; ROW_NUMBER
    total orders are unique tuples — Class A end-to-end (the one DOUBLE,
    scan_fraction, is a single division of two exact integers).

    Scale shape: every global rank here — the oracle's plain ROW_NUMBER —
    runs as the two-phase distributed form (_rfm_rank_two_phase: bucket
    counts -> broadcast cumulative offsets -> within-bucket row_number),
    with the bucket a coarse prefix of each layout's own sort key (the
    ship-day for the date sort, the Morton key's top bits for the
    z-orders), so no layout ever moves the relation to one partition; the
    file_id groupBy is map-side-combinable and the report is a 2-row
    aggregate per layout.  At 100 TB you run this ONCE on a sample to pick
    the layout before paying for the full rewrite — the measurement is
    the deliverable (and ``q_zonemap_skipping_sampled`` IS that sampled
    mode, registered below)."""
    return _zonemap_eval(spark, sf_dir)


@register(
    "q_zonemap_skipping_sampled",
    oracle=_zm_oracle(sampled=True, file_rows=_ZM_SAMPLE_FILE_ROWS),
)
def q_zonemap_skipping_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout advisor the docstring above tells you to run at 100 TB:
    the SAME four-layout zone-map evaluation over a deterministic
    ~8192-row hash-sample of lineitem (48-bit md5 of (okey, lnum) with
    modulus max(1, n div 8192) — exact and identical on both engines, no
    RNG) in 64-row files, so the sampled corpus keeps enough files
    (~128) for the scan FRACTIONS to estimate the full layouts' while
    every rank/sort/groupBy past the scan is constant-size at any corpus
    volume.

    Why this exists (VERDICT r8 #4): the full evaluator prices four
    fact-scale two-phase rank+sort pipelines and is deliberately the most
    expensive report in the repo (54.8x at 100x data); here only the
    hash-filter SCAN is linear in the data — the advisor's curve should
    flatten toward the scan cost (measured in SCALING_100X.md) while the
    full form remains the oracle-checked ground truth."""
    return _zonemap_eval(
        spark, sf_dir, sampled=True, file_rows=_ZM_SAMPLE_FILE_ROWS
    )


# --------------------------------------------------------------------------
# Bloom-filter semi-join prefilter: the runtime-filter dial, measured
# --------------------------------------------------------------------------
#
# Spark's runtime row-level Bloom join filter
# (spark.sql.optimizer.runtime.bloomFilter.enabled) injects exactly this
# plan shape adaptively: hash the selective build side's join keys into a
# bit set, broadcast it, and drop probe rows whose bits miss BEFORE the
# shuffle.  Whether it pays at 100 TB depends on two numbers this spec
# measures on the actual workload: the probe-side reduction ratio and the
# false-positive rate at the chosen (m, h) sizing.  The filter here is
# m = 2^17 bits, h = 2 md5-derived hash functions, represented not as a
# bitmap but as the RELATION of set bit positions (<= 2x|build keys| rows,
# bounded by m) — which broadcasts like any dimension and keeps the whole
# op declarative: membership tests are two semi-joins Catalyst can reorder
# and push, not an opaque UDF.

_BLOOM_M = 1 << 17
_BLOOM_DATE_LO = "1998-01-01"
_BLOOM_DATE_HI = "1998-03-31"


def _bloom_oracle() -> str:
    h1 = f"({sql_hash48('CAST(o_orderkey AS VARCHAR)')} % {_BLOOM_M})"
    h2 = f"({sql_hash48(chr(39) + 'b:' + chr(39) + ' || CAST(o_orderkey AS VARCHAR)')} % {_BLOOM_M})"
    p1 = f"({sql_hash48('CAST(l_orderkey AS VARCHAR)')} % {_BLOOM_M})"
    p2 = f"({sql_hash48(chr(39) + 'b:' + chr(39) + ' || CAST(l_orderkey AS VARCHAR)')} % {_BLOOM_M})"
    return f"""
    WITH build AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate BETWEEN DATE '{_BLOOM_DATE_LO}'
                              AND DATE '{_BLOOM_DATE_HI}'
    ),
    bits AS (
        SELECT DISTINCT b FROM (
            SELECT {h1} AS b FROM build
            UNION ALL
            SELECT {h2} AS b FROM build
        )
    ),
    probe AS (
        SELECT l_orderkey,
               CASE WHEN {p1} IN (SELECT b FROM bits)
                     AND {p2} IN (SELECT b FROM bits)
                    THEN 1 ELSE 0 END AS bloom_pass,
               CASE WHEN l_orderkey IN (SELECT o_orderkey FROM build)
                    THEN 1 ELSE 0 END AS true_match
        FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build_keys,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(SUM(bloom_pass) AS BIGINT) AS n_pass,
           CAST(SUM(true_match) AS BIGINT) AS n_true,
           CAST(SUM(bloom_pass) - SUM(true_match) AS BIGINT) AS n_false_pos,
           CAST(SUM(bloom_pass) - SUM(true_match) AS DOUBLE)
             / (COUNT(*) - SUM(true_match)) AS fpr,
           CAST(COUNT(*) - SUM(bloom_pass) AS DOUBLE) / COUNT(*)
             AS reduction
    FROM probe
    """


@register(
    "q_bloom_join_prefilter",
    oracle=_bloom_oracle(),
)
def q_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join prefilter measurement (see module comment): build a
    2^17-bit / 2-hash Bloom over the orderkeys of one selective orders
    quarter, probe every lineitem row, and report the numbers that decide
    whether the runtime filter pays — probe count, pass count, true
    matches, false positives, FPR, and the pre-shuffle reduction ratio.

    Exactness: bit positions are hash48 % m — BIGINT everywhere; the Bloom
    verdict per row is two integer set-membership tests, so the whole
    report is Class A (the two doubles are single divisions of exact
    counts).  Plan shape: the bits relation is bounded by m and broadcasts;
    the probe pass is scan-stage (two broadcast-hash semi-join probes, no
    shuffle of lineitem); the report is a one-row aggregate.  At 100 TB the
    measured trade generalizes: reduction ~ build selectivity, FPR ~ the
    (m, h) curve — measured at sf0.01: 96.3% of probe rows dropped
    pre-shuffle, FPR 1.7e-5 (540 build keys in 131k bits; resize m with
    |build| to hold the curve)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    build = orders.filter(
        F.col("o_orderdate").between(_BLOOM_DATE_LO, _BLOOM_DATE_HI)
    ).select("o_orderkey")

    def _h(col: Column, salt: str) -> Column:
        from ..functions.text import hash48

        key = F.concat(F.lit(salt), col.cast("string"))
        return hash48(key) % _BLOOM_M

    # Both hash lanes explode from ONE reference to the build-side scan —
    # the unionAll form re-scanned the filtered orders once per lane
    # (r11-opt; identical bit set).
    bits = (
        build.select(
            F.explode(
                F.array(
                    _h(F.col("o_orderkey"), ""),
                    _h(F.col("o_orderkey"), "b:"),
                )
            ).alias("b")
        )
        .distinct()
    )
    probe = li.select(
        "l_orderkey",
        _h(F.col("l_orderkey"), "").alias("p1"),
        _h(F.col("l_orderkey"), "b:").alias("p2"),
    )
    passed = (
        probe.join(F.broadcast(bits), probe.p1 == bits.b, "left_semi")
        .join(F.broadcast(bits), F.col("p2") == bits.b, "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pass"))
    )
    true_m = (
        li.join(F.broadcast(build), li.l_orderkey == build.o_orderkey, "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    )
    totals = li.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))
    nb = build.agg(F.count(F.lit(1)).cast("long").alias("n_build_keys"))
    nbits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    row = (
        totals.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nbits))
        .crossJoin(F.broadcast(passed))
        .crossJoin(F.broadcast(true_m))
    )
    return row.select(
        "n_probe",
        "n_build_keys",
        "n_bits_set",
        "n_pass",
        "n_true",
        (F.col("n_pass") - F.col("n_true")).cast("long").alias("n_false_pos"),
        (
            (F.col("n_pass") - F.col("n_true")).cast("double")
            / (F.col("n_probe") - F.col("n_true"))
        ).alias("fpr"),
        (
            (F.col("n_probe") - F.col("n_pass")).cast("double")
            / F.col("n_probe")
        ).alias("reduction"),
    )


# --------------------------------------------------------------------------
# Small-file compaction planner (OPTIMIZE bin-packing, per partition)
# --------------------------------------------------------------------------
#
# The small-files problem is the other half of the layout story
# (q_zonemap_skipping measures WHAT to sort; this measures WHEN to
# compact): a daily-ingested partition accumulates one small file per day,
# and every query pays per-file open/footer/scheduling overhead.  The
# planner implements what Delta/Iceberg OPTIMIZE (without ZORDER) does —
# coalesce ADJACENT files within a partition into target-size outputs,
# never across partition boundaries — and reports the before/after file
# census per partition, which is exactly the signal a table-maintenance
# scheduler thresholds on.

_CP_TARGET_ROWS = 512
_CP_SMALL = _CP_TARGET_ROWS // 2  # a file under half target is "small"


@register(
    "q_compaction_plan",
    oracle=f"""
    WITH days AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT *, SUM(n_rows) OVER (PARTITION BY month ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM days
    ),
    bins AS (
        SELECT month, ((cum - n_rows) // {_CP_TARGET_ROWS}) AS bin,
               SUM(n_rows) AS bin_rows
        FROM cum GROUP BY 1, 2
    ),
    before AS (
        SELECT month, COUNT(*) AS n_files_before,
               SUM(CASE WHEN n_rows < {_CP_SMALL} THEN 1 ELSE 0 END)
                 AS small_before,
               SUM(n_rows) AS n_rows
        FROM days GROUP BY 1
    ),
    after AS (
        SELECT month, COUNT(*) AS n_files_after,
               SUM(CASE WHEN bin_rows < {_CP_SMALL} THEN 1 ELSE 0 END)
                 AS small_after
        FROM bins GROUP BY 1
    )
    SELECT b.month,
           CAST(b.n_rows AS BIGINT) AS n_rows,
           CAST(b.n_files_before AS BIGINT) AS n_files_before,
           CAST(a.n_files_after AS BIGINT) AS n_files_after,
           CAST(b.small_before AS BIGINT) AS small_before,
           CAST(a.small_after AS BIGINT) AS small_after,
           CAST(a.n_files_after AS DOUBLE) / b.n_files_before
             AS file_ratio
    FROM before b JOIN after a ON a.month = b.month
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition small-file compaction plan (see module comment):
    month-partitioned daily files coalesced into 512-row (target)
    outputs by the within-partition prefix-sum bin rule; reports the
    before/after file and small-file census per month.

    Exactness: file sizes, cumulative sums, bin ids, and censuses are all
    BIGINT; the day ordering within a month is unique — Class A (the one
    DOUBLE is a single division of exact counts).

    Shape: the file catalog (one row per (month, day)) comes from one
    map-side-combinable groupBy; the prefix sum runs per month — windows
    over PARTITION BY month are the already-parallel two-phase shape, no
    global sort anywhere; the report is two bounded rollups.  At 100 TB
    the catalog is the Delta/Iceberg metadata table (files, not row
    groups) — millions of rows, not corpus-sized — and the SAME plan
    assigns the rewrite's output file ids."""
    li = t(spark, sf_dir, "lineitem")
    days = (
        li.select(
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .groupBy("month", "day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("month")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = days.withColumn("cum", F.sum("n_rows").over(w))
    bins = (
        cum.withColumn(
            "bin", F.expr(f"(cum - n_rows) div {_CP_TARGET_ROWS}")
        )
        .groupBy("month", "bin")
        .agg(F.sum("n_rows").alias("bin_rows"))
    )
    before = days.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_files_before"),
        F.sum(F.when(F.col("n_rows") < _CP_SMALL, 1).otherwise(0))
        .cast("long")
        .alias("small_before"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    )
    after = bins.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_files_after"),
        F.sum(F.when(F.col("bin_rows") < _CP_SMALL, 1).otherwise(0))
        .cast("long")
        .alias("small_after"),
    )
    return before.join(after, "month").select(
        "month",
        "n_rows",
        "n_files_before",
        "n_files_after",
        "small_before",
        "small_after",
        (
            F.col("n_files_after").cast("double") / F.col("n_files_before")
        ).alias("file_ratio"),
    )


# --------------------------------------------------------------------------
# Partition-pruning advisor: the layout dial BEFORE zone-maps
# --------------------------------------------------------------------------
#
# Directory-level partitioning (the hive/Delta/Iceberg partition column)
# is the coarsest and cheapest pruning layer — chosen once, it decides
# how much of 100 TB a partition-aligned predicate ever LISTS, before
# zone-maps (q_zonemap_skipping) see a single footer.  Choosing it badly
# is also the classic way to melt a metastore (too many tiny partitions)
# or to prune nothing (too few).  This report measures, for each
# candidate partition key, the three numbers the decision needs: grain
# (how many partitions, rows per partition min/avg/max), balance (the
# max-to-uniform skew ratio — hot partitions straggle), and the payoff
# (partitions + rows a representative aligned predicate scans).

_PP_CANDIDATES = (
    # name, table, partition-key SQL, partition-key predicate SQL
    (
        "orders BY month(o_orderdate)",
        "orders",
        "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)",
        "pkey BETWEEN 199801 AND 199803",
    ),
    (
        "lineitem BY l_returnflag",
        "lineitem",
        "CAST(CAST(ascii(l_returnflag) AS BIGINT) AS BIGINT)",
        "pkey = ascii('R')",
    ),
    (
        "customer BY c_nationkey",
        "customer",
        "CAST(c_nationkey AS BIGINT)",
        "pkey = 7",
    ),
)


def _pp_oracle() -> str:
    arms = []
    for name, tbl, pkey, pred in _PP_CANDIDATES:
        arms.append(f"""
        SELECT '{name}' AS candidate,
               CAST(COUNT(*) AS BIGINT) AS n_partitions,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(MIN(c) AS BIGINT) AS min_part_rows,
               CAST(MAX(c) AS BIGINT) AS max_part_rows,
               CAST(SUM(c) // COUNT(*) AS BIGINT) AS avg_part_rows,
               CAST((MAX(c) * COUNT(*) * 100) // SUM(c) AS BIGINT)
                 AS skew_x100,
               CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
                 AS parts_scanned,
               CAST(SUM(CASE WHEN {pred} THEN c ELSE 0 END) AS BIGINT)
                 AS rows_scanned,
               CAST((SUM(CASE WHEN {pred} THEN c ELSE 0 END) * 1000000)
                    // SUM(c) AS BIGINT) AS scan_ppm
        FROM (SELECT {pkey} AS pkey, COUNT(*) AS c FROM {tbl} GROUP BY 1)""")
    return " UNION ALL ".join(arms)


@register(
    "q_partition_pruning_report",
    oracle=_pp_oracle(),
)
def q_partition_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key advisor (see block comment): per candidate key, the
    partition count, per-partition row stats, the max-to-uniform skew
    ratio (x100 — 100 is perfectly balanced), and how many partitions /
    rows / ppm of the table a representative partition-aligned predicate
    scans.  Read together: month(o_orderdate) gives real pruning at
    moderate grain; l_returnflag gives 3 giant partitions and ~1/3 scans
    (a bad partition key, measured); c_nationkey prunes hard but at
    dimension scale only.

    Shape: one map-side-combinable groupBy per candidate into a bounded
    partition-census relation (|partitions| rows), then a one-row
    aggregate over it; predicates are evaluated on the partition KEY, as
    directory pruning itself does.  All columns BIGINT (Class A)."""
    out = None
    for name, tbl, _pkey_sql, _pred_sql in _PP_CANDIDATES:
        if tbl == "orders":
            pkey = (
                F.year("o_orderdate") * 100 + F.month("o_orderdate")
            ).cast("long")
            pred = F.col("pkey").between(199801, 199803)
        elif tbl == "lineitem":
            pkey = F.ascii(F.col("l_returnflag")).cast("long")
            pred = F.col("pkey") == F.ascii(F.lit("R"))
        else:
            pkey = F.col("c_nationkey").cast("long")
            pred = F.col("pkey") == 7
        parts = (
            t(spark, sf_dir, tbl)
            .groupBy(pkey.alias("pkey"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        row = parts.agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("c").cast("long").alias("n_rows"),
            F.min("c").cast("long").alias("min_part_rows"),
            F.max("c").cast("long").alias("max_part_rows"),
            F.expr("sum(c) div count(*)").cast("long").alias("avg_part_rows"),
            F.expr("(max(c) * count(*) * 100) div sum(c)")
            .cast("long")
            .alias("skew_x100"),
            F.sum(F.when(pred, 1).otherwise(0))
            .cast("long")
            .alias("parts_scanned"),
            F.sum(F.when(pred, F.col("c")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
        )
        row = row.select(
            F.lit(name).alias("candidate"),
            "n_partitions",
            "n_rows",
            "min_part_rows",
            "max_part_rows",
            "avg_part_rows",
            "skew_x100",
            "parts_scanned",
            "rows_scanned",
            F.expr("(rows_scanned * 1000000) div n_rows")
            .cast("long")
            .alias("scan_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out
