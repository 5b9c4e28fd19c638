"""Driver-contract queries: core relational + stats operators (SURVEY §2).

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
The oracle SQL runs on DuckDB against the same parquet views, so every
query is written for *bit-stable cross-engine equality*:

- big SUMs go through DECIMAL casts (exact arithmetic, order-insensitive)
  instead of float sums whose low bits depend on partitioning;
- skewness/kurtosis in the oracle use explicit population-moment formulas
  (DuckDB's built-ins are sample-corrected; Spark's are population);
- floats are rounded on both sides; counts/keys stay exact;
- every computed column is aliased identically on both sides.

These queries double as the operator regression suite over the driver's
TPC-H-ish tables; the domain (raster/variogram) semantics are exercised
on these tables too by mapping (event_id → grid coords), with the real
geospatial fixtures covered in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from error_analysis_spark.functions import scalars as SC
from error_analysis_spark.operators import stats as ST
from error_analysis_spark.sources.tables import load_table


def _dec(col, scale: int = 4):
    """Exact-arithmetic cast for order-insensitive sums."""
    return col.cast(f"decimal(30,{scale})")


# --------------------------------------------------------------------------
# Q01 — flagship pricing summary (A1-family grouped agg; TPC-H Q1 shape)
# --------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The 2-/3-factor product sums are fixed-pointed to 1e-6 per row
    # BEFORE summing (bigint sums are order-independent and exact).
    # Pure-decimal products are NOT portable here: DECIMAL(30,4)³
    # overflows 38 digits (engine-specific rounding, last-ulp
    # sum_charge drift that surfaces only at some scale factors) and
    # DuckDB's narrower decimal multiply overflows int64 internally.
    # Each double op below is IEEE correctly-rounded with the same
    # parenthesization in the oracle SQL, so the fixed-point codes are
    # bit-identical across engines. The codes are summed as
    # DECIMAL(38,0) (Spark) ≙ HUGEINT (DuckDB): per-row codes fit
    # int64, but their per-group SUM crosses 2⁶³ near SF≈160 — the
    # 128-bit accumulator keeps the sum exact to ~SF 10¹².
    disc_dbl = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge_dbl = disc_dbl * (1 + F.col("l_tax"))
    disc = F.round(disc_dbl * 1e6).cast("decimal(38,0)")
    charge = F.round(charge_dbl * 1e6).cast("decimal(38,0)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            (F.sum(disc).cast("double") / 1e6).alias("sum_disc_price"),
            (F.sum(charge).cast("double") / 1e6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q03_DATE = "1995-03-15"
_Q03_SEG = "BUILDING"
_Q03_K = 10


def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority join: customer (segment filter)
    ⋈ orders (date filter) ⋈ lineitem (date filter) → top-10 orders by
    discounted revenue.

    Declarative three-table join: filters sit on each scan (pushed to
    parquet), the plan is left to Catalyst/AQE — at sf0.1 the filtered
    customer side broadcasts automatically; at cluster scale AQE picks
    a shuffle join and handles skew. Revenue is fixed-pointed per row
    (1e-6) before the 128-bit sum, so the top-10 ordering is exact and
    the tie-break (revenue desc, o_orderkey asc) is total. The final
    top-k is a TakeOrderedAndProject, never a full sort."""
    cust = (load_table(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == _Q03_SEG)
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < F.lit(_Q03_DATE))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > F.lit(_Q03_DATE))
          .select("l_orderkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    return (orders
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey", "o_orderdate")
            .agg((F.sum("_rev").cast("double") / 1e6).alias("revenue"))
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"), "revenue")
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(_Q03_K))


Q03_SQL = f"""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{_Q03_SEG}'
  AND CAST(o_orderdate AS DATE) < DATE '{_Q03_DATE}'
  AND CAST(l_shipdate AS DATE) > DATE '{_Q03_DATE}'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT {_Q03_K}
"""


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS sum_disc_price,
       CAST(sum(CAST(round(((l_extendedprice * (1 - l_discount))
                            * (1 + l_tax)) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# A1 — full descriptive-stats block (stable_unstable_areas.py:549-584)
# --------------------------------------------------------------------------

def a1_describe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ST.describe(ev, "value")
    rounded = [F.col("n")] + [
        F.round(F.col(c), 6).alias(c) for c in d.columns if c != "n"
    ]
    return d.select(*rounded)


A1_SQL = """
WITH m AS (
  SELECT count(value) AS n, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events
)
SELECT any_value(m.n) AS n,
       round(any_value(m.mu), 6) AS mean,
       round(median(value), 6) AS median,
       round(any_value(m.sd), 6) AS std,
       round(var_pop(value), 6) AS variance,
       round(min(value), 6) AS min,
       round(max(value), 6) AS max,
       round(avg(pow(value - m.mu, 3)) / any_value(pow(m.sd, 3)), 6) AS skewness,
       round(avg(pow(value - m.mu, 4)) / any_value(pow(m.sd, 4)) - 3, 6) AS kurtosis,
       round(quantile_cont(value, 0.005), 6) AS p005,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(quantile_cont(value, 0.75), 6) AS q3,
       round(quantile_cont(value, 0.995), 6) AS p995
FROM events, m
GROUP BY ()
"""


# --------------------------------------------------------------------------
# A2 — zonal stats analog: per-nation stats over customer ⋈ orders
# (zones ≙ nations; broadcast dim join + hash aggregate)
# --------------------------------------------------------------------------

def a2_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("zone"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total"),
            F.round(F.avg("o_totalprice"), 4).alias("mean"),
            F.round(F.median("o_totalprice"), 4).alias("median"),
            F.round(F.stddev_pop("o_totalprice"), 4).alias("std"),
            F.round(F.min("o_totalprice"), 4).alias("min"),
            F.round(F.max("o_totalprice"), 4).alias("max"),
        )
    )


A2_SQL = """
SELECT n_name AS zone,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total,
       round(avg(o_totalprice), 4) AS mean,
       round(median(o_totalprice), 4) AS median,
       round(stddev_pop(o_totalprice), 4) AS std,
       round(min(o_totalprice), 4) AS min,
       round(max(o_totalprice), 4) AS max
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# A6 — median bias per group (notebook cell [74])
# --------------------------------------------------------------------------

def a6_median_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.round(F.median("value"), 6).alias("bias"),
             F.count("value").alias("n"))
    )


A6_SQL = """
SELECT event_type, round(median(value), 6) AS bias, count(value) AS n
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# A7 — bootstrap median std (variography_uncertainty.py:289-316),
# deterministic splitmix-lite resampler expressible in both dialects
# --------------------------------------------------------------------------

_N_BOOT = 200


def a7_bootstrap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    reps = spark.range(_N_BOOT).withColumnRenamed("id", "rep")
    u = ((F.col("event_id") * F.lit(2654435761) + F.col("rep") * F.lit(40503)
          + F.lit(42)) % F.lit(1000003)).cast("double") / F.lit(1000003.0)
    per_rep = (
        ev.crossJoin(F.broadcast(reps))
        .where(u < F.lit(0.1))
        .groupBy("rep")
        .agg(F.median("value").alias("med"))
    )
    return per_rep.agg(
        F.round(F.stddev_samp("med"), 6).alias("median_std"),
        F.round(F.avg("med"), 6).alias("median_mean"),
        F.count("med").alias("n_reps"),
    )


A7_SQL = f"""
WITH reps AS (SELECT range AS rep FROM range({_N_BOOT})),
sampled AS (
  SELECT rep, value
  FROM events CROSS JOIN reps
  WHERE CAST((event_id * 2654435761 + rep * 40503 + 42) % 1000003 AS DOUBLE)
        / 1000003.0 < 0.1
),
per_rep AS (SELECT rep, median(value) AS med FROM sampled GROUP BY rep)
SELECT round(stddev_samp(med), 6) AS median_std,
       round(avg(med), 6) AS median_mean,
       count(med) AS n_reps
FROM per_rep
"""


# --------------------------------------------------------------------------
# A8 — RMS (variography_uncertainty.py:1544-1552)
# --------------------------------------------------------------------------

def a8_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    r = ST.rms(ev, "value")
    return r.select(F.round(F.col("rms"), 6).alias("rms"), "n")


A8_SQL = """
SELECT round(sqrt(avg(value * value)), 6) AS rms, count(value) AS n FROM events
"""


# --------------------------------------------------------------------------
# A16 — symmetric bounds (differencing_functions.py:2432-2452)
# --------------------------------------------------------------------------

def a16_sym_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ST.sym_bounds(ev, "value")
    return b.select(F.round(F.col("vmin"), 6).alias("vmin"),
                    F.round(F.col("vmax"), 6).alias("vmax"))


A16_SQL = """
SELECT round(-max(abs(value)), 6) AS vmin, round(max(abs(value)), 6) AS vmax
FROM events
"""


# --------------------------------------------------------------------------
# W1/W2/J9 — sort + positional pick (differencing_functions.py:507-552)
# --------------------------------------------------------------------------

def w2_positional_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase positional pick (J9/W2) — scale-safe global rank, JVM-only.

    A bare `Window.orderBy` funnels the WHOLE table through one
    partition. Instead: (1) per-date counts (map-side combined; output
    cardinality = #distinct dates, ~2.4k for any TPC scale), (2) a
    running total over that tiny table finds the first date whose
    cumulative count reaches the max wanted rank, (3) only the prefix of
    orders up to that date (≤ max_rank + one day's rows) enters the
    global row_number. Both windows run on *bounded* inputs, so the
    explicit single partition (`partitionBy(lit(0))`) is correct, not a
    funnel — and everything stays inside whole-stage codegen (no Python
    workers, one pass over the count table, one over the pruned head).
    """
    max_rank = 1000
    wanted = (1, 100, 1000)
    orders = load_table(spark, sf_dir, "orders")

    counts = orders.groupBy("o_orderdate").agg(F.count("*").alias("cnt"))
    w_run = (W.partitionBy(F.lit(0)).orderBy("o_orderdate")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    # first date whose running count reaches max_rank; if the table has
    # fewer rows than max_rank, fall back to the last date (keep all).
    cutoff = (counts.withColumn("cum", F.sum("cnt").over(w_run))
              .agg(F.min(F.when(F.col("cum") >= max_rank,
                                F.col("o_orderdate"))).alias("hit"),
                   F.max("o_orderdate").alias("last"))
              .select(F.coalesce("hit", "last").alias("cutoff")))
    head = (orders.crossJoin(F.broadcast(cutoff))
            .where(F.col("o_orderdate") <= F.col("cutoff"))
            .select("o_orderkey", "o_orderdate", "o_totalprice"))

    w_rank = (W.partitionBy(F.lit(0))
              .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()))
    picked = (head.withColumn("rn", F.row_number().over(w_rank))
              .where(F.col("rn").isin(*wanted)))
    return picked.select(
        "rn", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.round("o_totalprice", 4).alias("o_totalprice"))


W2_SQL = """
WITH ranked AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
         row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT rn, o_orderkey, o_orderdate, round(o_totalprice, 4) AS o_totalprice
FROM ranked WHERE rn IN (1, 100, 1000)
"""


# --------------------------------------------------------------------------
# SO2 — anti-join / EXCEPT (stable_unstable_areas.py:351-410 pixel form)
# --------------------------------------------------------------------------

def so2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SO2_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --------------------------------------------------------------------------
# SO1 + SO4 + R9 — mask set algebra: union/dissolve of two valid-pixel
# masks, their intersection, and detailed area = count × res²
# (stable_unstable_areas.py:212-268 dissolve; differencing_functions.py
# :2554-2601 intersect/area). One query upgrades all three from
# tests-only to oracle-gated; pixel keys are bijective with event_id so
# the masks are duplicate-free by construction and dropDuplicates
# exercises the dissolve path without changing counts.
# --------------------------------------------------------------------------

_SO_RES = 1.5


def so_mask_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    px = lambda pred: (ev.where(pred).select(
        (F.col("event_id") % 500).cast("int").alias("row"),
        (F.col("event_id") / 500).cast("int").alias("col")))
    a = px(F.col("event_id") % 3 == 0)
    b = px(F.col("event_id") % 4 == 0)
    union = a.union(b).dropDuplicates(["row", "col"])
    inter = a.join(b, ["row", "col"])
    res2 = _SO_RES * _SO_RES
    return (union.agg(F.count("*").alias("n_union"))
            .crossJoin(inter.agg(F.count("*").alias("n_intersect")))
            .crossJoin(a.agg(
                F.round(F.count("*") * res2, 2).alias("area_a")))
            .crossJoin(b.agg(
                F.round(F.count("*") * res2, 2).alias("area_b"))))


SO_MASK_SQL = f"""
WITH a AS (
  SELECT CAST(event_id % 500 AS INTEGER) AS row,
         CAST(event_id // 500 AS INTEGER) AS col
  FROM events WHERE event_id % 3 = 0
),
b AS (
  SELECT CAST(event_id % 500 AS INTEGER) AS row,
         CAST(event_id // 500 AS INTEGER) AS col
  FROM events WHERE event_id % 4 = 0
)
SELECT
  (SELECT count(*) FROM (SELECT DISTINCT row, col
                         FROM (SELECT * FROM a UNION ALL SELECT * FROM b)))
    AS n_union,
  (SELECT count(*) FROM a JOIN b USING (row, col)) AS n_intersect,
  (SELECT round(count(*) * {_SO_RES * _SO_RES!r}, 2) FROM a) AS area_a,
  (SELECT round(count(*) * {_SO_RES * _SO_RES!r}, 2) FROM b) AS area_b
"""


# --------------------------------------------------------------------------
# SO3 — combined-mask full-outer coalesce (differencing_functions.py:2498-2552)
# --------------------------------------------------------------------------

def so3_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("day")
    a = (ev.where(F.col("event_type") == "click")
           .groupBy(day).agg(F.count("*").alias("clicks")))
    b = (ev.where(F.col("event_type") == "error")
           .groupBy(day).agg(F.count("*").alias("errors")))
    return (
        a.join(b, "day", "full_outer")
        .select("day",
                F.coalesce(F.col("clicks"), F.lit(0)).alias("clicks"),
                F.coalesce(F.col("errors"), F.lit(0)).alias("errors"))
    )


SO3_SQL = """
WITH a AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS clicks FROM events
  WHERE event_type = 'click' GROUP BY 1
),
b AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS errors FROM events
  WHERE event_type = 'error' GROUP BY 1
)
SELECT COALESCE(a.day, b.day) AS day,
       COALESCE(clicks, 0) AS clicks,
       COALESCE(errors, 0) AS errors
FROM a FULL OUTER JOIN b ON a.day = b.day
"""


# --------------------------------------------------------------------------
# SC pack — scalar function battery (SC1, SC5, SC7, SC8, SC12, SC14, SC16)
# --------------------------------------------------------------------------

def sc_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.where(F.col("o_orderkey") % 37 == 0)
    start = F.col("o_orderdate").cast("date")
    end = F.date_add(start, 90)
    lon = (F.col("o_totalprice") % 360) - 180
    return o.select(
        "o_orderkey",
        SC.sanitize_name(F.col("o_orderpriority")).alias("clean_name"),
        SC.normalize_geoid_alias(F.col("o_orderstatus")).alias("norm_status"),
        SC.midpoint_date(start, end).alias("mid_date"),
        F.round(SC.decimal_year(start), 6).alias("dec_year"),
        F.round(SC.dist2d(F.col("o_totalprice") / 1000, F.lit(3.0)), 6).alias("dist"),
        F.round(SC.quadrature(F.col("o_totalprice") / 1000, F.lit(4.0)), 6).alias("quad"),
        SC.utm_zone(lon).alias("utm_zone"),
    )


SC_SQL = """
SELECT o_orderkey,
       regexp_replace(o_orderpriority, '[^a-zA-Z0-9_]+', '_', 'g') AS clean_name,
       replace(replace(replace(lower(o_orderstatus), ' ', ''), '_', ''), '-', '') AS norm_status,
       CAST(o_orderdate AS DATE) + CAST(floor(90 / 2) AS INTEGER) AS mid_date,
       round(year(o_orderdate)
             + (dayofyear(o_orderdate) - 1) / 365.25, 6) AS dec_year,
       round(sqrt((o_totalprice/1000)*(o_totalprice/1000) + 9.0), 6) AS dist,
       round(sqrt((o_totalprice/1000)*(o_totalprice/1000) + 16.0), 6) AS quad,
       CAST(floor(((o_totalprice % 360) - 180 + 180) / 6) + 1 AS INTEGER) AS utm_zone
FROM orders WHERE o_orderkey % 37 = 0
"""


# --------------------------------------------------------------------------
# SC4 — JSON extraction (differencing_functions.py:464-503 catalog parse)
# --------------------------------------------------------------------------

def sc4_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"),
             F.count("k").alias("n_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


SC4_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# F5 — valid-value filter (variography_uncertainty.py:110-114)
# --------------------------------------------------------------------------

def f5_valid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    valid = ev.where(
        F.col("value").isNotNull() & ~F.isnan("value")
        & (F.col("value") != -9999.0))
    return valid.groupBy("event_type").agg(
        F.count("*").alias("n_valid"),
        F.round(F.avg("value"), 6).alias("mean_valid"),
    )


F5_SQL = """
SELECT event_type, count(*) AS n_valid, round(avg(value), 6) AS mean_valid
FROM events
WHERE value IS NOT NULL AND NOT isnan(value) AND value <> -9999.0
GROUP BY event_type
"""


_Q05_REGION = "ASIA"
_Q05_LO = "1996-01-01"
_Q05_HI = "1997-01-01"


def q05_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume: six-table join (customer ⋈
    orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region) with the classic
    c_nationkey = s_nationkey correlation, revenue per nation in one
    region and order-date year.

    The join-ORDER test for Catalyst: region→nation→supplier is a
    broadcast chain of shrinking dims; the customer⋈orders⋈lineitem
    spine carries the data volume and AQE re-plans it at runtime.
    Nothing is hand-scheduled — six `.join` calls, filters on the
    scans, fixed-point revenue so the per-nation sums and the final
    ordering are exact across engines.
    """
    region = (load_table(spark, sf_dir, "region")
              .where(F.col("r_name") == _Q05_REGION)
              .select("r_regionkey"))
    nation = (load_table(spark, sf_dir, "nation")
              .select("n_nationkey", "n_name", "n_regionkey"))
    supplier = (load_table(spark, sf_dir, "supplier")
                .select("s_suppkey", "s_nationkey"))
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= F.lit(_Q05_LO))
                     & (F.col("o_orderdate") < F.lit(_Q05_HI)))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    return (li
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
            .where(F.col("c_nationkey") == F.col("s_nationkey"))
            .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
            .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg((F.sum("_rev").cast("double") / 1e6).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("n_name")))


Q05_SQL = f"""
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{_Q05_REGION}'
  AND CAST(o_orderdate AS DATE) >= DATE '{_Q05_LO}'
  AND CAST(o_orderdate AS DATE) < DATE '{_Q05_HI}'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


_Q10_LO = "1996-01-01"
_Q10_HI = "1996-04-01"
_Q10_K = 20


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: customers ranked by the
    revenue they returned in one quarter — customer ⋈ orders (quarter
    filter) ⋈ lineitem (returnflag filter) ⋈ nation, top-20.

    Four-table join with the fact-side filters pushed to both scans
    and the two dim joins broadcastable; fixed-point revenue makes the
    ranking exact, TakeOrderedAndProject caps the result without a
    full sort."""
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= F.lit(_Q10_LO))
                     & (F.col("o_orderdate") < F.lit(_Q10_HI)))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    return (li
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg((F.sum("_rev").cast("double") / 1e6).alias("revenue"),
                 F.round(F.min("c_acctbal"), 2).alias("c_acctbal"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(_Q10_K))


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue,
       round(min(c_acctbal), 2) AS c_acctbal
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND CAST(o_orderdate AS DATE) >= DATE '{_Q10_LO}'
  AND CAST(o_orderdate AS DATE) < DATE '{_Q10_HI}'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT {_Q10_K}
"""


_Q06_LO = "1996-01-01"
_Q06_HI = "1997-01-01"


def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecast-revenue change: one lineitem scan, three
    pushed predicates (ship-date year, discount band, quantity cap),
    a single global sum — the canonical predicate-pushdown/
    column-pruning showcase (the scan must read 4 columns and carry
    the filters in PushedFilters; asserted in test_plan_shapes).
    Fixed-point product sum for cross-engine exactness."""
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit(_Q06_LO))
                 & (F.col("l_shipdate") < F.lit(_Q06_HI))
                 & (F.col("l_discount") >= 0.05)
                 & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24)))
    rev = F.round(F.col("l_extendedprice") * F.col("l_discount") * 1e6) \
        .cast("decimal(38,0)")
    return li.agg(
        (F.sum(rev).cast("double") / 1e6).alias("revenue"),
        F.count("*").alias("n_items"))


Q06_SQL = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q06_LO}'
  AND CAST(l_shipdate AS DATE) < DATE '{_Q06_HI}'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


_Q14_LO = "1996-03-01"
_Q14_HI = "1996-04-01"


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect: lineitem (month filter) ⋈
    part, share of revenue from PROMO-type parts. The part side is a
    dimension — broadcastable; conditional aggregation computes both
    sums in one pass. Fixed-point sums; the ratio divides two exact
    integers."""
    part = (load_table(spark, sf_dir, "part")
            .select("p_partkey", "p_type"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit(_Q14_LO))
                 & (F.col("l_shipdate") < F.lit(_Q14_HI)))
          .select("l_partkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    j = li.join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("_rev"))
                  .otherwise(F.lit(0).cast("decimal(38,0)")))
    total = F.sum("_rev")
    return j.agg(
        F.round(F.lit(100.0) * promo.cast("double")
                / total.cast("double"), 6).alias("promo_pct"),
        (total.cast("double") / 1e6).alias("total_revenue"))


Q14_SQL = f"""
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * (1 - l_discount)
                                  * 1e6) AS HUGEINT)
                  ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 1e6) AS HUGEINT)) AS DOUBLE), 6)
         AS promo_pct,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q14_LO}'
  AND CAST(l_shipdate AS DATE) < DATE '{_Q14_HI}'
"""


_Q04_LO = "1996-01-01"
_Q04_HI = "1996-07-01"


def q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style priority check: count orders per priority that
    have at least one returned lineitem — the canonical EXISTS /
    left-semi-join shape.

    The semi join ships only the fact table's key column (the probe
    side is pruned to `l_orderkey` before the exchange, no DISTINCT
    needed — semi-join semantics dedup for free), the date window is
    pushed to the orders scan, and the final aggregate is over the
    five-value priority domain (map-side combinable, trivially
    bounded)."""
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= F.lit(_Q04_LO))
                     & (F.col("o_orderdate") < F.lit(_Q04_HI)))
              .select("o_orderkey", "o_orderpriority"))
    returned = (load_table(spark, sf_dir, "lineitem")
                .where(F.col("l_returnflag") == "R")
                .select("l_orderkey"))
    return (orders
            .join(returned,
                  F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


Q04_SQL = f"""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '{_Q04_LO}'
  AND CAST(o_orderdate AS DATE) < DATE '{_Q04_HI}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: customer LEFT
    JOIN orders (with the order-side filter inside the join, so
    customers with zero qualifying orders count at 0), orders per
    customer, then the histogram of those counts.

    Two-level aggregation: the first agg is keyed on the customer key
    the join already shuffled on (co-partitioned, no extra exchange
    under AQE), the second collapses onto the tiny count domain —
    the outer-join-preserving-rows shape at any scale."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") != "1-URGENT")
              .select("o_orderkey", "o_custkey"))
    per_cust = (cust
                .join(orders,
                      F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# Disjunctive branch predicates (brand, max size, quantity band) plus
# the union-bound conjuncts pushed explicitly to each scan — Catalyst
# does not fully CNF-convert OR-of-ANDs into per-side scan filters, so
# stating the derivable envelope (brand IN set, size/quantity ranges)
# keeps the parquet reader pruning while the exact disjunction applies
# post-join. This is how production TPC-H Q19 plans are written.
_Q19_BRANCHES = [("Brand#11", 15, 1, 11),
                 ("Brand#12", 25, 10, 20),
                 ("Brand#13", 35, 20, 30)]


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive-predicate revenue: lineitem ⋈ part
    under an OR of three (brand, size-range, quantity-band) branches.

    Each scan gets the explicit union envelope of its side's branch
    predicates (pushed filters), the part side stays a broadcastable
    dimension, and the exact OR-of-ANDs evaluates as one JVM boolean
    expression after the join. Fixed-point revenue sum."""
    brands = [b for b, _, _, _ in _Q19_BRANCHES]
    max_size = max(s for _, s, _, _ in _Q19_BRANCHES)
    min_q = min(lo for _, _, lo, _ in _Q19_BRANCHES)
    max_q = max(hi for _, _, _, hi in _Q19_BRANCHES)
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand").isin(brands)
                   & (F.col("p_size") >= 1)
                   & (F.col("p_size") <= max_size))
            .select("p_partkey", "p_brand", "p_size"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_quantity") >= min_q)
                 & (F.col("l_quantity") <= max_q))
          .select("l_partkey", "l_quantity",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    branch = None
    for b, sz, lo, hi in _Q19_BRANCHES:
        c = ((F.col("p_brand") == b)
             & (F.col("p_size") <= sz)
             & (F.col("l_quantity") >= lo) & (F.col("l_quantity") <= hi))
        branch = c if branch is None else (branch | c)
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .where(branch)
            .agg((F.sum("_rev").cast("double") / 1e6).alias("revenue"),
                 F.count("*").alias("n_items")))


def _q19_branch_sql() -> str:
    parts = []
    for b, sz, lo, hi in _Q19_BRANCHES:
        parts.append(
            f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {sz} "
            f"AND l_quantity BETWEEN {lo} AND {hi})")
    return " OR ".join(parts)


Q19_SQL = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_q19_branch_sql()}
"""


_Q17_BRAND = "Brand#23"


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: average yearly
    revenue lost if small orders (quantity below half the per-part
    mean) were not filled — the canonical correlated scalar-aggregate
    subquery.

    Decorrelated here into a PER-PART window aggregate, not an
    aggregate-plus-join-back: the window needs ONE lineitem scan and
    one key-partitioned shuffle where the join form scans the fact
    twice (and its threshold table is brand-pruned *part*-dimension
    sized — not broadcastable at large SF). The window partitions on
    `l_partkey`, whose per-key multiplicity is a constant of the
    schema (≈30 lineitems per part at every TPC-H scale factor), so
    no partition grows with data size. The quantity sum is exact in
    doubles (quantities are integers), making the 0.5·avg threshold
    one deterministic IEEE divide on both engines."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") == _Q17_BRAND)
            .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_quantity",
                  F.round(F.col("l_extendedprice") * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    branded = li.join(F.broadcast(part),
                      F.col("l_partkey") == F.col("p_partkey"))
    w = W.partitionBy("l_partkey")
    thr = F.lit(0.5) * (F.sum("l_quantity").over(w)
                        / F.count("*").over(w))
    return (branded
            .withColumn("_thr", thr)
            .where(F.col("l_quantity") < F.col("_thr"))
            .agg(F.round(F.sum("_rev").cast("double") / 1e6 / 7.0, 4)
                 .alias("avg_yearly"),
                 F.count("*").alias("n_items")))


Q17_SQL = f"""
WITH b AS (
  SELECT l_partkey, l_quantity,
         CAST(round(l_extendedprice * 1e6) AS HUGEINT) AS rv
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{_Q17_BRAND}'
),
t AS (
  SELECT l_partkey AS pk, 0.5 * (sum(l_quantity) / count(*)) AS thr
  FROM b GROUP BY l_partkey
)
SELECT round(CAST(sum(rv) AS DOUBLE) / 1e6 / 7.0, 4) AS avg_yearly,
       count(*) AS n_items
FROM b JOIN t ON l_partkey = pk
WHERE l_quantity < thr
"""


_Q18_MIN_QTY = 300
_Q18_K = 20


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: orders whose lineitem
    quantity sum exceeds a threshold, joined back to order and
    customer detail — the HAVING-filtered aggregate as a semi-join
    carrier (the aggregate both filters and supplies the payload).

    The post-HAVING key set is highly selective, so AQE converts the
    orders join to broadcast at runtime from the aggregate's actual
    size — exactly the shape where a static planner must shuffle.
    Quantity sums are exact in doubles (integer quantities); top-20 by
    total price caps the result via TakeOrderedAndProject, no window."""
    big = (load_table(spark, sf_dir, "lineitem")
           .select("l_orderkey", "l_quantity")
           .groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .where(F.col("total_qty") > _Q18_MIN_QTY))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_totalprice"))
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name")
    return (orders
            .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    "total_qty")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(_Q18_K))


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {_Q18_MIN_QTY}
)
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT {_Q18_K}
"""


_Q15_LO = "1997-01-01"
_Q15_HI = "1997-04-01"


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: the supplier(s) with maximum
    revenue in one quarter — the argmax-with-ties shape, computed as
    a 1-row max aggregate broadcast back against the per-supplier
    revenue table (exact decimal equality keeps ties correct), never
    a global rank window.

    The per-supplier table is bounded by the supplier dimension; the
    supplier-detail join is broadcast."""
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit(_Q15_LO))
                 & (F.col("l_shipdate") < F.lit(_Q15_HI)))
          .select("l_suppkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev")))
    per = li.groupBy("l_suppkey").agg(F.sum("_rev").alias("_r"))
    mx = per.agg(F.max("_r").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_name")
    return (per
            .join(F.broadcast(mx), F.col("_r") == F.col("_mx"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    (F.col("_r").cast("double") / 1e6)
                    .alias("total_revenue")))


Q15_SQL = f"""
WITH r AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                  AS HUGEINT)) AS rv
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q15_LO}'
    AND CAST(l_shipdate AS DATE) < DATE '{_Q15_HI}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rv AS DOUBLE) / 1e6 AS total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE rv = (SELECT max(rv) FROM r)
"""


_Q22_CUTOFF = "2000-01-01"


def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style lost-customer report: per nation, customers
    whose balance beats the positive-balance average but who placed no
    order since a cutoff — scalar-aggregate broadcast + anti join.

    The average threshold is compared in EXACT integer arithmetic
    (cents·n_pos > sum_cents — no float average crosses the engines),
    the 1-row stats aggregate broadcasts, the anti join ships only the
    filtered orders key column, and the final aggregate is bounded by
    the nation domain."""
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey", cents.alias("_cents")))
    stats = (cust.where(F.col("_cents") > 0)
             .agg(F.sum("_cents").cast("decimal(38,0)").alias("_sum"),
                  F.count("*").alias("_npos")))
    recent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF))
              .select("o_custkey"))
    rich = (cust.crossJoin(F.broadcast(stats))
            .where(F.col("_cents").cast("decimal(38,0)") * F.col("_npos")
                   > F.col("_sum")))
    return (rich
            .join(recent, F.col("c_custkey") == F.col("o_custkey"),
                  "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_cust"),
                 F.round(F.sum("_cents").cast("double") / 100.0, 2)
                 .alias("total_bal")))


Q22_SQL = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
s AS (
  SELECT CAST(sum(cents) AS HUGEINT) AS sm, count(*) AS npos
  FROM c WHERE cents > 0
)
SELECT c_nationkey, count(*) AS n_cust,
       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS total_bal
FROM c CROSS JOIN s
WHERE CAST(cents AS HUGEINT) * npos > sm
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '{_Q22_CUTOFF}')
GROUP BY c_nationkey
"""


_Q21_LATE_DAYS = 365
_Q21_K = 20


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style waiting-orders report: for each supplier, the
    number of multi-supplier orders on which THEY were the only late
    shipper (ship lag > 365 days) — the double-correlated
    EXISTS / NOT-EXISTS shape.

    Rewritten for scale as ONE co-partitioned fact-fact join
    (lineitem ⋈ orders on the order key) plus ONE per-order aggregate
    — `n_supp > 1 AND n_late_supp == 1` replaces both correlated
    subqueries, and `max(late supplier)` is exact because the filter
    guarantees uniqueness. The textbook triple self-join scans
    lineitem three times; this scans it once. The DuckDB oracle runs
    the correlated form, so the rewrite is equivalence-checked against
    the canonical semantics. Per-order lineitem counts are schema-
    bounded (≤7 per order at any SF), so the aggregate never skews."""
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) \
        > _Q21_LATE_DAYS
    # Two stacked aggregates instead of two countDistinct()s: the
    # multi-distinct form Expands every row 3x before the shuffle,
    # while hash(orderkey) from the join satisfies the clustered
    # distribution of BOTH group-bys, so neither aggregate below adds
    # an exchange (plan-asserted: exactly 2 shuffles, no Expand).
    per_supp = (li
                .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("l_orderkey", "l_suppkey")
                .agg(F.max(late).alias("_late_s")))
    per_order = (per_supp
                 .groupBy("l_orderkey")
                 .agg(F.count("*").alias("_ns"),
                      F.sum(F.col("_late_s").cast("int")).alias("_nl"),
                      F.max(F.when(F.col("_late_s"), F.col("l_suppkey")))
                      .alias("_late_supp")))
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_name")
    return (per_order
            .where((F.col("_nl") == 1) & (F.col("_ns") > 1))
            .groupBy("_late_supp")
            .agg(F.count("*").alias("numwait"))
            .join(F.broadcast(supp),
                  F.col("_late_supp") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "numwait")
            .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
            .limit(_Q21_K))


Q21_SQL = f"""
WITH l1 AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE date_diff('day', o_orderdate, l_shipdate) > {_Q21_LATE_DAYS}
)
SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3
                    ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND date_diff('day', o3.o_orderdate, l3.l_shipdate)
                        > {_Q21_LATE_DAYS})
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT {_Q21_K}
"""


def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style value concentration: parts whose revenue
    exceeds 1.5× the average per-part revenue — a grouped sum filtered
    against a GLOBAL scalar computed from the same grouped table.

    The per-part table shuffles once. The global (total, n_parts)
    scalar is computed by a SEPARATE 2-column reduce of the fact scan
    (sum + map-side-partial distinct count), not by re-aggregating the
    per-part table: sharing the grouped lineage would either recompute
    the full groupBy pipeline (AQE does not reuse the exchange when
    one occurrence sits under the broadcast branch — measured) or pin
    a partkey-sized cache. The threshold compares in exact decimal
    arithmetic (2·r·n > 3·total — the relative threshold keeps
    selectivity stable across scale factors, unlike Q11's absolute
    fraction)."""
    rev = F.round(F.col("l_extendedprice")
                  * (1 - F.col("l_discount")) * 1e6).cast("decimal(38,0)")
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", rev.alias("_rev"))
    per = li.groupBy("l_partkey").agg(F.sum("_rev").alias("_r"))
    stats = li.agg(F.sum("_rev").alias("_tot"),
                   F.countDistinct("l_partkey").alias("_np"))
    return (per.crossJoin(F.broadcast(stats))
            .where(F.col("_r") * 2 * F.col("_np")
                   > F.col("_tot") * 3)
            .select("l_partkey",
                    (F.col("_r").cast("double") / 1e6).alias("revenue"),
                    F.round(F.col("_r").cast("double")
                            / F.col("_tot").cast("double"), 9)
                    .alias("share")))


Q11_SQL = """
WITH per AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                  AS HUGEINT)) AS r
  FROM lineitem GROUP BY l_partkey
),
s AS (SELECT CAST(sum(r) AS HUGEINT) AS tot, count(*) AS np FROM per)
SELECT l_partkey, CAST(r AS DOUBLE) / 1e6 AS revenue,
       round(CAST(r AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS share
FROM per CROSS JOIN s
WHERE r * 2 * np > tot * 3
"""


_Q20_LO = "1997-01-01"
_Q20_HI = "1998-01-01"


def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style threshold semi join: suppliers who shipped MORE
    THAN HALF of some part's total quantity in one year — the
    nested-aggregate-threshold shape (Q20's "stock > half of shipped
    quantity" correlated subquery, adapted to the lineitem schema).

    One explicit repartition on the part key up front, then the
    (part, supplier) aggregate, the per-part total window, and the
    share filter ALL reuse that distribution — a single fact shuffle,
    no extra exchange per step (same trick as Q21). The share test is
    exact integer arithmetic (2·sq > tq — quantities are integral).
    The dominated-parts count per supplier is a second, tiny shuffle;
    supplier detail joins broadcast."""
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit(_Q20_LO))
                 & (F.col("l_shipdate") < F.lit(_Q20_HI)))
          .select("l_partkey", "l_suppkey",
                  F.col("l_quantity").cast("long").alias("_q"))
          .repartition("l_partkey"))
    per_ps = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.sum("_q").alias("_sq")))
    tot = F.sum("_sq").over(W.partitionBy("l_partkey"))
    dominant = (per_ps.withColumn("_tq", tot)
                .where(F.col("_sq") * 2 > F.col("_tq")))
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_name")
    return (dominant
            .groupBy("l_suppkey")
            .agg(F.count("*").alias("n_parts_dominated"),
                 F.sum("_sq").alias("qty_dominated"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "n_parts_dominated",
                    "qty_dominated"))


Q20_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q20_LO}'
    AND CAST(l_shipdate AS DATE) < DATE '{_Q20_HI}'
  GROUP BY l_partkey, l_suppkey
),
d AS (
  SELECT l_partkey, l_suppkey, sq
  FROM (SELECT ps.*, sum(sq) OVER (PARTITION BY l_partkey) AS tq FROM ps)
  WHERE sq * 2 > tq
)
SELECT s_suppkey, s_name,
       count(*) AS n_parts_dominated,
       CAST(sum(sq) AS BIGINT) AS qty_dominated
FROM d JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


_Q08_REGION = "ASIA"
_Q08_NATION = "NATION_2"


def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: for orders by customers
    in one region, the share of revenue supplied by one nation, per
    order YEAR — the deepest dim-chain join in the suite
    (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region on the demand
    side, ⋈ supplier ⋈ nation on the supply side) plus a per-year
    conditional share.

    Scale shape: region→nation→customer collapses to a broadcast
    filter on the orders side; supplier⋈nation broadcasts on the
    lineitem side; the only big exchange is the orderkey fact-fact
    join, and the share numerator/denominator come from ONE
    conditional aggregation over it (no second pass). Fixed-point
    revenue; the share divides two exact integers."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region") \
        .where(F.col("r_name") == _Q08_REGION)
    cust_nations = (nation.join(F.broadcast(region),
                                F.col("n_regionkey") == F.col("r_regionkey"))
                    .select(F.col("n_nationkey").alias("_cnk")))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(cust_nations),
                  F.col("c_nationkey") == F.col("_cnk"))
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey",
                      F.year("o_orderdate").alias("o_year")))
    demand = orders.join(F.broadcast(cust),
                         F.col("o_custkey") == F.col("c_custkey"))
    supp_nation = (load_table(spark, sf_dir, "supplier")
                   .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                         F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey", "n_name"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev"))
          .join(F.broadcast(supp_nation),
                F.col("l_suppkey") == F.col("s_suppkey")))
    j = li.join(demand, F.col("l_orderkey") == F.col("o_orderkey"))
    target = F.when(F.col("n_name") == _Q08_NATION, F.col("_rev")) \
        .otherwise(F.lit(0).cast("decimal(38,0)"))
    return (j.groupBy("o_year")
            .agg(F.sum(target).alias("_tr"), F.sum("_rev").alias("_ar"))
            .select("o_year",
                    F.round(F.col("_tr").cast("double")
                            / F.col("_ar").cast("double"), 6)
                    .alias("mkt_share"),
                    (F.col("_ar").cast("double") / 1e6)
                    .alias("total_revenue")))


Q08_SQL = f"""
WITH j AS (
  SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
         CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
              AS HUGEINT) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{_Q08_REGION}'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = '{_Q08_NATION}'
                           THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share,
       CAST(sum(rev) AS DOUBLE) / 1e6 AS total_revenue
FROM j GROUP BY o_year
"""


_Q02_BRAND = "Brand#14"


def q02_first_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style argmin-per-group with detail join-back: for each
    part of one brand, the supplier who shipped it EARLIEST (the
    min-cost-supplier shape re-keyed to the available schema).

    min(struct(shipdate, suppkey)) gives the per-part argmin with a
    deterministic tie (smaller suppkey) in ONE partial-combining
    aggregate — the shuffle carries one row per (part, partition), and
    the detail join-back hits only dimension tables (broadcast). The
    common row_number-per-part window form shuffles every branded
    lineitem instead."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") == _Q02_BRAND)
            .select("p_partkey", "p_name"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey",
                  F.date_format("l_shipdate", "yyyy-MM-dd")
                  .alias("_sd")))
    first = (li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("p_partkey", "p_name")
             .agg(F.min(F.struct(F.col("_sd").alias("sd"),
                                 F.col("l_suppkey").alias("sk")))
                  .alias("_m")))
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_name")
    return (first
            .join(F.broadcast(supp),
                  F.col("_m.sk") == F.col("s_suppkey"))
            .select("p_partkey", "p_name", "s_suppkey", "s_name",
                    F.col("_m.sd").alias("first_ship")))


Q02_SQL = f"""
WITH b AS (
  SELECT p_partkey, p_name, l_suppkey,
         strftime(l_shipdate, '%Y-%m-%d') AS sd
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{_Q02_BRAND}'
),
r AS (
  SELECT p_partkey, p_name, l_suppkey, sd,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY sd, l_suppkey) AS rn
  FROM b
)
SELECT p_partkey, p_name, s_suppkey, s_name, sd AS first_ship
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
"""


_Q12_LATE_DAYS = 90


def q12_priority_by_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style two-way conditional count: lineitems classified
    by shipping lateness (> 90 days after order date), counting
    high-priority vs low-priority orders per class — the
    join-then-pivot-by-CASE shape.

    One orderkey fact-fact join (the only big exchange), one
    conditional aggregation over the two-value class domain; the
    priority test is evaluated once per row as a JVM boolean."""
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = (F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            > _Q12_LATE_DAYS)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.select(F.when(late, "late").otherwise("ontime")
                     .alias("ship_class"),
                     high.alias("_high"))
            .groupBy("ship_class")
            .agg(F.sum(F.when(F.col("_high"), 1).otherwise(0))
                 .alias("high_line_count"),
                 F.sum(F.when(F.col("_high"), 0).otherwise(1))
                 .alias("low_line_count")))


Q12_SQL = f"""
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                 > {_Q12_LATE_DAYS}
            THEN 'late' ELSE 'ontime' END AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY ship_class
"""


_Q07_N1 = "NATION_1"
_Q07_N2 = "NATION_3"


def q07_bination_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bi-nation trade volume: revenue shipped between
    two nations (either direction) per year — supplier nation on the
    lineitem side, customer nation on the orders side, the
    symmetric-pair predicate evaluated after both broadcasts.

    Both nation filters prune their dimension chains to two keys
    before broadcasting, so the only corpus exchange is the orderkey
    fact-fact join; the (supp_nation, cust_nation, year) aggregate is
    bounded by 2×2×years."""
    nation = load_table(spark, sf_dir, "nation") \
        .where(F.col("n_name").isin(_Q07_N1, _Q07_N2)) \
        .select("n_nationkey", "n_name")
    supp = (load_table(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(
                nation.select(F.col("n_nationkey").alias("_ck"),
                              F.col("n_name").alias("cust_nation"))),
                F.col("c_nationkey") == F.col("_ck"))
            .select("c_custkey", "cust_nation"))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey",
                      F.year("o_orderdate").alias("o_year"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey")))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 1e6)
                  .cast("decimal(38,0)").alias("_rev"))
          .join(F.broadcast(supp),
                F.col("l_suppkey") == F.col("s_suppkey")))
    j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .where(F.col("supp_nation") != F.col("cust_nation")))
    return (j.groupBy("supp_nation", "cust_nation", "o_year")
            .agg((F.sum("_rev").cast("double") / 1e6).alias("revenue"),
                 F.count("*").alias("n_items")))


Q07_SQL = f"""
SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
       year(o_orderdate) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('{_Q07_N1}', '{_Q07_N2}')
  AND n2.n_name IN ('{_Q07_N1}', '{_Q07_N2}')
  AND n1.n_name <> n2.n_name
GROUP BY supp_nation, cust_nation, o_year
"""


def q09_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style profit rollup: per (supplier nation, order year),
    revenue minus a retail-price-based cost proxy (the schema has no
    partsupp supplycost; `0.6 × p_retailprice × quantity` plays its
    role) — the widest rollup in the suite: two fact tables + part +
    supplier + nation.

    Part and supplier⋈nation broadcast onto lineitem; the orderkey
    fact-fact join is the one big exchange; profit terms are
    fixed-pointed per row before the (nation, year) sum."""
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    supp = (load_table(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("nation")))
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_retailprice")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    profit_dbl = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
                  - F.lit(0.6) * F.col("p_retailprice")
                  * F.col("l_quantity"))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"))
          .join(F.broadcast(supp),
                F.col("l_suppkey") == F.col("s_suppkey"))
          .select("l_orderkey", "nation",
                  F.round(profit_dbl * 1e6)
                  .cast("decimal(38,0)").alias("_pf")))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("nation", "o_year")
            .agg((F.sum("_pf").cast("double") / 1e6).alias("profit"),
                 F.count("*").alias("n_items")))


Q09_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                            - 0.6 * p_retailprice * l_quantity) * 1e6)
                     AS HUGEINT)) AS DOUBLE) / 1e6 AS profit,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, o_year
"""


_Q16_EXCLUDE_BRAND = "Brand#21"


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier variety: distinct suppliers who shipped
    each (brand, size band), excluding one brand and excluding
    below-average-balance suppliers (the NOT-IN shape, expressed as a
    broadcast anti join).

    The (brand, band, suppkey) distinct collapses map-side before its
    shuffle (bounded by brands × bands × suppliers); the excluded
    supplier set is a 1-row-threshold anti join computed in exact
    integer arithmetic like Q22."""
    cents = F.round(F.col("s_acctbal") * 100).cast("long")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", cents.alias("_c"))
    stats = supp.agg(F.sum("_c").cast("decimal(38,0)").alias("_sum"),
                     F.count("*").alias("_n"))
    weak = (supp.crossJoin(F.broadcast(stats))
            .where(F.col("_c").cast("decimal(38,0)") * F.col("_n")
                   < F.col("_sum"))
            .select(F.col("s_suppkey").alias("_weak")))
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") != _Q16_EXCLUDE_BRAND)
            .select("p_partkey", "p_brand",
                    (F.col("p_size") - (F.col("p_size") % 10))
                    .alias("size_band")))
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_suppkey")
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(weak),
                  F.col("l_suppkey") == F.col("_weak"), "left_anti")
            .groupBy("p_brand", "size_band")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


Q16_SQL = f"""
WITH s AS (
  SELECT s_suppkey, CAST(round(s_acctbal * 100) AS BIGINT) AS c
  FROM supplier
),
st AS (SELECT CAST(sum(c) AS HUGEINT) AS sm, count(*) AS n FROM s),
weak AS (
  SELECT s_suppkey FROM s CROSS JOIN st
  WHERE CAST(c AS HUGEINT) * n < sm
)
SELECT p_brand, p_size - (p_size % 10) AS size_band,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{_Q16_EXCLUDE_BRAND}'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM weak)
GROUP BY p_brand, size_band
"""


CORE_QUERIES: dict[str, tuple] = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q03_top_orders": (q03_top_orders, Q03_SQL),
    "q05_region_volume": (q05_region_volume, Q05_SQL),
    "q10_returned_revenue": (q10_returned_revenue, Q10_SQL),
    "q06_forecast_revenue": (q06_forecast_revenue, Q06_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q04_priority_exists": (q04_priority_exists, Q04_SQL),
    "q13_order_distribution": (q13_order_distribution, Q13_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q17_small_qty_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q22_idle_balance": (q22_idle_balance, Q22_SQL),
    "q21_sole_late_supplier": (q21_sole_late_supplier, Q21_SQL),
    "q11_value_concentration": (q11_value_concentration, Q11_SQL),
    "q20_dominant_supplier": (q20_dominant_supplier, Q20_SQL),
    "q08_market_share": (q08_market_share, Q08_SQL),
    "q02_first_supplier": (q02_first_supplier, Q02_SQL),
    "q12_priority_by_lateness": (q12_priority_by_lateness, Q12_SQL),
    "q07_bination_volume": (q07_bination_volume, Q07_SQL),
    "q09_profit_by_nation_year": (q09_profit_by_nation_year, Q09_SQL),
    "q16_supplier_variety": (q16_supplier_variety, Q16_SQL),
    "a1_describe_events": (a1_describe_events, A1_SQL),
    "a2_zonal_stats": (a2_zonal_stats, A2_SQL),
    "a6_median_bias": (a6_median_bias, A6_SQL),
    "a7_bootstrap_median": (a7_bootstrap_median, A7_SQL),
    "a8_rms": (a8_rms, A8_SQL),
    "a16_sym_bounds": (a16_sym_bounds, A16_SQL),
    "w2_positional_pick": (w2_positional_pick, W2_SQL),
    "so2_anti_join": (so2_anti_join, SO2_SQL),
    "so3_full_outer": (so3_full_outer, SO3_SQL),
    "so_mask_algebra": (so_mask_algebra, SO_MASK_SQL),
    "sc_scalar_pack": (sc_scalar_pack, SC_SQL),
    "sc4_json_extract": (sc4_json_extract, SC4_SQL),
    "f5_valid_filter": (f5_valid_filter, F5_SQL),
}
