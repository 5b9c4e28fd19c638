"""Driver-contract queries: remaining SURVEY §2 coverage — SC2 (temporal
coverage parse), SC3 (source classification), SC6 (GPS time → date),
F6 (percentile clip), A14 (closed-form uncertainty), A15 (bootstrap
parameter percentiles), W1 (catalog sort) — each oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from error_analysis_spark.functions import scalars as SC
from error_analysis_spark.operators import pointcloud as PC
from error_analysis_spark.operators import stats as ST
from error_analysis_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# SC6 — GPS seconds → date, both LAS-1.4 adjustment branches
# (differencing_functions.py:1559-1567)
# --------------------------------------------------------------------------

def sc6_gps_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gps = (F.abs(F.col("value")) * 5e8)  # spans both <1e9 and >=1e9
    return (
        ev.select(PC.gps_time_to_date(gps).alias("acq_date"))
        .groupBy("acq_date").agg(F.count("*").alias("n"))
    )


SC6_SQL = """
WITH g AS (
  SELECT abs(value) * 5e8 AS gps FROM events
),
adj AS (
  SELECT CASE WHEN gps < 1e9 THEN gps + 1e9 ELSE gps END AS gps FROM g
)
SELECT DATE '1980-01-06' + CAST(floor(gps / 86400) AS INTEGER) AS acq_date,
       count(*) AS n
FROM adj GROUP BY 1
"""


# --------------------------------------------------------------------------
# SC2 + SC3 + W1 — catalog parse: temporalCoverage "a / b" split, source
# classification by substring, sort by start date
# (differencing_functions.py:467-510)
# --------------------------------------------------------------------------

def sc2_catalog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 53 == 0)
    cov = F.concat(F.col("o_orderdate").cast("date").cast("string"),
                   F.lit(" / "),
                   F.date_add(F.col("o_orderdate").cast("date"), 365)
                   .cast("string"))
    start, end = SC.parse_temporal_coverage(cov)
    prop = F.concat(
        F.lit("DS_"),
        F.element_at(F.array(F.lit("USGS_LPC"), F.lit("noaa-dem"),
                             F.lit("OT.prop")),
                     (F.col("o_orderkey") % 3 + 1).cast("int")),
        F.col("o_orderkey").cast("string"))
    src = SC.classify_source(prop)
    return (
        orders.select(
            F.col("o_orderkey").alias("dataset_key"),
            start.alias("start_date"), end.alias("end_date"),
            SC.midpoint_date(start, end).alias("mid_date"),
            src.alias("source"),
        )
        .orderBy("start_date", "dataset_key")
    )


SC2_SQL = """
WITH cat AS (
  SELECT o_orderkey AS dataset_key,
         CAST(o_orderdate AS DATE) AS start_date,
         CAST(o_orderdate AS DATE) + 365 AS end_date,
         'DS_' || (['USGS_LPC', 'noaa-dem', 'OT.prop'])[(o_orderkey % 3) + 1]
               || o_orderkey AS prop
  FROM orders WHERE o_orderkey % 53 = 0
)
SELECT dataset_key, start_date, end_date,
       start_date + CAST(floor(date_diff('day', start_date, end_date) / 2)
                         AS INTEGER) AS mid_date,
       CASE WHEN lower(prop) LIKE '%usgs%' THEN 'usgs'
            WHEN lower(prop) LIKE '%noaa%' THEN 'noaa'
            ELSE 'ot' END AS source
FROM cat
ORDER BY start_date, dataset_key
"""


# --------------------------------------------------------------------------
# F6 — percentile clip (variography_uncertainty.py:259-260)
# --------------------------------------------------------------------------

def f6_percentile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clipped = ST.percentile_clip(ev)  # the gate must exercise the operator
    return clipped.agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("value"), 6).alias("mean_clipped"),
        F.round(F.stddev_pop("value"), 6).alias("std_clipped"),
    )


F6_SQL = """
WITH b AS (
  SELECT quantile_cont(value, 0.01) AS p1, quantile_cont(value, 0.99) AS p99
  FROM events
)
SELECT count(*) AS n_kept,
       round(avg(value), 6) AS mean_clipped,
       round(stddev_pop(value), 6) AS std_clipped
FROM events, b
WHERE value BETWEEN b.p1 AND b.p99
"""


# --------------------------------------------------------------------------
# A14 — closed-form uncertainty from fitted params
# (variography_uncertainty.py:1670-1737): uncorr = rms/√n;
# corr_i = √(2·C_i)/√n · √(π·a_i²/(5·res²)); total = quadrature
# --------------------------------------------------------------------------

_RES = 1.0


def a14_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Params table synthesized from nation (25 model configs)."""
    nat = load_table(spark, sf_dir, "nation")
    p = nat.select(
        F.col("n_nationkey").alias("cfg"),
        (0.01 + (F.col("n_nationkey") % 5) * 0.02).alias("sill"),
        (30.0 + (F.col("n_nationkey") % 7) * 15.0).alias("range_m"),
        (0.1 + (F.col("n_nationkey") % 3) * 0.05).alias("rms"),
        (10000 + F.col("n_nationkey") * 500).cast("long").alias("n_px"),
    )
    uncorr = F.col("rms") / F.sqrt(F.col("n_px"))
    corr = (F.sqrt(2.0 * F.col("sill")) / F.sqrt(F.col("n_px"))
            * F.sqrt(F.lit(3.141592653589793) * F.col("range_m") ** 2
                     / (5.0 * _RES * _RES)))
    return p.select(
        "cfg",
        F.round(uncorr, 8).alias("uncorr"),
        F.round(corr, 8).alias("corr1"),
        F.round(F.sqrt(uncorr ** 2 + corr ** 2), 8).alias("total"),
    )


A14_SQL = f"""
WITH p AS (
  SELECT n_nationkey AS cfg,
         CAST(0.01 + (n_nationkey % 5) * 0.02 AS DOUBLE) AS sill,
         CAST(30.0 + (n_nationkey % 7) * 15.0 AS DOUBLE) AS range_m,
         CAST(0.1 + (n_nationkey % 3) * 0.05 AS DOUBLE) AS rms,
         10000 + n_nationkey * 500 AS n_px
  FROM nation
),
c AS (
  SELECT cfg,
         rms / sqrt(n_px) AS uncorr,
         sqrt(2.0 * sill) / sqrt(n_px)
           * sqrt(CAST(3.141592653589793 AS DOUBLE) * range_m * range_m
                  / (5.0 * {_RES} * {_RES})) AS corr1
  FROM p
)
SELECT cfg, round(uncorr, 8) AS uncorr, round(corr1, 8) AS corr1,
       round(sqrt(uncorr * uncorr + corr1 * corr1), 8) AS total
FROM c
"""


# --------------------------------------------------------------------------
# A15 — bootstrap parameter percentiles (16/50/84)
# (variography_uncertainty.py:891-928)
# --------------------------------------------------------------------------

def a15_param_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    boot = ev.select(
        F.element_at(F.array(F.lit("sill"), F.lit("range"), F.lit("nugget")),
                     (F.col("event_id") % 3 + 1).cast("int")).alias("param"),
        F.col("value"),
    )
    return boot.groupBy("param").agg(
        F.round(F.percentile("value", 0.16), 6).alias("p16"),
        F.round(F.percentile("value", 0.50), 6).alias("p50"),
        F.round(F.percentile("value", 0.84), 6).alias("p84"),
    )


A15_SQL = """
WITH boot AS (
  SELECT CASE event_id % 3 WHEN 0 THEN 'sill' WHEN 1 THEN 'range'
              ELSE 'nugget' END AS param,
         value
  FROM events
)
SELECT param,
       round(quantile_cont(value, 0.16), 6) AS p16,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.84), 6) AS p84
FROM boot GROUP BY param
"""


# --------------------------------------------------------------------------
# Per-zone sigma_A — the per-zone kernel ladder over a collected zone
# table, oracle-gated: the analytical method (SC15) is a deterministic
# 1000-step midpoint integral DuckDB restates with generate_series. The
# FFT method shares the same per-zone plumbing and is pinned by
# cross-method agreement tests (tests/test_fitting_uncertainty.py), the
# reference's own oracle (variography_uncertainty.py:995).
# --------------------------------------------------------------------------

def sigma_a_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone uncertainty: the SC15 equivalent-disk integral per
    nation-derived rectangle zone, run in the driver by `sigma_a_by_zone`
    with a fixed fitted model (sill 0.04, range 25, nugget 0.002)."""
    from pyspark.sql import functions as _F

    from error_analysis_spark.operators.uncertainty import sigma_a_by_zone
    nat = load_table(spark, sf_dir, "nation")
    zones = nat.select(
        _F.concat(_F.lit("z"), _F.col("n_nationkey")).alias("zone_id"),
        _F.format_string(
            "POLYGON ((%d 0, %d 0, %d %d, %d %d, %d 0))",
            _F.col("n_nationkey") * 100,
            _F.col("n_nationkey") * 100 + 60 + _F.col("n_nationkey") % 5 * 10,
            _F.col("n_nationkey") * 100 + 60 + _F.col("n_nationkey") % 5 * 10,
            _F.lit(40) + _F.col("n_nationkey") % 3 * 10,
            _F.col("n_nationkey") * 100,
            _F.lit(40) + _F.col("n_nationkey") % 3 * 10,
            _F.col("n_nationkey") * 100,
        ).alias("wkt"),
    )
    out = spark.createDataFrame(
        sigma_a_by_zone(zones, [0.04], [25.0], 0.002, method="analytical",
                        num_steps=1000),
        "zone_id string, sigma_a double")
    return out.select("zone_id", _F.round("sigma_a", 6).alias("sigma_a"))


# σ_A² = (2π/A)·Σ r·C(r)·dr, R = √(A/π), r at midpoints; C(r) = σ²_tot −
# (nugget + sill·sph(r/a)) — variography_uncertainty.py:1184-1195.
SIGMA_A_SQL = """
WITH z AS (
  SELECT 'z' || n_nationkey AS zone_id,
         CAST((60 + (n_nationkey % 5) * 10) * (40 + (n_nationkey % 3) * 10)
              AS DOUBLE) AS area
  FROM nation
),
integ AS (
  SELECT zone_id, area,
         sqrt(area / pi()) / 1000.0 AS dr,
         (i + 0.5) * (sqrt(area / pi()) / 1000.0) AS r
  FROM z CROSS JOIN (SELECT range AS i FROM range(1000)) s
),
cov AS (
  SELECT zone_id, area, dr, r,
         0.042 - (0.002 + CASE WHEN r / 25.0 < 1.0
             THEN 0.04 * (1.5 * (r / 25.0) - 0.5 * power(r / 25.0, 3))
             ELSE 0.04 END) AS c
  FROM integ
)
SELECT zone_id,
       round(sqrt(greatest((2.0 * pi() / area) * sum(r * c) * max(dr), 0.0)),
             6) AS sigma_a
FROM cov GROUP BY zone_id, area
"""


# --------------------------------------------------------------------------
# J7+A11 / J6+A12 — the brute-force and Hugonnet σ_A estimators,
# oracle-gated (r2 ADVICE #5): deterministic grids / md5-ranked centers
# so DuckDB restates the full computation, not just a row count.
# --------------------------------------------------------------------------

def sigma_a_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed J7 double sum over 12×12 in-rectangle grids for the
    25 nation-derived zones (same zone dims + fitted model as
    sigma_a_zones), all zones in one plan."""
    from error_analysis_spark.operators.uncertainty import (
        brute_force_rect_by_zone,
    )
    nat = load_table(spark, sf_dir, "nation")
    zones = nat.select(
        F.concat(F.lit("z"), F.col("n_nationkey")).alias("zone_id"),
        (F.lit(60) + F.col("n_nationkey") % 5 * 10).cast("double")
        .alias("width"),
        (F.lit(40) + F.col("n_nationkey") % 3 * 10).cast("double")
        .alias("height"),
    )
    out = brute_force_rect_by_zone(zones, [0.04], [25.0], 0.002,
                                   grid_points=12)
    return out.select("zone_id", F.round("sigma_a", 6).alias("sigma_a"))


# grid x = i·w/11, i ∈ 0..11 (both endpoints, linspace convention);
# C(d) = (0.04+0.002) − γ(d); diagonal pairs carry the full sill;
# σ_A = √(ΣΣ C / N²), N = 144. The sill is written (0.04 + 0.002), not
# 0.042 — the engines must add the same two doubles, not parse a
# different nearest-double literal.
SIGMA_BRUTE_SQL = """
WITH z AS (
  SELECT 'z' || n_nationkey AS zone_id,
         CAST(60 + (n_nationkey % 5) * 10 AS DOUBLE) AS w,
         CAST(40 + (n_nationkey % 3) * 10 AS DOUBLE) AS h
  FROM nation
),
pts AS (
  SELECT zone_id, i * w / 11 AS x, j * h / 11 AS y
  FROM z, range(12) a(i), range(12) b(j)
),
pairs AS (
  SELECT p.zone_id,
         sqrt((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)) AS d,
         (p.x = q.x AND p.y = q.y) AS same
  FROM pts p JOIN pts q USING (zone_id)
),
cv AS (
  SELECT zone_id,
         CASE WHEN same THEN (0.04 + 0.002)
              ELSE (0.04 + 0.002) - (0.002 + CASE WHEN d <= 25.0
                THEN 0.04 * (1.5 * (d / 25.0) - 0.5 * power(d / 25.0, 3))
                ELSE 0.04 END) END AS c
  FROM pairs
)
SELECT zone_id,
       round(sqrt(greatest(sum(c) / 20736.0, 0.0)), 6) AS sigma_a
FROM cv GROUP BY zone_id
"""


def sigma_a_hugonnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+A12 over event-derived pixel centers: 60 centers ranked by
    md5(event_id) (cross-engine-reproducible draw), ρ(d) summed per
    center, averaged, scaled by σ²/N — one lazy plan, 1 row."""
    from error_analysis_spark.operators.uncertainty import estimate_hugonnet
    ev = load_table(spark, sf_dir, "events")
    px = ev.select(
        F.col("event_id").cast("bigint").alias("px_id"),
        (F.col("event_id") % 100).cast("double").alias("x"),
        (F.col("event_id") / 100).cast("int").cast("double").alias("y"),
    )
    out = estimate_hugonnet(
        px, [0.04], [25.0], 0.002, k_centers=60,
        order_col=F.md5(F.col("px_id").cast("string")))
    return out.select(F.round("sigma_a", 6).alias("sigma_a"))


SIGMA_HUGONNET_SQL = """
WITH px AS (
  SELECT CAST(event_id AS BIGINT) AS px_id,
         CAST(event_id % 100 AS DOUBLE) AS x,
         CAST(event_id // 100 AS DOUBLE) AS y
  FROM events
),
n AS (SELECT count(*) AS n FROM px),
centers AS (
  SELECT x AS cx, y AS cy, md5(CAST(px_id AS VARCHAR)) AS center_id
  FROM px ORDER BY md5(CAST(px_id AS VARCHAR)) LIMIT 60
),
j AS (
  SELECT center_id,
         sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy)) AS d
  FROM px, centers
),
rho AS (
  SELECT center_id, greatest(-1.0, least(1.0,
    ((0.04 + 0.002) - (0.002 + CASE WHEN d <= 25.0
       THEN 0.04 * (1.5 * (d / 25.0) - 0.5 * power(d / 25.0, 3))
       ELSE 0.04 END)) / (0.04 + 0.002))) AS r
  FROM j
),
pc AS (SELECT center_id, sum(r) AS sum_rho FROM rho GROUP BY center_id),
m AS (SELECT avg(sum_rho) AS mean_sum_rho FROM pc)
SELECT round(sqrt(greatest((0.04 + 0.002) * mean_sum_rho / n, 0.0)), 6)
       AS sigma_a
FROM m, n
"""


# --------------------------------------------------------------------------
# F1/F2 — point-cloud class filters (noise drop, ground keep):
# differencing_functions.py:794-798 (Classification![7:7],![18:18]),
# :903-908 (class 2 DTM path). Classification synthesized from event_id.
# --------------------------------------------------------------------------

def _class_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        (F.col("event_id") % 20).cast("int").alias("classification"),
        F.round(F.col("value"), 3).alias("z"),
    )


def f1_drop_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = PC.drop_noise(_class_points(spark, sf_dir))
    return pts.groupBy("classification").agg(
        F.count("*").alias("n"),
        F.round(F.avg("z"), 6).alias("mean_z"),
    )


F1_SQL = """
SELECT CAST(event_id % 20 AS INTEGER) AS classification,
       count(*) AS n, round(avg(round(value, 3)), 6) AS mean_z
FROM events
WHERE event_id % 20 NOT IN (7, 18)
GROUP BY 1
"""


def f2_keep_ground(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = PC.keep_ground(_class_points(spark, sf_dir))
    return pts.agg(
        F.count("*").alias("n_ground"),
        F.round(F.sqrt(F.avg(F.col("z") * F.col("z"))), 6).alias("rms_z"),
    )


F2_SQL = """
SELECT count(*) AS n_ground,
       round(sqrt(avg(round(value, 3) * round(value, 3))), 6) AS rms_z
FROM events WHERE event_id % 20 = 2
"""


# --------------------------------------------------------------------------
# A13 — valid-pixel counts per zone through the REAL zone membership
# (J2/R8/U6: scanline rasterization onto the 100×100 grid + (row, col)
# join): two rectangles + one diamond, geometry chosen so no pixel
# center lies on a polygon edge (pixel centers sit at half-integers;
# rect corners are integers, the diamond radius is 15.5 so |dx|+|dy| —
# always an integer for half-integer centers — never ties).
# --------------------------------------------------------------------------

def a13_zone_pixel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.fixtures import GridSpec
    from error_analysis_spark.operators import zones as ZN
    ev = load_table(spark, sf_dir, "events")
    px = ev.where(F.col("event_id") < 10000).select(
        (F.col("event_id") % 100).cast("int").alias("row"),
        (F.col("event_id") / 100).cast("int").alias("col"),
        F.when(F.col("event_id") % 37 != 0,
               F.round(F.col("value"), 3)).alias("value"),
    ).withColumn("x", F.col("col") + 0.5) \
     .withColumn("y", F.lit(100.0) - (F.col("row") + 0.5))
    zones = spark.createDataFrame(
        [("z_rect_a", "stable", "ra",
          "POLYGON ((10 10, 40 10, 40 40, 10 40, 10 10))"),
         ("z_rect_b", "unstable", "rb",
          "POLYGON ((30 20, 70 20, 70 60, 30 60, 30 20))"),
         ("z_diamond", "unstable", "d",
          "POLYGON ((34.5 70, 50 85.5, 65.5 70, 50 54.5, 34.5 70))")],
        ["zone_id", "kind", "name", "wkt"])
    member = ZN.membership(px, zones,
                           GridSpec("a13", 100, 100, 0.0, 100.0, 1.0))
    return ZN.zone_pixel_counts(member).orderBy("zone_id")


A13_SQL = """
WITH px AS (
  SELECT CAST(event_id // 100 AS INTEGER) + 0.5 AS x,
         100.0 - (CAST(event_id % 100 AS INTEGER) + 0.5) AS y
  FROM events
  WHERE event_id < 10000 AND event_id % 37 <> 0 AND value IS NOT NULL
),
m AS (
  SELECT 'z_rect_a' AS zone_id FROM px
    WHERE x > 10 AND x < 40 AND y > 10 AND y < 40
  UNION ALL
  SELECT 'z_rect_b' FROM px
    WHERE x > 30 AND x < 70 AND y > 20 AND y < 60
  UNION ALL
  SELECT 'z_diamond' FROM px
    WHERE abs(x - 50.0) + abs(y - 70.0) < 15.5
)
SELECT zone_id, count(*) AS n_pixels FROM m GROUP BY zone_id
ORDER BY zone_id
"""


# --------------------------------------------------------------------------
# SC16/U7 — UTM transform round-trip: the DuckDB oracle cannot restate
# the Krüger series, but it CAN assert the round-trip identity to 1e-9
# degrees (~0.1 mm) — the series round-trips at ~1e-14 deg, so forward∘
# inverse must reproduce the inputs bit-stably after round(·, 9). The
# ABSOLUTE accuracy of the forward leg is pinned by tests/test_crs.py
# against an independent numerical meridian-arc integral.
# --------------------------------------------------------------------------

def sc16_utm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.functions import crs as CRS
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 10000)
    pts = ev.select(
        "event_id",
        (F.lit(-108.0) + (F.col("event_id") % 600) / 100.0).alias("lon"),
        (F.lit(-40.0) + (F.col("event_id") % 1600) / 20.0).alias("lat"),
    )
    fwd = CRS.utm_forward_udf(13)
    inv = CRS.utm_inverse_udf(13)
    utm = pts.withColumn("p", fwd(F.col("lon"), F.col("lat")))
    back = utm.withColumn("g", inv(F.col("p.x"), F.col("p.y")))
    return back.select(
        "event_id",
        F.round("g.lon", 9).alias("lon_rt"),
        F.round("g.lat", 9).alias("lat_rt"),
    )


SC16_SQL = """
SELECT event_id,
       round(-108.0 + (event_id % 600) / 100.0, 9) AS lon_rt,
       round(-40.0 + (event_id % 1600) / 20.0, 9) AS lat_rt
FROM events WHERE event_id < 10000
"""


# --------------------------------------------------------------------------
# R1 (vertical leg) — geoid-offset shift: value + undulation via the
# broadcast geoid-cell join (GeoidTransformer semantics,
# differencing_functions.py:2239-2277). Geoid grid 12×12 @ res 10 with a
# deterministic undulation field both engines restate arithmetically.
# --------------------------------------------------------------------------

def r1_geoid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.fixtures import GridSpec
    from error_analysis_spark.functions import crs as CRS
    ev = load_table(spark, sf_dir, "events")
    px = ev.where((F.col("event_id") < 10000) & F.col("value").isNotNull()) \
        .select(
            (F.col("event_id") % 100).cast("int").alias("row"),
            (F.col("event_id") / 100).cast("int").alias("col"),
            F.round(F.col("value"), 3).alias("value"),
    ).withColumn("x", F.col("col") + 0.5) \
     .withColumn("y", F.lit(100.0) - (F.col("row") + 0.5))
    grid = GridSpec("geoid", width=12, height=12, x0=0.0, y0=120.0, res=10.0)
    geoid = spark.range(144).select(
        (F.col("id") / 12).cast("int").alias("row"),
        (F.col("id") % 12).cast("int").alias("col"),
        (((F.col("id") / 12).cast("int") * 7 + (F.col("id") % 12) * 13) % 50
         / 100.0 - 0.25).alias("offset"),
    )
    out = CRS.apply_geoid_offset(px, geoid, grid)
    return out.select("row", "col", F.round("value", 6).alias("shifted"))


R1_GEOID_SQL = """
WITH px AS (
  SELECT CAST(event_id % 100 AS INTEGER) AS row,
         CAST(event_id // 100 AS INTEGER) AS col,
         round(value, 3) AS value,
         CAST(event_id // 100 AS INTEGER) + 0.5 AS x,
         100.0 - (CAST(event_id % 100 AS INTEGER) + 0.5) AS y
  FROM events WHERE event_id < 10000 AND value IS NOT NULL
),
g AS (
  SELECT CAST(i // 12 AS INTEGER) AS grow, CAST(i % 12 AS INTEGER) AS gcol,
         ((i // 12) * 7 + (i % 12) * 13) % 50 / 100.0 - 0.25 AS offset
  FROM (SELECT range AS i FROM range(144))
)
SELECT px.row, px.col, round(px.value + g.offset, 6) AS shifted
FROM px JOIN g
  ON CAST(floor((120.0 - px.y) / 10.0) AS INTEGER) = g.grow
 AND CAST(floor(px.x / 10.0) AS INTEGER) = g.gcol
"""


# --------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): gap sessions + as-of join
# --------------------------------------------------------------------------

_SESS_GAP_MIN = 30


def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    return TP.sessionize(ev, gap_minutes=_SESS_GAP_MIN)


W4_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, value FROM events
),
l AS (
  SELECT user_id, tus, value,
         CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
                   IS NULL THEN 1
              WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
                   > {_SESS_GAP_MIN * 60_000_000} THEN 1
              ELSE 0 END AS new_s
  FROM e
),
g AS (
  SELECT user_id, tus, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM l
)
SELECT user_id,
       CAST(min(tus) AS BIGINT) AS session_start_us,
       CAST(max(tus) + {_SESS_GAP_MIN * 60_000_000} AS BIGINT)
         AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM g GROUP BY user_id, sid
"""


def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    return TP.asof_join(purchases, views, key_col="user_id",
                        ts_col="ts", id_col="event_id",
                        right_value_col="value")


J10_ASOF_SQL = """
WITH v AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id, value
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id AS probe_id,
       CAST(p.tus AS BIGINT) AS probe_ts_us,
       CAST(l.tus AS BIGINT) AS asof_ts_us,
       round(l.value, 6) AS asof_value,
       CAST(p.tus - l.tus AS BIGINT) AS lag_us
FROM p LEFT JOIN LATERAL (
  SELECT tus, value FROM v
  WHERE v.user_id = p.user_id AND v.tus <= p.tus
  ORDER BY tus DESC, event_id DESC LIMIT 1
) l ON TRUE
"""


_ROLL_MIN = 60


def w5_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour range-frame rolling count/sum/mean per user
    (operators/temporal.py:rolling_stats) — the "activity in the last
    hour" feature; RANGE frame so timestamp ties are peers in every
    engine."""
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    return TP.rolling_stats(ev, window_minutes=_ROLL_MIN)


W5_ROLLING_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events
)
SELECT user_id, event_id, CAST(tus AS BIGINT) AS ts_us,
       CAST(count(value) OVER w AS BIGINT) AS n_window,
       round(sum(value) OVER w, 6) AS sum_window,
       round(avg(value) OVER w, 6) AS mean_window
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN {_ROLL_MIN * 60_000_000} PRECEDING
                       AND CURRENT ROW)
"""


_FUNNEL_STEPS = ["view", "click", "purchase"]


def w7_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (operators/temporal.py:funnel_steps):
    earliest view -> later click -> later purchase per user; chained
    conditional min-aggregates, every join co-partitioned on the user
    key. Per-user step timestamps (epoch micros, NULL once dropped)."""
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    wide = TP.funnel_steps(ev, _FUNNEL_STEPS)
    return wide.select(
        "user_id",
        *[F.unix_micros(F.col(f"ts_{i}").cast("timestamp"))
          .alias(f"ts_{i}_us") for i in range(1, len(_FUNNEL_STEPS) + 1)])


W7_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t1
  FROM events WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND epoch_us(e.ts) > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND epoch_us(e.ts) > s2.t2
  GROUP BY e.user_id
)
SELECT s1.user_id, CAST(s1.t1 AS BIGINT) AS ts_1_us,
       CAST(s2.t2 AS BIGINT) AS ts_2_us,
       CAST(s3.t3 AS BIGINT) AS ts_3_us
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def w8_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/temporal.py:cohort_retention):
    cohort = ISO week of first event; retained in offset w if any
    event falls in [first+7w, first+7(w+1)) days. Two key-keyed aggs
    + one co-partitioned join; the distinct is bounded by
    keys x active weeks."""
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    return TP.cohort_retention(ev)


W8_RETENTION_SQL = """
WITH f AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT
         CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
         CAST(date_diff('day', CAST(f.first_ts AS DATE),
                        CAST(e.ts AS DATE)) // 7 AS BIGINT)
           AS week_offset,
         e.user_id
  FROM events e JOIN f USING (user_id)
),
c AS (
  SELECT cohort_week, week_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM a GROUP BY cohort_week, week_offset
)
SELECT c.cohort_week, c.week_offset, c.n_active,
       round(c.n_active / CAST(b.n_active AS DOUBLE), 6) AS retention
FROM c JOIN (SELECT cohort_week, n_active FROM c WHERE week_offset = 0) b
  USING (cohort_week)
"""


_ANOM_DAYS = 28
_ANOM_Z = 3
_ANOM_MIN = 14


_ANOM_K = 10


def w9_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most anomalous (event_type, day) volume cells
    (operators/temporal.py:anomaly_days, ranked mode): trailing-28-day
    exact-integer z² statistic over the bounded daily-count table —
    no float mean/stddev/sqrt crosses engines, the two exact integers
    meet in one IEEE division. (The production threshold mode z>3 is
    the same pipeline; the synthetic events are too smooth to trip it,
    so the oracle gates the ranked form — a 0-row check verifies
    nothing.)"""
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    out = TP.anomaly_days(ev, trailing_days=_ANOM_DAYS, z=_ANOM_Z,
                          min_baseline=_ANOM_MIN, top_k=_ANOM_K)
    return out.select("event_type",
                      F.date_format("day", "yyyy-MM-dd").alias("day"),
                      "n_events", "n_baseline", "base_sum", "z2")


W9_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, ed
),
d AS (
  SELECT event_type, ed, n_events,
         CAST(count(n_events) OVER w AS BIGINT) AS n,
         CAST(sum(n_events) OVER w AS BIGINT) AS s,
         CAST(sum(n_events * n_events) OVER w AS BIGINT) AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY ed
               RANGE BETWEEN {_ANOM_DAYS} PRECEDING AND 1 PRECEDING)
),
e AS (
  SELECT event_type, ed, n_events, n, s,
         (CAST(n_events AS HUGEINT) * n - s)
         * (CAST(n_events AS HUGEINT) * n - s) AS dev2,
         CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS var_n
  FROM d WHERE n >= {_ANOM_MIN}
)
SELECT event_type,
       strftime(DATE '1970-01-01' + INTERVAL (ed) DAY, '%Y-%m-%d') AS day,
       n_events, n AS n_baseline, s AS base_sum,
       round(CAST(dev2 AS DOUBLE) / CAST(var_n AS DOUBLE), 6) AS z2
FROM e
WHERE var_n > 0
ORDER BY z2 DESC, event_type, ed
LIMIT {_ANOM_K}
"""


def w10_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time
    (operators/temporal.py:trend_slope): closed-form regression from
    five exact-integer moment sums in ONE map-side-combinable
    aggregation — no window, no sort, no second pass at any scale."""
    from error_analysis_spark.operators import temporal as TP
    ev = load_table(spark, sf_dir, "events")
    return TP.trend_slope(ev)


W10_TREND_SQL = """
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS HUGEINT)) AS st,
         sum(CAST(round(value * 1e6) AS HUGEINT)) AS sv,
         sum(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS HUGEINT)
             * CAST(round(value * 1e6) AS BIGINT)) AS stv,
         sum(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS HUGEINT)
             * date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
           AS stt,
         sum(CAST(round(value * 1e6) AS HUGEINT)
             * CAST(round(value * 1e6) AS BIGINT)) AS svv
  FROM events GROUP BY event_type
)
SELECT event_type, n AS n_events,
       CASE WHEN CAST(n * stt - st * st AS DOUBLE) > 0 THEN
         round(CAST(n * stv - st * sv AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) / 1e6, 8) END
         AS slope_per_day,
       CASE WHEN CAST(n * stt - st * st AS DOUBLE)
                 * CAST(n * svv - sv * sv AS DOUBLE) > 0 THEN
         round(CAST(n * stv - st * sv AS DOUBLE)
               / sqrt(CAST(n * stt - st * st AS DOUBLE)
                      * CAST(n * svv - sv * sv AS DOUBLE)), 6) END
         AS pearson_r
FROM m
"""


def w11_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user state-transition log (SCD2-style change capture): for
    each user's event stream ordered by (ts, event_id), the rows where
    event_type changed vs the previous event — the lag-window change-
    detection idiom. Window partitions per user (bounded), output is
    the transition log keyed (user, ts)."""
    ev = load_table(spark, sf_dir, "events")
    d = (ev.select("user_id", "event_id", "event_type",
                   F.unix_micros(F.col("ts").cast("timestamp"))
                   .alias("ts_us"))
         .withColumn("_prev", F.lag("event_type").over(
             W.partitionBy("user_id").orderBy("ts_us", "event_id"))))
    return (d.where(F.col("_prev").isNotNull()
                    & (F.col("_prev") != F.col("event_type")))
            .select("user_id", "event_id", "ts_us",
                    F.col("_prev").alias("from_type"),
                    F.col("event_type").alias("to_type")))


W11_TRANSITIONS_SQL = """
WITH d AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
)
SELECT user_id, event_id, CAST(ts_us AS BIGINT) AS ts_us,
       prev AS from_type, event_type AS to_type
FROM d WHERE prev IS NOT NULL AND prev <> event_type
"""


def w12_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next = to | current = from), from consecutive-event
    pairs (the lag window of w11, here WITHOUT the change filter so
    self-transitions count).

    The pair log collapses to a (from, to) count table bounded by
    |event types|²; the row-normalizing totals join broadcast. The
    probability divides two exact integers, rounded once."""
    ev = load_table(spark, sf_dir, "events")
    d = (ev.select("user_id", "event_id", "event_type",
                   F.unix_micros(F.col("ts").cast("timestamp"))
                   .alias("ts_us"))
         .withColumn("_prev", F.lag("event_type").over(
             W.partitionBy("user_id").orderBy("ts_us", "event_id"))))
    pairs = (d.where(F.col("_prev").isNotNull())
             .groupBy(F.col("_prev").alias("from_type"),
                      F.col("event_type").alias("to_type"))
             .agg(F.count("*").alias("n_pairs")))
    totals = pairs.groupBy("from_type").agg(F.sum("n_pairs").alias("_t"))
    return (pairs.join(F.broadcast(totals), "from_type")
            .select("from_type", "to_type", "n_pairs",
                    F.round(F.col("n_pairs")
                            / F.col("_t").cast("double"), 6)
                    .alias("p")))


W12_TRANSITION_SQL = """
WITH d AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
),
pairs AS (
  SELECT prev AS from_type, event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM d WHERE prev IS NOT NULL
  GROUP BY prev, event_type
),
t AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS tt
      FROM pairs GROUP BY from_type)
SELECT from_type, to_type, n_pairs,
       round(n_pairs / CAST(tt AS DOUBLE), 6) AS p
FROM pairs JOIN t USING (from_type)
"""


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def curation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report over the documents table — the
    data-quality pass every ingest runs first: per column, null count,
    exact distinct count, and min/max rendered as strings.

    ONE corpus scan: all per-column aggregates evaluate in a single
    Aggregate node (null counts and min/max are plain expressions;
    the distincts share one Expand — |cols|× the scan rows map-side,
    each branch partial-aggregated before the shuffle). Output is
    |cols| rows at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        col = F.col(c)
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .alias(f"{c}__nulls"),
            F.countDistinct(col).alias(f"{c}__distinct"),
            F.min(col.cast("string")).alias(f"{c}__min"),
            F.max(col.cast("string")).alias(f"{c}__max"),
        ]
    one = docs.agg(F.count("*").alias("n_rows"), *aggs)
    struct_rows = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col("n_rows"),
                 F.col(f"{c}__nulls").alias("n_nulls"),
                 F.col(f"{c}__distinct").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_str"),
                 F.col(f"{c}__max").alias("max_str"))
        for c in _PROFILE_COLS])
    return (one.select(F.explode(struct_rows).alias("_r"))
            .select("_r.column", "_r.n_rows", "_r.n_nulls",
                    "_r.n_distinct", "_r.min_str", "_r.max_str"))


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
  SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
         min(CAST({c} AS VARCHAR)) AS min_str,
         max(CAST({c} AS VARCHAR)) AS max_str
  FROM documents""")
    return "\nUNION ALL\n".join(parts)


PROFILE_SQL = _profile_sql()


def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct users via the value-salted two-phase
    distinct (operators/skew.py:salted_count_distinct) — the hot-key-
    safe form of COUNT(DISTINCT); the oracle is the PLAIN distinct, so
    the gate proves salting changes the plan, not the answer."""
    from error_analysis_spark.operators import skew as SKW
    ev = load_table(spark, sf_dir, "events")
    return SKW.salted_count_distinct(ev, "event_type", "user_id")


SALTED_DISTINCT_SQL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# J11 — batch interval join (the declared form of the stream-stream
# interval join; test_streaming_joins proves stream ≡ batch, this row
# gives the shared builder a driver green). Probes = every 5th event;
# candidates = the rest; correlate per user within a 30-minute band.
# The equi-key (user) carries the join — the range is a residual
# filter on co-partitioned rows, never a cross/theta join.
# --------------------------------------------------------------------------

def j11_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session timeZone=UTC is pinned by the harness (the
    # __spark_entry__ queries() wrapper for the driver's foreign
    # session; session.get_spark — used by tests/bench — builds with
    # it), not mutated here: a query-local conf set would make later
    # timezone-sensitive queries order-dependent (ADVICE r05)
    from error_analysis_spark.streaming.joins import batch_interval_join
    ev = load_table(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    left = ev.where(F.col("event_id") % 5 == 0)
    right = ev.where(F.col("event_id") % 5 != 0)
    out = batch_interval_join(left, right, max_lag_minutes=30)
    return out.select("user_id", "l_id", "l_ts_us", "r_id", "r_ts_us",
                      "lag_s")


J11_INTERVAL_SQL = """
SELECT l.user_id,
       l.event_id AS l_id, epoch_us(l.ts) AS l_ts_us,
       r.event_id AS r_id, epoch_us(r.ts) AS r_ts_us,
       CAST((epoch_us(l.ts) - epoch_us(r.ts)) // 1000000 AS BIGINT)
         AS lag_s
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts > l.ts - INTERVAL 1800 SECONDS
 AND r.ts <= l.ts
WHERE l.event_id % 5 = 0 AND r.event_id % 5 <> 0
"""


# --------------------------------------------------------------------------
# Z-order clustering key (functions/layout.py): Morton-interleaved
# (row, col) derived from event ids, bucketed by the key's high bits.
# The per-bucket bbox spans prove the locality property the layout
# exists for: every 256-key bucket covers a 16×16 tile of the 256×256
# grid (the same 256 keys of a row-major sort span a 1×256 strip —
# no column-pruning power at all).
# --------------------------------------------------------------------------

def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.functions.layout import zorder_key
    ev = load_table(spark, sf_dir, "events")
    g = ev.select((F.col("event_id") % 256).alias("row"),
                  F.pmod((F.col("event_id") / 256).cast("long"),
                         F.lit(256)).alias("col"))
    z = g.select("row", "col", zorder_key("row", "col", bits=8).alias("zkey"))
    return (z.groupBy(F.shiftright("zkey", 8).alias("zbucket"))
            .agg(F.count("*").alias("n"),
                 F.min("row").alias("min_row"), F.max("row").alias("max_row"),
                 F.min("col").alias("min_col"), F.max("col").alias("max_col"),
                 F.min("zkey").alias("zmin"), F.max("zkey").alias("zmax")))


def _zorder_sql() -> str:
    from error_analysis_spark.functions.layout import zorder_sql_expr
    return f"""
WITH g AS (
  SELECT event_id % 256 AS row, (event_id // 256) % 256 AS col
  FROM events
),
z AS (
  SELECT row, col, {zorder_sql_expr('row', 'col', bits=8)} AS zkey FROM g
)
SELECT zkey >> 8 AS zbucket, CAST(count(*) AS BIGINT) AS n,
       min(row) AS min_row, max(row) AS max_row,
       min(col) AS min_col, max(col) AS max_col,
       min(zkey) AS zmin, max(zkey) AS zmax
FROM z GROUP BY zbucket
"""


LAYOUT_ZORDER_SQL = _zorder_sql()


MISC_QUERIES: dict[str, tuple] = {
    "j11_interval_join": (j11_interval_join, J11_INTERVAL_SQL),
    "layout_zorder": (layout_zorder, LAYOUT_ZORDER_SQL),
    "w4_sessionize": (w4_sessionize, W4_SESSION_SQL),
    "w7_funnel": (w7_funnel, W7_FUNNEL_SQL),
    "w8_retention": (w8_retention, W8_RETENTION_SQL),
    "j10_asof_join": (j10_asof_join, J10_ASOF_SQL),
    "w5_rolling_stats": (w5_rolling_stats, W5_ROLLING_SQL),
    "w9_anomaly_days": (w9_anomaly_days, W9_ANOMALY_SQL),
    "w10_trend_slope": (w10_trend_slope, W10_TREND_SQL),
    "w11_transitions": (w11_transitions, W11_TRANSITIONS_SQL),
    "w12_transition_matrix": (w12_transition_matrix, W12_TRANSITION_SQL),
    "curation_profile": (curation_profile, PROFILE_SQL),
    "skew_salted_distinct": (skew_salted_distinct, SALTED_DISTINCT_SQL),
    "sc6_gps_dates": (sc6_gps_dates, SC6_SQL),
    "sc2_catalog_parse": (sc2_catalog_parse, SC2_SQL),
    "f6_percentile_clip": (f6_percentile_clip, F6_SQL),
    "a14_closed_form": (a14_closed_form, A14_SQL),
    "a15_param_percentiles": (a15_param_percentiles, A15_SQL),
    "sigma_a_zones": (sigma_a_zones, SIGMA_A_SQL),
    "sigma_a_brute": (sigma_a_brute, SIGMA_BRUTE_SQL),
    "sigma_a_hugonnet": (sigma_a_hugonnet, SIGMA_HUGONNET_SQL),
    "f1_drop_noise": (f1_drop_noise, F1_SQL),
    "f2_keep_ground": (f2_keep_ground, F2_SQL),
    "a13_zone_pixel_counts": (a13_zone_pixel_counts, A13_SQL),
    "sc16_utm_roundtrip": (sc16_utm_roundtrip, SC16_SQL),
    "r1_geoid_shift": (r1_geoid_shift, R1_GEOID_SQL),
}
