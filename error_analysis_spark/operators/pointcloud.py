"""Point-cloud → DEM pipeline — SURVEY.md §2 S8 (gridding), R3 (gap-fill),
F1-F4 (class filters), SC6 (GPS time → date), plus the E1 entry chain
(differencing_functions.py:1547-1841, 1650-1764).

Reference semantics:
- noise filter: drop Classification ∈ {7, 18} (differencing_functions.py:794-798)
- ground filter: keep Classification == 2 for DTM (:903-908)
- gridding: PDAL writers.gdal bins points into cells, aggregating by
  `max` (DSM) or `idw` over a radius of 2×res (DTM) (:666-705, 889-921)
- gap-fill: gdal.FillNodata inverse-distance within max_dist (:588-661)
- GPS time: epoch 1980-01-06, +1e9 s LAS-1.4 adjustment (:1559-1567)

Spark-first design
------------------
Gridding is ONE hash aggregate: `groupBy(floor cell)` with `max(z)` for
DSM.  The IDW variant (points within radius 2·res of each cell center)
is a bounded neighbor-cell fan-out: each point contributes to the ≤ 9
cells whose center lies within the radius (radius 2·res ⇒ 5×5 cell
window bound, enumerated statically), then one aggregate computes
Σ(w·z)/Σ(w).  Shuffle volume is O(points × windowcells), never a
crossJoin — and partial aggregation combines map-side.

Gap-fill is a bounded range join: candidate donor pixels fan out to the
tile neighborhood within `max_dist` cells, missing cells take
Σ(w·v)/Σ(w) over donors with w = 1/d².  Donor fan-out uses the same
static cell-window enumeration, so the join is an equi-join on the
window cell key — Catalyst plans a plain shuffle join, no theta join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from error_analysis_spark.fixtures import GridSpec

NOISE_CLASSES = (7, 18)   # differencing_functions.py:794-798
GROUND_CLASS = 2          # :903-908


def drop_noise(points: DataFrame) -> DataFrame:
    """F1 — Classification![7:7], Classification![18:18]."""
    return points.where(~F.col("classification").isin(*NOISE_CLASSES))


def keep_ground(points: DataFrame) -> DataFrame:
    """F2 — DTM path keeps ground returns only."""
    return points.where(F.col("classification") == GROUND_CLASS)


def gps_time_to_date(gps_s: Column) -> Column:
    """SC6 — GPS seconds → date (point-cloud-side alias; the single
    implementation lives in functions/scalars.py with the epoch and
    LAS-1.4 offset constants)."""
    from error_analysis_spark.functions.scalars import gps_seconds_to_date
    return gps_seconds_to_date(gps_s)


def _cell(points: DataFrame, grid: GridSpec, clip: bool = True) -> DataFrame:
    """Assign each point to its home cell (SC13 inverse transform).
    ``clip=False`` keeps out-of-bounds home cells — required when the
    points are DONORS that fan out to neighbors (a point just outside
    the grid crop still informs in-bounds cells within its radius)."""
    cells = (
        points
        .withColumn("row", F.floor((F.lit(grid.y0) - F.col("y")) / F.lit(grid.res))
                    .cast("int"))
        .withColumn("col", F.floor((F.col("x") - F.lit(grid.x0)) / F.lit(grid.res))
                    .cast("int"))
    )
    if not clip:
        return cells
    return cells.where(
        (F.col("row") >= 0) & (F.col("row") < grid.height)
        & (F.col("col") >= 0) & (F.col("col") < grid.width))


def grid_max(points: DataFrame, grid: GridSpec) -> DataFrame:
    """S8 DSM — max-z per cell (writers.gdal output_type=max,
    differencing_functions.py:889-901). One hash aggregate."""
    return (
        _cell(points, grid)
        .groupBy("row", "col")
        .agg(F.max("z").alias("value"))
    )


def grid_idw(points: DataFrame, grid: GridSpec,
             radius_factor: float = 2.0) -> DataFrame:
    """S8 DTM — inverse-distance-weighted z over points within
    radius = radius_factor·res of each cell center (writers.gdal
    idw defaults, differencing_functions.py:666-705).

    Each point fans out only to cells whose center can be within the
    radius — a static (2·ceil(rf)+1)² window — then one aggregate per
    cell computes Σ(w·z)/Σ(w), w = 1/d² (exact-center hits take the
    point value). Map-side partial aggregation keeps the shuffle at
    one row per (cell, partition).
    """
    import math
    r = int(math.ceil(radius_factor))
    radius = radius_factor * grid.res
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in range(-r, r + 1) for dx in range(-r, r + 1)
    ])
    # donors must NOT be clipped to the grid: a point outside the crop
    # is still a legitimate within-radius donor for edge cells (PDAL
    # writers.gdal semantics; target cells are clipped after fan-out)
    pts = _cell(points, grid, clip=False).select("row", "col", "x", "y", "z")
    fanned = (
        pts.withColumn("o", F.explode(offsets))
        .select((F.col("row") + F.col("o.dy")).alias("row"),
                (F.col("col") + F.col("o.dx")).alias("col"),
                "x", "y", "z")
        .where((F.col("row") >= 0) & (F.col("row") < grid.height)
               & (F.col("col") >= 0) & (F.col("col") < grid.width))
    )
    cx = F.lit(grid.x0) + (F.col("col") + 0.5) * F.lit(grid.res)
    cy = F.lit(grid.y0) - (F.col("row") + 0.5) * F.lit(grid.res)
    d = F.hypot(F.col("x") - cx, F.col("y") - cy)
    w = 1.0 / (d * d)
    hit = d < F.lit(grid.res) * 1e-9
    return (
        fanned.where(d <= F.lit(radius))
        .groupBy("row", "col")
        .agg(
            F.max(F.when(hit, F.col("z"))).alias("_exact"),
            (F.sum(F.when(~hit, w * F.col("z"))) /
             F.sum(F.when(~hit, w))).alias("_idw"),
        )
        .select("row", "col",
                F.coalesce("_exact", "_idw").alias("value"))
    )


def fill_nodata_idw(pixels: DataFrame, grid: GridSpec,
                    max_dist: float = 100.0) -> DataFrame:
    """R3 — fill NULL cells by inverse-distance weighting of valid
    pixels within `max_dist` cells (gdal.FillNodata semantics,
    differencing_functions.py:588-661).

    Scale path: donors fan out to coarse buckets of side `max_dist`
    cells; each missing cell joins its own bucket + 8 neighbors (the
    J4 trick), so donor candidates are distance-bounded before the
    weight computation. For typical gap fractions (~3%) the missing
    side is small; the donor fan-out is ≤ 9×valid but filtered by the
    bucket equi-join key, and AQE splits any hot bucket.

    Output: the full pixel set with filled values (filled flag marks
    synthesized cells).
    """
    valid = pixels.where(F.col("value").isNotNull())
    missing = pixels.where(F.col("value").isNull()).select("row", "col")
    b = int(max(1, max_dist))
    donors = (
        valid.select("row", "col", "value")
        .withColumn("o", F.explode(F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])))
        .select(
            ((F.col("row") / b).cast("int") + F.col("o.dy")).alias("by"),
            ((F.col("col") / b).cast("int") + F.col("o.dx")).alias("bx"),
            F.col("row").alias("s_row"), F.col("col").alias("s_col"), "value",
        )
    )
    targets = missing.select(
        (F.col("row") / b).cast("int").alias("by"),
        (F.col("col") / b).cast("int").alias("bx"),
        "row", "col",
    )
    d2 = ((F.col("row") - F.col("s_row")) ** 2
          + (F.col("col") - F.col("s_col")) ** 2)
    w = 1.0 / d2
    filled = (
        targets.join(donors, ["by", "bx"])
        .where(d2 <= F.lit(float(max_dist) ** 2))
        .groupBy("row", "col")
        .agg((F.sum(w * F.col("value")) / F.sum(w)).alias("value"))
        .withColumn("filled", F.lit(True))
    )
    # cells with NO donor within max_dist stay nodata — emit them as
    # explicit NULL rows (gdal.FillNodata leaves them in place; dropping
    # them would shrink the raster for downstream mask/area consumers)
    unreachable = (missing.join(filled.select("row", "col"),
                                ["row", "col"], "left_anti")
                   .select("row", "col",
                           F.lit(None).cast("double").alias("value"),
                           F.lit(False).alias("filled")))
    keep = valid.select("row", "col", "value").withColumn("filled", F.lit(False))
    return keep.unionByName(filled).unionByName(unreachable)


def fill_nodata_nearest(pixels: DataFrame, grid: GridSpec,
                        max_dist: float = 100.0) -> DataFrame:
    """R3 (nearest variant) — fill NULL cells with the value of the
    nearest valid pixel within `max_dist` (griddata(method='nearest')
    semantics, differencing_functions.py:1796-1797, distance-bounded
    like gdal.FillNodata). Same bucketed donor join as the IDW path;
    the pick is one `min_by` with a (d², row, col) struct key so ties
    resolve deterministically on any cluster."""
    valid = pixels.where(F.col("value").isNotNull())
    missing = pixels.where(F.col("value").isNull()).select("row", "col")
    b = int(max(1, max_dist))
    donors = (
        valid.select("row", "col", "value")
        .withColumn("o", F.explode(F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])))
        .select(
            ((F.col("row") / b).cast("int") + F.col("o.dy")).alias("by"),
            ((F.col("col") / b).cast("int") + F.col("o.dx")).alias("bx"),
            F.col("row").alias("s_row"), F.col("col").alias("s_col"), "value",
        )
    )
    targets = missing.select(
        (F.col("row") / b).cast("int").alias("by"),
        (F.col("col") / b).cast("int").alias("bx"),
        "row", "col",
    )
    d2 = ((F.col("row") - F.col("s_row")) ** 2
          + (F.col("col") - F.col("s_col")) ** 2)
    key = F.struct(d2.alias("d2"), F.col("s_row"), F.col("s_col"))
    filled = (
        targets.join(donors, ["by", "bx"])
        .where(d2 <= F.lit(float(max_dist) ** 2))
        .groupBy("row", "col")
        .agg(F.min_by(F.col("value"), key).alias("value"))
        .withColumn("filled", F.lit(True))
    )
    unreachable = (missing.join(filled.select("row", "col"),
                                ["row", "col"], "left_anti")
                   .select("row", "col",
                           F.lit(None).cast("double").alias("value"),
                           F.lit(False).alias("filled")))
    keep = valid.select("row", "col", "value").withColumn("filled", F.lit(False))
    return keep.unionByName(filled).unionByName(unreachable)


def tps_solve_eval(dx: np.ndarray, dy: np.ndarray, dv: np.ndarray,
                   qx: np.ndarray, qy: np.ndarray) -> np.ndarray:
    """Thin-plate-spline interpolation, scipy-free: solve K·w = v with
    K_ij = r²·log r (U(0) = 0) over donor points, evaluate at queries —
    the same system scipy's `Rbf(function='thin_plate')` solves
    (reference fallback, differencing_functions.py:1798-1800)."""
    def kernel(r2):
        with np.errstate(divide="ignore", invalid="ignore"):
            out = 0.5 * r2 * np.log(r2)  # r² log r = ½ r² log r²
        return np.where(r2 > 0, out, 0.0)

    r2 = ((dx[:, None] - dx[None, :]) ** 2
          + (dy[:, None] - dy[None, :]) ** 2)
    k = kernel(r2)
    try:
        w = np.linalg.solve(k, dv)
    except np.linalg.LinAlgError:
        w = np.linalg.lstsq(k, dv, rcond=None)[0]
    rq = ((qx[:, None] - dx[None, :]) ** 2
          + (qy[:, None] - dy[None, :]) ** 2)
    return kernel(rq) @ w


def fill_nodata_tps(pixels: DataFrame, grid: GridSpec,
                    max_dist: float = 100.0,
                    max_donors: int = 1500) -> DataFrame:
    """R3 (spline variant) — thin-plate-spline fill (reference 'spline'
    method, Rbf thin_plate, differencing_functions.py:1798-1800), made
    distributable: missing cells group by coarse bucket (side =
    max_dist), donors fan to the 9 neighboring buckets, and one
    `applyInPandas` task per bucket solves a TPS over its ≤ max_donors
    nearest donors then evaluates every hole in the bucket.

    The reference solves ONE dense system over all valid pixels — O(N³)
    and single-node-only; bucketing bounds each solve while keeping
    every donor within max_dist of the bucket it informs (donors
    farther than max_dist from the bucket rectangle are dropped before
    the solve), and holes with NO donor within max_dist stay unfilled
    (value NULL, filled=false — the same reachability contract as the
    idw/nearest/linear/cubic variants, so switching methods never
    changes which cells are fillable). Deterministic: donor cap keeps
    the smallest (d²-to-bucket-center, row, col)."""
    import pandas as pd

    valid = pixels.where(F.col("value").isNotNull())
    missing = pixels.where(F.col("value").isNull()).select("row", "col")
    b = int(max(1, max_dist))
    donors = (
        valid.select("row", "col", "value")
        .withColumn("o", F.explode(F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])))
        .select(
            ((F.col("row") / b).cast("int") + F.col("o.dy")).alias("by"),
            ((F.col("col") / b).cast("int") + F.col("o.dx")).alias("bx"),
            F.col("row").alias("s_row"), F.col("col").alias("s_col"), "value",
        )
        .withColumn("is_donor", F.lit(True))
    )
    targets = missing.select(
        (F.col("row") / b).cast("int").alias("by"),
        (F.col("col") / b).cast("int").alias("bx"),
        F.col("row").alias("s_row"), F.col("col").alias("s_col"),
    ).withColumn("value", F.lit(None).cast("double")) \
     .withColumn("is_donor", F.lit(False))
    both = donors.unionByName(targets)

    def _unfilled(q: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "row": q["s_row"].astype("int32"),
            "col": q["s_col"].astype("int32"),
            "value": pd.array([pd.NA] * len(q), dtype="Float64"),
            "filled": False})

    def solve(key, pdf: pd.DataFrame) -> pd.DataFrame:
        by, bx = int(key[0]), int(key[1])
        dn = pdf[pdf["is_donor"]]
        q = pdf[~pdf["is_donor"]]
        if len(q) == 0:
            return pd.DataFrame({"row": pd.Series(dtype="int32"),
                                 "col": pd.Series(dtype="int32"),
                                 "value": pd.Series(dtype="float64"),
                                 "filled": pd.Series(dtype="bool")})
        dx = dn["s_row"].to_numpy(np.float64)
        dy = dn["s_col"].to_numpy(np.float64)
        dv = dn["value"].to_numpy(np.float64)
        # drop donors farther than max_dist from the bucket rectangle —
        # they cannot be within max_dist of any hole in this bucket
        lo_r, hi_r = by * b, (by + 1) * b - 1
        lo_c, hi_c = bx * b, (bx + 1) * b - 1
        dr = np.maximum(np.maximum(lo_r - dx, dx - hi_r), 0.0)
        dc = np.maximum(np.maximum(lo_c - dy, dy - hi_c), 0.0)
        near = dr * dr + dc * dc <= max_dist * max_dist
        dx, dy, dv = dx[near], dy[near], dv[near]
        if len(dx) == 0:
            return _unfilled(q)
        if len(dx) > max_donors:
            cy, cx = (by + 0.5) * b, (bx + 0.5) * b
            d2c = (dx - cy) ** 2 + (dy - cx) ** 2
            order = np.lexsort((dy, dx, d2c))[:max_donors]
            dx, dy, dv = dx[order], dy[order], dv[order]
        qr = q["s_row"].to_numpy(np.float64)
        qc = q["s_col"].to_numpy(np.float64)
        # a hole is fillable only if SOME donor lies within max_dist
        d2 = (qr[:, None] - dx[None, :]) ** 2 + (qc[:, None] - dy[None, :]) ** 2
        reachable = d2.min(axis=1) <= max_dist * max_dist
        out = _unfilled(q)
        if reachable.any():
            vals = tps_solve_eval(dx, dy, dv, qr[reachable], qc[reachable])
            out.loc[reachable, "value"] = vals
            out.loc[reachable, "filled"] = True
        return out

    filled = both.groupBy("by", "bx").applyInPandas(
        solve, "row int, col int, value double, filled boolean")
    keep = valid.select("row", "col", "value").withColumn("filled", F.lit(False))
    return keep.unionByName(filled)


def _axis_estimate(pixels: DataFrame, part: str, ordc: str,
                   max_dist: float, cubic: bool,
                   both: bool = False) -> DataFrame:
    """One directional interpolation pass: for every NULL cell, the
    nearest valid neighbor on each side along `ordc` within the
    partition `part` (a single grid row or column), plus — for the
    cubic form — each neighbor's own next-outward valid support point.

    Shuffle-safe by construction: the window partitions on the grid
    line (one raster row/column per partition, bounded by the raster
    width), never globally. Returns (row, col, est) with est NULL where
    the direction has no bracketing donors within max_dist."""
    from pyspark.sql import Window

    valid = pixels.where(F.col("value").isNotNull())
    wv = Window.partitionBy(part).orderBy(ordc)
    donor = valid.select(
        "row", "col",
        F.struct(
            F.col(ordc).cast("double").alias("pos"),
            F.col("value").alias("val"),
            F.lag(ordc).over(wv).cast("double").alias("o_pos"),
            F.lag("value").over(wv).alias("o_val"),
            F.lead(ordc).over(wv).cast("double").alias("i_pos"),
            F.lead("value").over(wv).alias("i_val"),
        ).alias("d"),
    )
    target = (pixels.where(F.col("value").isNull())
              .select("row", "col",
                      F.lit(None).cast(donor.schema["d"].dataType).alias("d")))
    u = donor.unionByName(target)
    w = Window.partitionBy(part).orderBy(ordc)
    lft = F.last("d", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    rgt = F.first("d", ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing))
    c = F.col(ordc).cast("double")
    scanned = (u.withColumn("_l", lft).withColumn("_r", rgt)
               .where(F.col("d").isNull())
               .select("row", "col", c.alias("_c"), "_l", "_r"))

    cpos = F.col("_c")
    l, r = F.col("_l"), F.col("_r")
    inner_ok = (l.isNotNull() & r.isNotNull()
                & ((cpos - l["pos"]) <= F.lit(float(max_dist)))
                & ((r["pos"] - cpos) <= F.lit(float(max_dist))))
    linear = l["val"] + (r["val"] - l["val"]) * (cpos - l["pos"]) \
        / (r["pos"] - l["pos"])
    est_lin = F.when(inner_ok, linear)
    if cubic or both:
        outer_ok = l["o_pos"].isNotNull() & r["i_pos"].isNotNull()
        xs = [l["o_pos"], l["pos"], r["pos"], r["i_pos"]]
        ys = [l["o_val"], l["val"], r["val"], r["i_val"]]
        terms = []
        for i in range(4):
            num, den = None, None
            for j in range(4):
                if j == i:
                    continue
                num = (cpos - xs[j]) if num is None else num * (cpos - xs[j])
                den = (xs[i] - xs[j]) if den is None else den * (xs[i] - xs[j])
            terms.append(ys[i] * num / den)
        lagrange = ((terms[0] + terms[1]) + terms[2]) + terms[3]
        est_cub = (F.when(inner_ok & outer_ok, lagrange)
                   .when(inner_ok, linear))
    if both:
        # one scan feeds BOTH estimates (the cubic support is a
        # superset of the linear one)
        return scanned.select("row", "col", est_lin.alias("est_lin"),
                              est_cub.alias("est_cub"))
    est = est_cub if cubic else est_lin
    return scanned.select("row", "col", est.alias("est"))


def _fill_directional(pixels: DataFrame, grid: GridSpec,
                      max_dist: float, cubic: bool) -> DataFrame:
    """Shared body of the linear/cubic fills: interpolate along grid
    rows and along grid columns independently, average the directions
    that bracket the hole. A hole bracketed in neither direction stays
    nodata (the directional analog of griddata's convex-hull rule)."""
    h = _axis_estimate(pixels, "row", "col", max_dist, cubic)
    v = _axis_estimate(pixels, "col", "row", max_dist, cubic)
    # avg of two doubles ≡ (h+v)/2 and ignores a NULL side — one
    # union + aggregate instead of an outer join (one shuffle fewer)
    combined = (h.unionByName(v)
                .groupBy("row", "col")
                .agg(F.avg("est").alias("value")))
    filled = (combined.where(F.col("value").isNotNull())
              .withColumn("filled", F.lit(True)))
    unreachable = (combined.where(F.col("value").isNull())
                   .select("row", "col",
                           F.lit(None).cast("double").alias("value"),
                           F.lit(False).alias("filled")))
    keep = (pixels.where(F.col("value").isNotNull())
            .select("row", "col", "value")
            .withColumn("filled", F.lit(False)))
    return keep.unionByName(filled).unionByName(unreachable)


def fill_nodata_linear(pixels: DataFrame, grid: GridSpec,
                       max_dist: float = 100.0) -> DataFrame:
    """R3 (linear variant) — scipy-free stand-in for
    `griddata(method='linear')` (differencing_functions.py:1766-1807):
    each hole is linearly interpolated between its nearest valid
    neighbors along its grid row and along its grid column (both
    donors within `max_dist`), and the two directional estimates are
    averaged. Interior-only, like griddata: a hole with no bracketing
    pair in either direction stays nodata. Windows partition on single
    grid lines, so the scan parallelizes across rows/columns with no
    global sort."""
    return _fill_directional(pixels, grid, max_dist, cubic=False)


def fill_nodata_cubic(pixels: DataFrame, grid: GridSpec,
                      max_dist: float = 100.0) -> DataFrame:
    """R3 (cubic variant) — scipy-free stand-in for
    `griddata(method='cubic')`: per direction, a 4-point Lagrange
    cubic through the two nearest valid neighbors on each side
    (inner pair within `max_dist`; outer supports unbounded), falling
    back to linear where an outer support is missing; directional
    estimates averaged as in the linear fill."""
    return _fill_directional(pixels, grid, max_dist, cubic=True)


def fill_nodata_multi(pixels: DataFrame, grid: GridSpec,
                      max_dist: float = 100.0) -> DataFrame:
    """All four relational R3 fills with SHARED scans: one bucketed
    donor join feeds both the idw and nearest aggregates (they differ
    only in the aggregate function), and one directional window scan
    per axis feeds both the linear and cubic estimates. Output:
    (row, col, z_fill, z_near, z_lin, z_cub) for every hole at least
    one method fills; a method's column is NULL where its donor
    criterion leaves the hole unfilled. Per-method semantics are
    pinned to the single-method fills by tests/test_pointcloud.py."""
    valid = pixels.where(F.col("value").isNotNull())
    missing = pixels.where(F.col("value").isNull()).select("row", "col")
    b = int(max(1, max_dist))
    donors = (
        valid.select("row", "col", "value")
        .withColumn("o", F.explode(F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])))
        .select(
            ((F.col("row") / b).cast("int") + F.col("o.dy")).alias("by"),
            ((F.col("col") / b).cast("int") + F.col("o.dx")).alias("bx"),
            F.col("row").alias("s_row"), F.col("col").alias("s_col"), "value",
        )
    )
    targets = missing.select(
        (F.col("row") / b).cast("int").alias("by"),
        (F.col("col") / b).cast("int").alias("bx"),
        "row", "col",
    )
    d2 = ((F.col("row") - F.col("s_row")) ** 2
          + (F.col("col") - F.col("s_col")) ** 2)
    w = 1.0 / d2
    key = F.struct(d2.alias("d2"), F.col("s_row"), F.col("s_col"))
    dn = (targets.join(donors, ["by", "bx"])
          .where(d2 <= F.lit(float(max_dist) ** 2))
          .groupBy("row", "col")
          .agg((F.sum(w * F.col("value")) / F.sum(w)).alias("z_fill"),
               F.min_by(F.col("value"), key).alias("z_near")))
    h = _axis_estimate(pixels, "row", "col", max_dist, cubic=False,
                       both=True)
    v = _axis_estimate(pixels, "col", "row", max_dist, cubic=False,
                       both=True)
    dirs = (h.unionByName(v)
            .groupBy("row", "col")
            .agg(F.avg("est_lin").alias("z_lin"),
                 F.avg("est_cub").alias("z_cub")))
    pad = F.lit(None).cast("double")
    un = (dn.select("row", "col", "z_fill", "z_near",
                    pad.alias("z_lin"), pad.alias("z_cub"))
          .unionByName(dirs.select("row", "col", pad.alias("z_fill"),
                                   pad.alias("z_near"), "z_lin", "z_cub")))
    return (un.groupBy("row", "col")
            .agg(F.max("z_fill").alias("z_fill"),
                 F.max("z_near").alias("z_near"),
                 F.max("z_lin").alias("z_lin"),
                 F.max("z_cub").alias("z_cub"))
            .where(F.coalesce("z_fill", "z_near", "z_lin", "z_cub")
                   .isNotNull()))


def fill_nodata(pixels: DataFrame, grid: GridSpec, method: str = "idw",
                max_dist: float = 100.0, **kw) -> DataFrame:
    """R3 dispatcher mirroring the reference's `_fill_nodata(method=...)`
    (differencing_functions.py:1766-1807): idw (default), nearest,
    spline (thin-plate), linear, and cubic — all native engine paths
    (the linear/cubic grid-axis forms substitute for scipy griddata's
    Delaunay interpolation, which this container cannot run)."""
    if method == "idw":
        return fill_nodata_idw(pixels, grid, max_dist)
    if method == "nearest":
        return fill_nodata_nearest(pixels, grid, max_dist)
    if method == "spline":
        return fill_nodata_tps(pixels, grid, max_dist,
                               kw.get("max_donors", 1500))
    if method == "linear":
        return fill_nodata_linear(pixels, grid, max_dist)
    if method == "cubic":
        return fill_nodata_cubic(pixels, grid, max_dist)
    raise ValueError(f"unknown fill method: {method}")


def classify_ground_smrf(points: DataFrame, grid: GridSpec,
                         cell: float = 1.0, slope: float = 0.15,
                         window: int = 16, threshold: float = 0.5,
                         tile: int = 128) -> DataFrame:
    """F3 — SMRF-style morphological ground classification
    (Pingel et al. 2013, the algorithm behind PDAL filters.smrf used at
    differencing_functions.py:800-806, 1012-1031), re-expressed as a
    per-tile `applyInPandas` stage:

    1. bin points to a minimum-Z surface at `cell` resolution;
    2. progressive morphological opening (grey erosion then dilation)
       with window radii 1..`window`, flagging surface cells whose
       height above the opened surface exceeds slope·radius·cell;
    3. points within `threshold` of the resulting bare-earth surface
       are labeled ground (classification 2), others left as-is.

    Tiles carry a `2·window·cell` halo so openings at tile edges see
    the same neighborhood they would in a monolithic array — each of
    the `window` erode(1)+dilate(1) iterations has Chebyshev dependence
    radius 2, so the loop's total reach is 2·window cells (halo
    exchange sized to the iterated kernel, not one pass).
    Output: the input rows with a `classification` column rewritten.
    """
    import numpy as np
    import pandas as pd

    halo_cells = 2 * window
    halo = float(halo_cells * cell)
    t = float(tile * cell)
    tiles = F.array_distinct(F.array(*[
        F.struct(
            F.floor((F.col("x") - F.lit(grid.x0) + F.lit(dx) * halo) / t)
            .cast("int").alias("tx"),
            F.floor((F.lit(grid.y0) - F.col("y") + F.lit(dy) * halo) / t)
            .cast("int").alias("ty"),
        ) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ]))
    cols = [c for c in points.columns]
    fanned = (points.withColumn("_t", F.explode(tiles))
              .select(F.col("_t.ty").alias("ty"), F.col("_t.tx").alias("tx"),
                      *cols))

    n_cells = int(round(t / cell)) + 2 * halo_cells

    def kernel(key, pdf):
        ty, tx = int(key[0]), int(key[1])
        x0 = grid.x0 + tx * t - halo
        y0 = grid.y0 - ty * t + halo
        ci = np.floor((pdf["x"].to_numpy() - x0) / cell).astype(int)
        ri = np.floor((y0 - pdf["y"].to_numpy()) / cell).astype(int)
        keep = (ri >= 0) & (ri < n_cells) & (ci >= 0) & (ci < n_cells)
        zmin = np.full((n_cells, n_cells), np.inf)
        np.minimum.at(zmin, (ri[keep], ci[keep]), pdf["z"].to_numpy()[keep])
        empty = ~np.isfinite(zmin)
        zmin[empty] = np.nanmax(np.where(empty, np.nan, zmin)) \
            if (~empty).any() else 0.0
        surf = zmin.copy()
        for r in range(1, window + 1):
            # opening at GROWING radius r (Pingel SMRF): a radius-1
            # opening every pass is idempotent on plateaus wider than
            # 2 cells, so wide roofs would never be removed. Max reach
            # of the final iteration = 2·window cells = the tile halo.
            eroded = _square_extreme(surf, r, np.min, np.inf)
            opened = _square_extreme(eroded, r, np.max, -np.inf)
            bump = surf - opened > slope * r * cell
            surf = np.where(bump, opened, surf)
        # label: inside the tile's own (non-halo) extent only
        own = ((pdf["x"] >= grid.x0 + tx * t) & (pdf["x"] < grid.x0 + (tx + 1) * t)
               & (pdf["y"] <= grid.y0 - ty * t) & (pdf["y"] > grid.y0 - (ty + 1) * t)
               ).to_numpy()
        ground_surface = surf[np.clip(ri, 0, n_cells - 1),
                              np.clip(ci, 0, n_cells - 1)]
        is_ground = (np.abs(pdf["z"].to_numpy() - ground_surface) <= threshold)
        out = pdf[own].drop(columns=["ty", "tx"]).copy()
        out["classification"] = np.where(
            is_ground[own], GROUND_CLASS,
            out["classification"].to_numpy()).astype(np.int32)
        return out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in points.schema.fields)
    return fanned.groupBy("ty", "tx").applyInPandas(kernel, schema)


def _square_extreme(a, r, reduce, fill):
    """Grey erosion (`reduce=np.min`, `fill=+inf`) or dilation
    (`np.max`, `-inf`) with the square (Chebyshev) radius-r element —
    pure numpy, no scipy. The square element is separable: one
    (2r+1)-long sliding-window reduce down the rows, then one across the
    columns. The array is padded with `fill` (the reduce's identity), so
    edge cells reduce over their AVAILABLE neighborhood only and no
    opposite-edge value wraps into a tile halo."""
    from numpy.lib.stride_tricks import sliding_window_view
    k = 2 * r + 1
    p = np.pad(a, r, constant_values=fill)
    p = reduce(sliding_window_view(p, k, axis=0), axis=-1)
    return reduce(sliding_window_view(p, k, axis=1), axis=-1)


def dem_pipeline(points: DataFrame, grid: GridSpec, kind: str = "dtm",
                 fill_max_dist: float = 100.0,
                 with_coords: bool = True) -> DataFrame:
    """E1 — the full LAS→DEM chain as one lazy DAG: noise filter →
    [ground filter if DTM] → grid (idw for DTM / max for DSM) →
    gap-fill (differencing_functions.py:1650-1764; no intermediate
    materializations)."""
    pts = drop_noise(points)
    if kind == "dtm":
        dem = grid_idw(keep_ground(pts), grid)
    elif kind == "dsm":
        dem = grid_max(pts, grid)
    else:
        raise ValueError(f"unknown DEM kind: {kind}")
    full = _dense_grid(dem, grid)
    out = fill_nodata_idw(full, grid, fill_max_dist)
    if with_coords:
        out = out.withColumn(
            "x", F.lit(grid.x0) + (F.col("col") + 0.5) * F.lit(grid.res)
        ).withColumn(
            "y", F.lit(grid.y0) - (F.col("row") + 0.5) * F.lit(grid.res))
    return out


def _dense_grid(sparse: DataFrame, grid: GridSpec) -> DataFrame:
    """Outer-join the computed cells onto the full dense grid so
    gap-fill sees explicit NULL cells (the long-table restatement of a
    raster's implicit nodata)."""
    spark = sparse.sparkSession
    rows = spark.range(grid.height).select(F.col("id").cast("int").alias("row"))
    cols = spark.range(grid.width).select(F.col("id").cast("int").alias("col"))
    dense = rows.crossJoin(cols)
    return dense.join(sparse, ["row", "col"], "left")
