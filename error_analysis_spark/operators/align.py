"""Grid alignment, differencing, and mask algebra — SURVEY.md §2
R1 (regrid), J1 (pair join; its inner join is the J3/SO4 footprint
intersect), R4 (DoD), R5 (bias subtract), SO3 (combined mask), R9
(detailed area).

Reference semantics: differencing_functions.py:149-191 (`_align`:
reproject the LARGER raster onto the smaller grid), 2056-2116
(`RasterPairProcessor.process`: common UTM → regrid → crop-to-overlap),
2473-2496 (difference), 2498-2552 (combined mask).

Spark-first design: a raster is a long-format pixel DataFrame
(dataset_id, band, row, col, x, y, value — NULL = nodata). Alignment is
coordinate column math + an aggregate; pairing is an equi-join on
(row, col) whose *inner* semantics ARE the crop-to-overlap step — no
intermediate materializations (the reference writes four GeoTIFFs per
alignment; the engine keeps one lazy DAG). At scale the (row, col) join
shuffles both sides once; pre-bucketing pixel tables by tile makes it
shuffle-free (see sources.pixel_store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from error_analysis_spark.fixtures import GridSpec


def target_cell(df: DataFrame, dst: GridSpec) -> DataFrame:
    """Map world coords onto destination grid indices (SC13 inverse)."""
    return (
        df.withColumn("t_row", F.floor((F.lit(dst.y0) - F.col("y")) / F.lit(dst.res))
          .cast("int"))
        .withColumn("t_col", F.floor((F.col("x") - F.lit(dst.x0)) / F.lit(dst.res))
                    .cast("int"))
        .where((F.col("t_row") >= 0) & (F.col("t_row") < dst.height)
               & (F.col("t_col") >= 0) & (F.col("t_col") < dst.width))
    )



def _valid(col: str = "value"):
    """Valid-pixel predicate: NULL *and* NaN are nodata. The long-table
    convention is NULL, but rasters arriving through numpy/pandas
    ingestion (sources/ingest.array_to_pixels round-trips, parquet
    written from float arrays) carry NaN — treating those as data would
    let one NaN donor poison a regrid aggregate and every downstream
    dz/bias/rms (combined_mask and the variogram sampler already treat
    both as nodata; this makes the whole module agree)."""
    c = F.col(col)
    return c.isNotNull() & ~F.isnan(c)


def regrid(pixels: DataFrame, dst: GridSpec, method: str = "nearest") -> DataFrame:
    """R1 — resample a pixel table onto `dst`'s grid.

    nearest: per destination cell, the source pixel whose center is
    closest to the cell center (min_by — one hash aggregate, exactly
    `Resampling.nearest` semantics of rioxarray `reproject_match`,
    differencing_functions.py:96-112). mean: average of covered pixels
    (downsampling). CRS change = upstream coordinate transform on x/y
    (sources/CRS UDF); this operator only re-bins.
    """
    t = target_cell(pixels.where(_valid()), dst)
    cx = F.lit(dst.x0) + (F.col("t_col") + 0.5) * F.lit(dst.res)
    cy = F.lit(dst.y0) - (F.col("t_row") + 0.5) * F.lit(dst.res)
    if method == "nearest":
        d2 = (F.col("x") - cx) ** 2 + (F.col("y") - cy) ** 2
        agg = F.min_by(F.col("value"), d2).alias("value")
    elif method == "mean":
        agg = F.avg("value").alias("value")
    else:
        raise ValueError(f"unknown regrid method: {method}")
    out = (
        t.groupBy("t_row", "t_col").agg(agg)
        .select(
            F.col("t_row").alias("row"), F.col("t_col").alias("col"),
            (F.lit(dst.x0) + (F.col("t_col") + 0.5) * F.lit(dst.res)).alias("x"),
            (F.lit(dst.y0) - (F.col("t_row") + 0.5) * F.lit(dst.res)).alias("y"),
            "value",
        )
    )
    return out


def dst_grid(grid_a: GridSpec, grid_b: GridSpec) -> GridSpec:
    """The common grid `align_pair` lands a pair on: the SMALLER
    raster's grid (reference heuristic, differencing_functions.py:
    180-187 — less resample work). Exposed so chain builders that
    derive keys from the common grid (pipeline.analyze_pair_chain)
    share this decision instead of re-implementing it."""
    return (grid_a if grid_a.width * grid_a.height
            <= grid_b.width * grid_b.height else grid_b)


def align_pair(a: DataFrame, b: DataFrame, grid_a: GridSpec,
               grid_b: GridSpec) -> DataFrame:
    """J1 — force both rasters onto one grid and pair pixel-wise.

    Reference heuristic kept: the LARGER raster is regridded onto the
    smaller grid (`dst_grid`) — less resample work, and the inner join
    crops to the overlap (J3/SO4 for free).
    Output: row, col, x, y, value_a, value_b (valid pairs only).
    """
    same = (grid_a.x0, grid_a.y0, grid_a.res, grid_a.width,
            grid_a.height) == (grid_b.x0, grid_b.y0, grid_b.res,
                               grid_b.width, grid_b.height)
    dst = dst_grid(grid_a, grid_b)
    if same:
        # identical grids: the regrid would reproduce the input
        # cell-for-cell through a full shuffle-aggregate — skip it and
        # join directly (the hot path of analyze_pair on survey pairs)
        left, right = a, b
    elif dst is grid_a:  # regrid b onto a's grid
        left, right = a, regrid(b, grid_a)
    else:
        left, right = regrid(a, grid_b), b
    la = (left.where(_valid())
          .select("row", "col", "x", "y", F.col("value").alias("value_a")))
    rb = (right.where(_valid())
          .select("row", "col", F.col("value").alias("value_b")))
    return la.join(rb, ["row", "col"], "inner")


def difference(aligned: DataFrame) -> DataFrame:
    """R4 — DoD: Δ = compare − reference on the aligned pair
    (difference_da, differencing_functions.py:2473-2496)."""
    return aligned.withColumn("dz", F.col("value_b") - F.col("value_a"))


def subtract_scalar(df: DataFrame, bias: float | DataFrame,
                    value: str = "dz") -> DataFrame:
    """R5 — remove systematic bias (variography_uncertainty.py:116-136).
    `bias` may be a Python float or a 1-row DataFrame with column `bias`
    (the A6 output) — the latter stays fully lazy via a broadcast
    cross join, no driver round-trip."""
    if isinstance(bias, DataFrame):
        return (df.crossJoin(F.broadcast(bias))
                .withColumn(value, F.col(value) - F.col("bias"))
                .drop("bias"))
    return df.withColumn(value, F.col(value) - F.lit(float(bias)))


def combined_mask(a: DataFrame, b: DataFrame) -> DataFrame:
    """SO3 — invalid(a) OR invalid(b) per (row, col): full-outer join with
    coalesce null logic (combined_mask, differencing_functions.py:
    2498-2552). Returns (row, col, invalid BOOLEAN)."""
    ka = a.select("row", "col", F.col("value").alias("va"))
    kb = b.select("row", "col", F.col("value").alias("vb"))
    j = ka.join(kb, ["row", "col"], "full_outer")
    invalid = (F.col("va").isNull() | F.isnan(F.coalesce("va", F.lit(0.0)))
               | F.col("vb").isNull() | F.isnan(F.coalesce("vb", F.lit(0.0))))
    return j.select("row", "col", invalid.alias("invalid"))


def valid_area(df: DataFrame, res: float, value: str = "value") -> DataFrame:
    """R9 — detailed area = count(valid) · res² — exact on the pixel model
    (replaces polygonize+unary_union, variography_uncertainty.py:79-91)."""
    return df.where(_valid(value)).agg(
        (F.count("*") * F.lit(float(res) ** 2)).alias("area"),
        F.count("*").alias("n_pixels"),
    )
