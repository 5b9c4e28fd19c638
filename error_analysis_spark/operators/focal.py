"""Focal (3×3 neighborhood) raster derivatives — SURVEY.md §2 R2:
slope, aspect, hillshade, roughness (gdal.DEMProcessing semantics,
differencing_functions.py:2288-2411).

One relational operator over the long pixel table: `neighbors` gathers
each pixel's 3×3 stencil with one explode + groupBy (each pixel ships
its value to the 9 stencil positions it takes part in — one shuffle),
and `derive_join_all` computes all four derivatives as column math over
that gather. Pure relational, so the SQL oracle can check it.

Edge pixels follow GDAL's convention: the output is NULL wherever the
stencil is incomplete (outside the raster or a nodata neighbor), and a
nodata centre is NULL out. `derive_np` is the numpy reference of the
same kernel that the tests compare against.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DERIVATIVES = ("slope", "aspect", "hillshade", "roughness")


# --------------------------------------------------------------------------
# numpy reference kernel (the test oracle)
# --------------------------------------------------------------------------

def horn_gradients(z: np.ndarray, res: float) -> tuple[np.ndarray, np.ndarray]:
    """Horn's method on a padded array: returns (dz/dx, dz/dy) for the
    interior (gdal.DEMProcessing default kernel)."""
    a = z[:-2, :-2]; b = z[:-2, 1:-1]; c = z[:-2, 2:]      # noqa: E702
    d = z[1:-1, :-2]; f = z[1:-1, 2:]                       # noqa: E702
    g = z[2:, :-2]; h = z[2:, 1:-1]; i = z[2:, 2:]          # noqa: E702
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * res)
    dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * res)
    return dzdx, dzdy


def derive_np(z: np.ndarray, res: float, which: str,
              azimuth: float = 315.0, altitude: float = 45.0) -> np.ndarray:
    """Compute one derivative for the interior of a padded array `z`
    (shape (R+2, C+2)) → (R, C). NaN where any stencil input is NaN."""
    dzdx, dzdy = horn_gradients(z, res)
    slope_rad = np.arctan(np.hypot(dzdx, dzdy))
    if which == "slope":
        return np.degrees(slope_rad)
    if which == "aspect":
        # GDAL: azimuth degrees clockwise from north; flat → 0 (zeroForFlat)
        asp = np.degrees(np.arctan2(dzdy, -dzdx))
        asp = np.where(asp < 0, 90.0 - asp,
                       np.where(asp > 90.0, 360.0 - asp + 90.0, 90.0 - asp))
        flat = (dzdx == 0) & (dzdy == 0)
        return np.where(flat, 0.0, asp)
    if which == "hillshade":
        az = math.radians(360.0 - azimuth + 90.0)
        alt = math.radians(altitude)
        asp_rad = np.arctan2(dzdy, -dzdx)
        shade = (math.sin(alt) * np.cos(slope_rad)
                 + math.cos(alt) * np.sin(slope_rad) * np.cos(az - asp_rad))
        return np.clip(shade, 0, 1) * 254.0 + 1.0
    if which == "roughness":
        # GDAL GDALRoughnessAlg: max − min over the full 3×3 window
        # (including the center), NOT max |neighbor − center|
        win = np.stack([z[1 + dy:z.shape[0] - 1 + dy,
                          1 + dx:z.shape[1] - 1 + dx]
                        for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
        return np.max(win, axis=0) - np.min(win, axis=0)
    raise ValueError(f"unknown derivative: {which}")


# --------------------------------------------------------------------------
# relational operator: stencil gather + column math
# --------------------------------------------------------------------------

def neighbors(pixels: DataFrame) -> DataFrame:
    """Gather the 3×3 stencil as columns z_00..z_22 via one explode +
    pivot-free groupBy (each pixel ships its value to the 9 stencil
    positions it participates in — one shuffle). `_ctr` = 1 where a
    SOURCE ROW exists at the group's own (row, col) — the
    value-independent way to tell real centers (possibly nodata-valued)
    from phantom edge groups."""
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])
    contrib = (
        pixels.select("row", "col", "value")
        .withColumn("o", F.explode(offsets))
        .select(
            (F.col("row") + F.col("o.dy")).alias("row"),
            (F.col("col") + F.col("o.dx")).alias("col"),
            (-F.col("o.dy")).alias("sy"), (-F.col("o.dx")).alias("sx"),
            "value",
        )
    )
    agg = [
        F.max(F.when((F.col("sy") == dy) & (F.col("sx") == dx),
                     F.col("value"))).alias(f"z_{dy + 1}{dx + 1}")
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ]
    agg.append(F.max(F.when((F.col("sy") == 0) & (F.col("sx") == 0),
                            F.lit(1))).alias("_ctr"))
    return contrib.groupBy("row", "col").agg(*agg)


def derive_join_all(pixels: DataFrame, res: float,
                    azimuth: float = 315.0,
                    altitude: float = 45.0) -> DataFrame:
    """R2 — all four derivatives from ONE stencil gather (Horn's
    gradients, as `horn_gradients`). Output: row, col, slope, aspect,
    hillshade, roughness — exactly one row per source pixel, NULL where
    the stencil is incomplete (GDAL edge convention; a NaN neighbor
    counts as nodata)."""
    # center ROWS only — a presence marker on the (0,0) contribution,
    # not a z_11 non-null test, so a nodata-valued source row still
    # emits its (row, col, NULL) output while phantom (row±1, col±1)
    # groups outside the raster are dropped
    nb = neighbors(pixels).where(F.col("_ctr") == 1).drop("_ctr")
    z = {(dy, dx): F.col(f"z_{dy + 1}{dx + 1}")
         for dy in (-1, 0, 1) for dx in (-1, 0, 1)}
    complete = None
    for c in z.values():
        cc = c.isNotNull() & ~F.isnan(c)
        complete = cc if complete is None else (complete & cc)

    dzdx = ((z[(-1, 1)] + 2 * z[(0, 1)] + z[(1, 1)])
            - (z[(-1, -1)] + 2 * z[(0, -1)] + z[(1, -1)])) / (8.0 * res)
    dzdy = ((z[(1, -1)] + 2 * z[(1, 0)] + z[(1, 1)])
            - (z[(-1, -1)] + 2 * z[(-1, 0)] + z[(-1, 1)])) / (8.0 * res)
    slope_rad = F.atan(F.hypot(dzdx, dzdy))
    asp = F.degrees(F.atan2(dzdy, -dzdx))
    asp = (F.when(asp < 0, 90.0 - asp)
           .when(asp > 90.0, 360.0 - asp + 90.0)
           .otherwise(90.0 - asp))
    az = math.radians(360.0 - azimuth + 90.0)
    alt = math.radians(altitude)
    asp_rad = F.atan2(dzdy, -dzdx)
    shade = (F.lit(math.sin(alt)) * F.cos(slope_rad)
             + F.lit(math.cos(alt)) * F.sin(slope_rad)
             * F.cos(F.lit(az) - asp_rad))
    exprs = {
        "slope": F.degrees(slope_rad),
        "aspect": F.when((dzdx == 0) & (dzdy == 0), 0.0).otherwise(asp),
        "hillshade": (F.greatest(F.lit(0.0), F.least(F.lit(1.0), shade))
                      * 254.0 + 1.0),
        # GDAL semantics: window max − window min (center included)
        "roughness": F.greatest(*z.values()) - F.least(*z.values()),
    }
    return nb.select("row", "col",
                     *[F.when(complete, e).alias(k)
                       for k, e in exprs.items()])
