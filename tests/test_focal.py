"""Focal derivative (R2) tests — SURVEY §2.8, differencing_functions.py:2288-2411.

Oracle: the numpy Horn kernel (`derive_np`) applied to the dense fixture
array. The relational stencil operator (`derive_join_all`) must agree
with it, including at nodata holes and grid edges (GDAL edge
convention: NULL where the stencil is incomplete).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.operators import focal as FO


@pytest.fixture(scope="module")
def grid():
    n = 96
    rs = np.random.RandomState(7)
    y, x = np.mgrid[0:n, 0:n].astype(np.float64)
    z = (40.0 + 5.0 * np.sin(x / 11.0) + 4.0 * np.cos(y / 9.0)
         + rs.standard_normal((n, n)) * 0.2)
    mask = rs.uniform(size=(n, n)) < 0.02
    z[mask] = np.nan
    return z


@pytest.fixture(scope="module")
def pixels(spark, grid):
    n = grid.shape[0]
    rr, cc = np.mgrid[0:n, 0:n]
    pdf = pd.DataFrame({
        "row": rr.ravel().astype(np.int32),
        "col": cc.ravel().astype(np.int32),
        "value": grid.ravel(),
    }).dropna(subset=["value"])
    return spark.createDataFrame(pdf).cache()


def _oracle(grid, res, which):
    z = np.pad(grid, 1, constant_values=np.nan)
    out = FO.derive_np(z, res, which)
    return out


@pytest.mark.parametrize("which", FO.DERIVATIVES)
def test_join_strategy_matches_numpy(pixels, grid, which):
    res = 2.0
    got = FO.derive_join_all(pixels, res) \
        .select("row", "col", F.col(which).alias("value")).toPandas()
    want = _oracle(grid, res, which)
    n = grid.shape[0]
    arr = np.full((n, n), np.nan)
    sub = got.dropna(subset=["value"])
    arr[sub["row"].to_numpy(), sub["col"].to_numpy()] = sub["value"].to_numpy()
    # engine yields NULL where the stencil is incomplete; oracle yields NaN
    both = np.isfinite(arr) & np.isfinite(want)
    assert both.sum() > 0.8 * n * n
    np.testing.assert_allclose(arr[both], want[both], rtol=1e-9, atol=1e-9)
    # engine must not produce values the oracle says are undefined
    assert not np.any(np.isfinite(arr) & ~np.isfinite(want))


def test_strategies_handle_negative_rows(spark):
    """Pixels at negative grid indices (points above/left of the grid
    origin) get exactly one output row each, equal to the numpy kernel
    on the dense array (NULL on the incomplete edge ring)."""
    n = 10
    rr, cc = np.mgrid[-3:n, -2:n]
    z = (rr * 0.5 + cc * 0.25).astype(np.float64)
    pdf = pd.DataFrame({
        "row": rr.ravel().astype(np.int32),
        "col": cc.ravel().astype(np.int32),
        "value": z.ravel(),
    })
    px = spark.createDataFrame(pdf)
    got = FO.derive_join_all(px, 1.0).select("row", "col", "slope") \
        .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert list(zip(got["row"], got["col"])) == \
        list(zip(pdf["row"], pdf["col"]))
    want = FO.derive_np(np.pad(z, 1, constant_values=np.nan), 1.0,
                        "slope").ravel()
    gn = got["slope"].isna().to_numpy()
    np.testing.assert_array_equal(gn, ~np.isfinite(want))
    np.testing.assert_allclose(got["slope"][~gn], want[~gn], rtol=1e-9)


def test_flat_plane_derivatives(spark):
    """A flat tilted plane: slope/aspect are exactly known everywhere."""
    n = 24
    rr, cc = np.mgrid[0:n, 0:n]
    res = 1.0
    # z = 3x: dz/dx = 3 ⇒ slope = atan(3), aspect = west-facing = 270°
    pdf = pd.DataFrame({
        "row": rr.ravel().astype(np.int32),
        "col": cc.ravel().astype(np.int32),
        "value": (3.0 * cc.ravel()).astype(np.float64),
    })
    px = spark.createDataFrame(pdf)
    der = FO.derive_join_all(px, res)
    out = (der.where(F.col("slope").isNotNull())
           .agg(F.min("slope"), F.max("slope")).collect()[0])
    expect = np.degrees(np.arctan(3.0))
    assert abs(out[0] - expect) < 1e-9 and abs(out[1] - expect) < 1e-9
    asp = (der.where(F.col("aspect").isNotNull())
           .agg(F.min("aspect"), F.max("aspect")).collect()[0])
    assert abs(asp[0] - 270.0) < 1e-9 and abs(asp[1] - 270.0) < 1e-9
