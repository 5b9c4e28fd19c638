"""End-to-end raster pipeline tests on the synthetic DEM fixture —
the engine's restatement of the reference notebook chain (SURVEY §3 E3):
align → difference → zones → zonal stats → bias → variogram.

Ground-truth recovery (SURVEY §5.2-3): known constant bias via A6,
noise RMS via A8, membership vs an independent numpy rasterization,
variogram sill/nugget vs the generating model.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.fixtures import GridSpec, make_dem_fixture
from error_analysis_spark.operators import align as AL
from error_analysis_spark.operators import stats as ST
from error_analysis_spark.operators import zones as ZN
from error_analysis_spark.operators.variogram import (
    VariogramParams, empirical_variogram, matheron, pair_bins,
)


@pytest.fixture(scope="module")
def fx():
    # range 36 m on a 192² grid ⇒ ~28 independent patches: zone/global
    # means of the correlated field stay small enough for tight checks
    return make_dem_fixture(n_rows=192, n_cols=192, range_m=36.0, seed=42)


@pytest.fixture(scope="module")
def sdfs(spark, fx):
    pixels = spark.createDataFrame(fx.pixels)
    zones = spark.createDataFrame(fx.zones)
    ref = pixels.where(F.col("dataset_id") == "reference_dem")
    cmp_ = pixels.where(F.col("dataset_id") == "compare_dem")
    return {"pixels": pixels, "zones": zones, "ref": ref, "cmp": cmp_}


def _grid(fx, ds):
    row = fx.grids[fx.grids.dataset_id == ds].iloc[0]
    return GridSpec(ds, int(row.width), int(row.height), float(row.x0),
                    float(row.y0), float(row.res), row.crs, float(row.nodata))


def test_align_identity_grid(sdfs, fx):
    """Same-grid pair: aligned rows = pixels valid in BOTH datasets."""
    ga, gb = _grid(fx, "reference_dem"), _grid(fx, "compare_dem")
    aligned = AL.align_pair(sdfs["ref"], sdfs["cmp"], ga, gb)
    expected = int((~fx.truth["mask_ref"] & ~fx.truth["mask_cmp"]).sum())
    assert aligned.count() == expected


def test_difference_recovers_truth(sdfs, fx):
    ga, gb = _grid(fx, "reference_dem"), _grid(fx, "compare_dem")
    dod = AL.difference(AL.align_pair(sdfs["ref"], sdfs["cmp"], ga, gb))
    pdf = dod.select("row", "col", "dz").toPandas()
    t = fx.truth
    expect = (t["bias"] + t["corr"] + t["noise"] + t["feature"])
    got = expect[pdf["row"].to_numpy(), pdf["col"].to_numpy()]
    np.testing.assert_allclose(pdf["dz"].to_numpy(), got, atol=1e-9)


def test_membership_matches_numpy_oracle(sdfs, fx):
    member = ZN.membership(
        sdfs["ref"].select("row", "col", "x", "y", "value"), sdfs["zones"],
        _grid(fx, "reference_dem"))
    got = member.select("row", "col", "zone_id").toPandas()
    oracle = fx.membership[["row", "col", "zone_id"]]
    got_set = set(map(tuple, got.to_numpy()))
    oracle_set = set(map(tuple, oracle.to_numpy()))
    assert got_set == oracle_set


def test_stable_bias_and_rms(sdfs, fx):
    """Notebook cells [60]-[74] in one DAG: DoD → stable filter → median
    bias ≈ 0.12; after R5 subtraction the stable dz is ~zero-median and
    its RMS ≈ sqrt(sill + noise²) (corr field + nugget)."""
    t = fx.truth
    ga, gb = _grid(fx, "reference_dem"), _grid(fx, "compare_dem")
    dod = AL.difference(AL.align_pair(sdfs["ref"], sdfs["cmp"], ga, gb))
    stable = ZN.derive_stable(dod, ZN.membership(dod, sdfs["zones"], ga))
    bias_df = ST.median_bias(stable, "dz")
    bias = bias_df.first()["bias"]
    # The correlated field (sd=0.2 m, range 60 m) leaves only ~10
    # independent patches on a 192² grid, so the median's sampling error
    # is ~0.06 — precisely the uncertainty the reference quantifies with
    # the A7 bootstrap. Deterministic for seed 42 (observed ≈ 0.092).
    assert abs(bias - t["bias"]) < 0.06
    unbiased = AL.subtract_scalar(stable, bias_df, "dz")
    r = ST.rms(unbiased, "dz").first()
    expected_rms = np.sqrt(t["sill"] + t["noise_std"] ** 2)
    assert abs(r["rms"] - expected_rms) / expected_rms < 0.25
    med2 = ST.median_bias(unbiased, "dz").first()["bias"]
    assert abs(med2) < 1e-9


def test_zonal_stats_feature_signal(sdfs, fx):
    """Unstable zones must show the injected ±feature_dz mean change."""
    t = fx.truth
    ga, gb = _grid(fx, "reference_dem"), _grid(fx, "compare_dem")
    dod = AL.difference(AL.align_pair(sdfs["ref"], sdfs["cmp"], ga, gb))
    member = ZN.membership(dod.select("row", "col", "x", "y", "dz"),
                           sdfs["zones"], ga)
    zs = ST.zonal_stats(member, value="dz").toPandas().set_index("zone_id")
    for z in ("unstable1", "unstable2"):
        # zone-mean of the correlated field contributes ~N(0, ~0.1):
        # deterministic for seed 42, bounded well inside 0.25
        assert abs(zs.loc[z, "mean"] - (t["bias"] + t["feature_dz"])) < 0.25


def test_combined_mask_and_area(sdfs, fx):
    t = fx.truth
    cm = AL.combined_mask(sdfs["ref"].select("row", "col", "value"),
                          sdfs["cmp"].select("row", "col", "value"))
    n_invalid = cm.where("invalid").count()
    expected = int((t["mask_ref"] | t["mask_cmp"]).sum())
    assert n_invalid == expected
    area = AL.valid_area(sdfs["ref"], t["res"]).first()
    assert area["n_pixels"] == int((~t["mask_ref"]).sum())
    assert area["area"] == pytest.approx(area["n_pixels"] * t["res"] ** 2)


def test_bucketed_pair_join_equals_crossjoin(spark, fx):
    """J4 exactness: the grid-bucketed range join must reproduce the
    naive crossJoin pair binning bit-for-bit (SURVEY §7 hard part #1)."""
    rs = np.random.RandomState(7)
    n = 800
    import pandas as pd
    samples = pd.DataFrame({
        "sample_id": np.arange(n, dtype=np.int64),
        "x": rs.uniform(0, 500, n),
        "y": rs.uniform(0, 400, n),
        "value": rs.standard_normal(n),
        "run": np.int32(0),
    })
    sdf = spark.createDataFrame(samples)
    fast = pair_bins(sdf, max_lag=80.0, bin_width=10.0).toPandas()
    slow = pair_bins(sdf, max_lag=80.0, bin_width=10.0, exact=True).toPandas()
    fast = fast.sort_values("bin").reset_index(drop=True)
    slow = slow.sort_values("bin").reset_index(drop=True)
    assert list(fast["bin"]) == list(slow["bin"])
    assert list(fast["pair_count"]) == list(slow["pair_count"])
    np.testing.assert_allclose(fast["ssd"], slow["ssd"], rtol=1e-12)


def test_variogram_recovers_model(spark, sdfs, fx):
    """Sill/nugget recovery on the known spherical field: γ at lags far
    beyond the range ≈ sill + noise²; γ at the shortest lag is well below
    (spatial correlation visible)."""
    t = fx.truth
    ga, gb = _grid(fx, "reference_dem"), _grid(fx, "compare_dem")
    dod = AL.difference(AL.align_pair(sdfs["ref"], sdfs["cmp"], ga, gb))
    stable = ZN.derive_stable(
        dod, ZN.membership(dod, sdfs["zones"], ga)).select(
        "row", "col", "x", "y", F.col("dz").alias("value"))
    params = VariogramParams(bin_width=10.0, max_lag_multiplier=0.5,
                             samples_per_area=3000.0, n_runs=3, seed=42)
    vario, max_lag = empirical_variogram(stable, params, res=t["res"])
    pdf = vario.orderBy("bin").toPandas()
    total_sill = t["sill"] + t["noise_std"] ** 2
    far = pdf[pdf["lag"] > 2.5 * t["range_m"]]["gamma_mean"].mean()
    near = pdf.iloc[0]["gamma_mean"]
    assert abs(far - total_sill) / total_sill < 0.35
    assert near < 0.6 * total_sill
