"""Point-cloud → DEM pipeline tests (S8 gridding, R3 gap-fill, F1/F2,
SC6) against independent numpy oracles on the LAS-like fixture."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.fixtures import GridSpec, make_pointcloud
from error_analysis_spark.operators import pointcloud as PC

X0, Y0, EXT, RES = 500_000.0, 4_000_000.0, 200.0, 4.0


@pytest.fixture(scope="module")
def cloud():
    return make_pointcloud(n_points=30_000, seed=21, x0=X0, y0=Y0, extent=EXT)


@pytest.fixture(scope="module")
def points(spark, cloud):
    return spark.createDataFrame(cloud).cache()


@pytest.fixture(scope="module")
def grid():
    n = int(EXT / RES)
    return GridSpec("dem", width=n, height=n, x0=X0, y0=Y0, res=RES)


def _cells(pdf):
    r = np.floor((Y0 - pdf["y"].to_numpy()) / RES).astype(int)
    c = np.floor((pdf["x"].to_numpy() - X0) / RES).astype(int)
    return r, c


def test_grid_max_matches_numpy(points, cloud, grid):
    got = PC.grid_max(points, grid).toPandas()
    r, c = _cells(cloud)
    n = grid.height
    want = np.full((n, n), -np.inf)
    keep = (r >= 0) & (r < n) & (c >= 0) & (c < n)
    np.maximum.at(want, (r[keep], c[keep]), cloud["z"].to_numpy()[keep])
    arr = np.full((n, n), -np.inf)
    arr[got["row"], got["col"]] = got["value"]
    np.testing.assert_allclose(arr, want, rtol=1e-12)


def test_grid_idw_matches_numpy(points, cloud, grid):
    got = PC.grid_idw(points, grid).toPandas()
    xs = cloud["x"].to_numpy(); ys = cloud["y"].to_numpy()
    zs = cloud["z"].to_numpy()
    n = grid.height
    radius = 2.0 * RES
    # oracle: brute-force per cell over all points (small fixture)
    want = {}
    cx = X0 + (np.arange(n) + 0.5) * RES
    cy = Y0 - (np.arange(n) + 0.5) * RES
    # restrict oracle to a random subset of cells for runtime
    rs = np.random.RandomState(3)
    cells = [(int(a), int(b)) for a, b in
             zip(rs.randint(0, n, 40), rs.randint(0, n, 40))]
    gmap = {(int(r), int(c)): v for r, c, v in
            zip(got["row"], got["col"], got["value"])}
    for (ri, ci) in cells:
        d = np.hypot(xs - cx[ci], ys - cy[ri])
        sel = d <= radius
        if not sel.any():
            assert (ri, ci) not in gmap
            continue
        w = 1.0 / d[sel] ** 2
        expect = np.sum(w * zs[sel]) / np.sum(w)
        assert (ri, ci) in gmap, (ri, ci)
        np.testing.assert_allclose(gmap[(ri, ci)], expect, rtol=1e-10)


def test_fill_nodata_idw(spark, grid):
    """Known smooth field with punched holes: filled values match a
    brute-force numpy IDW oracle exactly and sit near the truth."""
    n = 40
    g = GridSpec("f", width=n, height=n, x0=0.0, y0=float(n), res=1.0)
    rr, cc = np.mgrid[0:n, 0:n].astype(float)
    z = np.sin(cc / 6.0) + np.cos(rr / 5.0)
    rs = np.random.RandomState(9)
    holes = rs.uniform(size=(n, n)) < 0.05
    vals = z.copy(); vals[holes] = np.nan
    pdf = pd.DataFrame({
        "row": np.mgrid[0:n, 0:n][0].ravel().astype(np.int32),
        "col": np.mgrid[0:n, 0:n][1].ravel().astype(np.int32),
        "value": vals.ravel(),
    })
    px = spark.createDataFrame(pdf)
    out = PC.fill_nodata_idw(px, g, max_dist=6.0).toPandas()
    assert len(out) == n * n - 0  # every cell present
    filled = out[out["filled"]]
    assert len(filled) == int(holes.sum())
    # oracle
    vr, vc = np.where(~holes)
    for _, row in filled.iterrows():
        d2 = (vr - row["row"]) ** 2 + (vc - row["col"]) ** 2
        sel = d2 <= 36.0
        w = 1.0 / d2[sel]
        expect = np.sum(w * z[vr[sel], vc[sel]]) / np.sum(w)
        np.testing.assert_allclose(row["value"], expect, rtol=1e-10)
        assert abs(row["value"] - z[int(row["row"]), int(row["col"])]) < 0.25


def _holed_field(n=40, hole_frac=0.05, seed=9):
    g = GridSpec("f", width=n, height=n, x0=0.0, y0=float(n), res=1.0)
    rr, cc = np.mgrid[0:n, 0:n].astype(float)
    z = np.sin(cc / 6.0) + np.cos(rr / 5.0)
    rs = np.random.RandomState(seed)
    holes = rs.uniform(size=(n, n)) < hole_frac
    vals = z.copy(); vals[holes] = np.nan
    pdf = pd.DataFrame({
        "row": np.mgrid[0:n, 0:n][0].ravel().astype(np.int32),
        "col": np.mgrid[0:n, 0:n][1].ravel().astype(np.int32),
        "value": vals.ravel(),
    })
    return g, z, holes, pdf


def test_fill_nodata_nearest(spark):
    """Nearest fill matches a brute-force numpy nearest oracle with the
    same deterministic (d², row, col) tie-break."""
    g, z, holes, pdf = _holed_field()
    out = PC.fill_nodata_nearest(spark.createDataFrame(pdf), g,
                                 max_dist=6.0).toPandas()
    filled = out[out["filled"]]
    assert len(filled) == int(holes.sum())
    vr, vc = np.where(~holes)
    for _, row in filled.iterrows():
        d2 = (vr - row["row"]) ** 2 + (vc - row["col"]) ** 2
        order = np.lexsort((vc, vr, d2))
        best = order[0]
        assert d2[best] <= 36.0
        np.testing.assert_allclose(row["value"], z[vr[best], vc[best]],
                                   rtol=0)


def test_fill_nodata_tps(spark):
    """Single-bucket TPS fill must equal the direct dense numpy solve
    (same donors → same system); values near truth on a smooth field."""
    g, z, holes, pdf = _holed_field(n=30, hole_frac=0.04, seed=4)
    out = PC.fill_nodata_tps(spark.createDataFrame(pdf), g,
                             max_dist=64.0).toPandas()
    filled = out[out["filled"]].sort_values(["row", "col"])
    assert len(filled) == int(holes.sum())
    vr, vc = np.where(~holes)
    hr, hc = np.where(holes)
    expect = PC.tps_solve_eval(vr.astype(float), vc.astype(float),
                               z[~holes].astype(float),
                               hr.astype(float), hc.astype(float))
    got = filled.set_index(["row", "col"])["value"]
    exp = pd.Series(expect, index=pd.MultiIndex.from_arrays([hr, hc]))
    for k in exp.index:
        np.testing.assert_allclose(got.loc[k], exp.loc[k], rtol=1e-8)
        assert abs(got.loc[k] - z[k]) < 0.2  # close to the true surface


def test_fill_nodata_dispatcher(spark):
    g, z, holes, pdf = _holed_field(n=20)
    px = spark.createDataFrame(pdf)
    assert PC.fill_nodata(px, g, "idw", max_dist=6.0).count() == 400
    assert PC.fill_nodata(px, g, "nearest", max_dist=6.0).count() == 400
    assert PC.fill_nodata(px, g, "linear", max_dist=6.0).count() == 400
    assert PC.fill_nodata(px, g, "cubic", max_dist=6.0).count() == 400
    with pytest.raises(ValueError):
        PC.fill_nodata(px, g, "kriging")


def test_fill_linear_cubic_recover_smooth_field(spark):
    """Directional interpolation must reconstruct a bilinear surface
    exactly (linear) and a smooth cubic-ish surface closely (cubic)."""
    import numpy as np

    g, z, holes, pdf = _holed_field(n=20)
    # overwrite with an exactly-bilinear field: linear interp is exact
    plane = lambda r, c: 2.0 + 0.5 * r + 0.25 * c  # noqa: E731
    pdf = pdf.copy()
    # pd.isna, NOT `is None`: the hole markers are np.nan — the
    # original `is None` check silently filled every hole with a plane
    # value and made the exactness loop iterate zero rows
    import pandas as pd
    pdf["value"] = [None if pd.isna(v) else plane(r, c)
                    for r, c, v in zip(pdf["row"], pdf["col"], pdf["value"])]
    px = spark.createDataFrame(pdf)
    n_holes = int(pdf["value"].isna().sum())
    assert n_holes > 0, "fixture must actually contain holes"
    for method in ("linear", "cubic"):
        out = (PC.fill_nodata(px, g, method, max_dist=6.0)
               .where(F.col("filled")).toPandas())
        assert len(out) > 0, method  # the fill must actually run
        got = out.set_index(["row", "col"])["value"]
        for (r, c), v in got.items():
            assert abs(v - plane(r, c)) < 1e-9, (method, r, c, v)


def test_dem_pipeline_recovers_ground(spark, points, grid):
    """E1 chain: DTM from ground returns ≈ the generating ground plane."""
    dem = PC.dem_pipeline(points, grid, kind="dtm").toPandas()
    assert len(dem) == grid.width * grid.height
    sub = dem.dropna(subset=["value"])
    truth = (30.0 + 0.01 * (sub["x"] - X0) + 0.02 * (Y0 - sub["y"]))
    err = (sub["value"] - truth).abs()
    # idw of ground returns (σ=5 cm) should track the plane closely
    assert err.median() < 0.05
    assert (err < 0.5).mean() > 0.99


def test_dsm_above_dtm(spark, points, grid):
    """DSM (max of all returns incl. vegetation) ≥ DTM everywhere both
    are defined — a structural invariant of the reference pair."""
    dtm = PC.dem_pipeline(points, grid, "dtm", with_coords=False) \
        .select("row", "col", F.col("value").alias("dtm"))
    dsm = PC.dem_pipeline(points, grid, "dsm", with_coords=False) \
        .select("row", "col", F.col("value").alias("dsm"))
    both = dtm.join(dsm, ["row", "col"]).where(
        F.col("dtm").isNotNull() & F.col("dsm").isNotNull())
    bad = both.where(F.col("dsm") < F.col("dtm") - 0.3).count()
    assert bad == 0


def test_gps_time_to_date(spark):
    df = spark.createDataFrame(
        [(0.0,), (86400.0 * 10,), (1.1e9,)], ["gps"])
    got = [r[0].isoformat() for r in
           df.select(PC.gps_time_to_date(F.col("gps"))).collect()]
    # 0 and 864000 are pre-adjustment (< 1e9): +1e9 s ≈ 11574.07 days
    assert got[0] == (pd.Timestamp("1980-01-06")
                      + pd.Timedelta(seconds=1e9)).date().isoformat()
    assert got[2] == (pd.Timestamp("1980-01-06")
                      + pd.Timedelta(seconds=1.1e9)).floor("D").date().isoformat()


def test_noise_filter(points, cloud):
    kept = PC.drop_noise(points).count()
    assert kept == int((~np.isin(cloud["classification"], (7, 18))).sum())


def test_square_extreme_matches_windowed_loop():
    """SMRF's grey erosion/dilation equals the min/max over each cell's
    radius-r square clipped to the array (a plain per-cell loop), NaN
    propagating, including arrays narrower than the window."""
    rs = np.random.RandomState(3)
    for shape in [(7, 9), (1, 5), (12, 3)]:
        a = rs.standard_normal(shape)
        a[rs.rand(*shape) < 0.05] = np.nan
        for r in range(1, 5):
            for reduce, fill in ((np.min, np.inf), (np.max, -np.inf)):
                want = np.array([[reduce(a[max(i - r, 0):i + r + 1,
                                           max(j - r, 0):j + r + 1])
                                  for j in range(shape[1])]
                                 for i in range(shape[0])])
                got = PC._square_extreme(a, r, reduce, fill)
                np.testing.assert_array_equal(got, want)


def test_smrf_ground_classification(spark):
    """SMRF-lite recovers ground labels on a synthetic scene: flat plane
    + scattered 'buildings' (elevated blocks) + canopy points."""
    rs = np.random.RandomState(33)
    n = 12_000
    x = rs.uniform(0, 160, n); y = rs.uniform(0, 160, n)
    ground_z = 10.0 + 0.02 * x
    z = ground_z + rs.normal(0, 0.05, n)
    truth = np.full(n, 2, dtype=np.int32)
    # buildings: two 20x20 blocks raised 8 m
    for bx, by in [(30, 30), (100, 80)]:
        sel = (abs(x - bx) < 10) & (abs(y - by) < 10)
        z[sel] += 8.0
        truth[sel] = 6
    # canopy: random tall points
    can = rs.uniform(size=n) < 0.1
    z[can] += rs.uniform(3, 12, n)[can]
    truth[can] = 5
    pdf = pd.DataFrame({
        "x": x + X0, "y": Y0 - y, "z": z,
        "classification": np.zeros(n, dtype=np.int32),
    })
    g = GridSpec("smrf", width=40, height=40, x0=X0, y0=Y0, res=4.0)
    pts = spark.createDataFrame(pdf)
    out = PC.classify_ground_smrf(pts, g, cell=2.0, slope=0.2,
                                  window=8, threshold=0.5, tile=40).toPandas()
    assert len(out) == n
    m = out.sort_values(["x", "y"]).reset_index(drop=True)
    t = pdf.assign(truth=truth).sort_values(["x", "y"]).reset_index(drop=True)
    pred_ground = (m["classification"] == 2).to_numpy()
    true_ground = (t["truth"] == 2).to_numpy()
    recall = (pred_ground & true_ground).sum() / true_ground.sum()
    precision = (pred_ground & true_ground).sum() / max(pred_ground.sum(), 1)
    assert recall > 0.95, recall
    assert precision > 0.9, precision


def test_array_pixels_roundtrip(spark):
    from error_analysis_spark.sources.ingest import (
        array_to_pixels, pixels_to_array,
    )
    g = GridSpec("rt", width=20, height=16, x0=100.0, y0=500.0, res=2.5)
    rs = np.random.RandomState(2)
    arr = rs.standard_normal((16, 20))
    arr[3, 4] = np.nan
    arr[5, 6] = -9999.0  # nodata sentinel -> NULL
    df = array_to_pixels(spark, arr, g)
    assert df.columns == ["dataset_id", "band", "row", "col", "x", "y", "value"]
    assert df.where(F.col("value").isNull()).count() == 2
    back = pixels_to_array(df.toPandas(), g)
    expect = arr.copy(); expect[5, 6] = np.nan
    np.testing.assert_allclose(back[~np.isnan(expect)],
                               expect[~np.isnan(expect)], rtol=1e-12)
    assert np.isnan(back[3, 4]) and np.isnan(back[5, 6])


def test_grid_idw_uses_out_of_crop_donors(spark):
    """A point just outside the grid crop is still a within-radius donor
    for edge cells (PDAL writers.gdal semantics): cropping the grid must
    not change edge-cell IDW values computed from the full point set."""
    import pandas as pd

    rows = [
        # inside the 4x4 crop
        (1, 1.5, -1.5, 10.0), (2, 2.5, -2.5, 20.0),
        # 0.5m LEFT of x0=0: within radius 2.0 of col-0 cell centers
        (3, -0.5, -1.5, 99.0),
    ]
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["point_id", "x", "y", "z"]))
    g = GridSpec("g", width=4, height=4, x0=0.0, y0=0.0, res=1.0)
    out = (PC.grid_idw(pts, g, radius_factor=2.0).toPandas()
           .set_index(["row", "col"])["value"])
    # manual IDW for cell (1, 0), center (0.5, -1.5): donors are point 1
    # (d=1.0) and point 3 (d=1.0) — both must contribute
    expect = (10.0 / 1.0 + 99.0 / 1.0) / (1.0 / 1.0 + 1.0 / 1.0)
    assert abs(out[(1, 0)] - expect) < 1e-9, out[(1, 0)]


def test_smrf_tiled_matches_monolithic_at_seams(spark):
    """Halo-exchanged tiles must label every point exactly as one
    monolithic array would — including points near tile seams and next
    to objects that sit just beyond the old (too-short) halo."""
    import numpy as np
    import pandas as pd

    rows = []
    pid = 0
    for xi in range(80):
        for yi in range(0, 80, 4):
            x, y = xi + 0.5, -(yi + 0.5)
            z = 0.02 * xi
            # building block straddling the x=40 tile seam
            if 36 <= xi < 44 and 8 <= yi < 24:
                z += 12.0
            rows.append((pid, x, y, z, 1))
            pid += 1
    pts = spark.createDataFrame(pd.DataFrame(
        rows, columns=["point_id", "x", "y", "z", "classification"]))
    g = GridSpec("g", width=80, height=80, x0=0.0, y0=0.0, res=1.0)
    kw = dict(cell=2.0, slope=0.2, window=6, threshold=0.4)
    # monolithic = one tile holding the whole scene: 64 cells (128 m)
    # plus the 2·window-cell halo covers the 40-cell (80 m) scene, and
    # gives the same labels as tile=4096 at a fraction of the array size
    mono = (PC.classify_ground_smrf(pts, g, tile=64, **kw)
            .select("point_id", "classification").toPandas()
            .set_index("point_id")["classification"])
    tiled = (PC.classify_ground_smrf(pts, g, tile=20, **kw)
             .select("point_id", "classification").toPandas()
             .set_index("point_id")["classification"])
    assert len(mono) == len(tiled) == pid
    diff = (mono.sort_index() != tiled.sort_index()).sum()
    assert diff == 0, f"{diff} seam labels diverge from monolithic"
    # sanity: the building is actually rejected from ground
    roof = [r[0] for r in rows if r[3] > 10]
    assert (mono.loc[roof] != 2).all()
