"""R8 scanline rasterization parity: rasterize_membership must produce
EXACTLY the cell set that per-cell-centre ray casting
(`geometry.pip_mask`, same even-odd half-open convention) selects,
including jagged polygons and holes."""

from __future__ import annotations

import numpy as np
import pandas as pd

from error_analysis_spark.fixtures import GridSpec
from error_analysis_spark.functions.geometry import parse_wkt_polygon, pip_mask
from error_analysis_spark.operators import zones as ZN


def _grid_pixels(spark, n: int):
    rows = [(r, c, c + 0.5, float(n) - (r + 0.5), 1.0)
            for r in range(n) for c in range(n)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["row", "col", "x", "y", "value"]))


def test_scanline_matches_pip(spark):
    n = 150
    grid = GridSpec("g", width=n, height=n, x0=0.0, y0=float(n), res=1.0)
    px = _grid_pixels(spark, n)
    rng = np.random.RandomState(5)
    ang = np.sort(rng.rand(40) * 2 * np.pi)
    rad = 30 + 20 * rng.rand(40)
    pts = [(75 + rad[i] * np.cos(ang[i]), 75 + rad[i] * np.sin(ang[i]))
           for i in range(40)]
    pts.append(pts[0])
    blob = ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts)
    zones = spark.createDataFrame([
        ("rect", "stable", "r",
         "POLYGON ((10 10, 60 10, 60 60, 10 60, 10 10))"),
        ("diamond", "unstable", "d",
         "POLYGON ((14.5 100, 40 125.5, 65.5 100, 40 74.5, 14.5 100))"),
        ("blob", "unstable", "b", f"POLYGON (({blob}))"),
        ("withhole", "unstable", "h",
         "POLYGON ((100 10, 140 10, 140 50, 100 50, 100 10), "
         "(110 20, 130 20, 130 40, 110 40, 110 20))"),
    ], ["zone_id", "kind", "name", "wkt"])

    # reference: ray casting at every cell centre of the grid
    rr, cc = np.mgrid[0:n, 0:n]
    rr, cc = rr.ravel(), cc.ravel()
    k_pip = set()
    for z in zones.collect():
        m = pip_mask(cc + 0.5, n - (rr + 0.5), parse_wkt_polygon(z["wkt"]))
        k_pip |= {(int(r), int(c), z["zone_id"])
                  for r, c in zip(rr[m], cc[m])}
    burned = ZN.rasterize_membership(zones, grid, tile=64) \
        .select("row", "col", "zone_id").toPandas()
    scan = ZN.membership(px, zones, grid) \
        .select("row", "col", "zone_id").toPandas()
    # every grid cell is a pixel, so the join keeps the burned set
    assert set(map(tuple, burned.values.tolist())) == \
        set(map(tuple, scan.values.tolist()))
    k_scan = set(map(tuple, scan.values.tolist()))
    assert k_pip == k_scan, (
        f"pip-only={list(k_pip - k_scan)[:5]} "
        f"scan-only={list(k_scan - k_pip)[:5]}")
    # the hole's interior is actually excluded
    assert not any(110 < c + 0.5 < 130 and 20 < 150 - (r + 0.5) < 40
                   for r, c, z in k_scan if z == "withhole")


# --------------------------------------------------------------------------
# R7 polygonize — scanline runs + run-graph CC
# --------------------------------------------------------------------------

def _mask_df(spark, cells):
    return spark.createDataFrame(
        pd.DataFrame(sorted(cells), columns=["row", "col"]))


def test_polygonize_u_shape_merges_arms(spark):
    # two vertical arms joined only at the bottom — labels must merge
    # across the run graph, not just between adjacent runs
    cells = {(r, 0) for r in range(6)} | {(r, 4) for r in range(6)} \
        | {(6, c) for c in range(5)}
    out = ZN.polygonize(_mask_df(spark, cells)).collect()
    assert len(out) == 1
    reg = out[0]
    assert reg["n_px"] == len(cells)
    assert (reg["min_row"], reg["max_row"]) == (0, 6)
    assert (reg["min_col"], reg["max_col"]) == (0, 4)
    assert reg["region_id"] == 0  # run (0,0) is canonical
    assert reg["wkt"] == "POLYGON ((0 0, 5 0, 5 7, 0 7, 0 0))"


def test_polygonize_diagonal_cells_are_separate(spark):
    # 4-connectivity: diagonal touching does NOT connect
    cells = {(0, 0), (1, 1), (2, 2)}
    out = ZN.polygonize(_mask_df(spark, cells)).collect()
    assert len(out) == 3
    assert all(r["n_px"] == 1 for r in out)


def test_polygonize_snake_region(spark):
    # serpentine path spanning many rows: stresses CC iteration depth
    cells = set()
    for r in range(0, 20, 2):
        cells |= {(r, c) for c in range(10)}
        cells.add((r + 1, 9 if (r // 2) % 2 == 0 else 0))
    out = ZN.polygonize(_mask_df(spark, cells)).collect()
    assert len(out) == 1
    assert out[0]["n_px"] == len(cells)


def test_region_labels_partition_pixels(spark):
    cells = {(r, 0) for r in range(6)} | {(r, 4) for r in range(6)} \
        | {(6, c) for c in range(5)} | {(0, 2)}
    lab = ZN.region_labels(_mask_df(spark, cells)).collect()
    assert {(r["row"], r["col"]) for r in lab} == cells
    by_label = {}
    for r in lab:
        by_label.setdefault(r["region_id"], set()).add((r["row"], r["col"]))
    assert len(by_label) == 2
    assert by_label[2] == {(0, 2)}  # isolated cell keeps its own run key


def test_cc_distributed_path_matches_local(spark):
    # force the distributed hash-min loop (local_threshold=0) and check
    # it produces the identical fixpoint labeling as the union-find
    # fast path on a chain + clique + isolated-vertex graph
    from error_analysis_spark.extensions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30)]          # chain 0..30
        + [(100, 101), (101, 102), (100, 102)],     # clique
        ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in range(0, 31)]
                                  + [(100,), (101,), (102,), (999,)], ["id"])
    local = {(r["id"], r["component"])
             for r in connected_components(pairs, verts).collect()}
    dist = {(r["id"], r["component"])
            for r in connected_components(
                pairs, verts, local_threshold=0).collect()}
    assert local == dist
    assert (999, 999) in local
    assert all(c == 0 for i, c in local if i <= 30)
    assert all(c == 100 for i, c in local if 100 <= i <= 102)
