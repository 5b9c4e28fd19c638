"""Zone delineation and membership — SURVEY.md §2 J2 (zone × pixel
membership), R8 (rasterize), SO2 (stable = valid − unstable), A13
(counts).

Reference semantics: stable_unstable_areas.py:598-638 (rasterize zones
into masks), 351-410 (derive_stable_from_unstable), 445-454 (pixel
counting), 641-671 (stats_all/stats_each).

Spark-first design: zones are a tiny table of WKT polygons. They are
scanline-rasterized onto the pixel grid (`rasterize_membership`, one
task per (zone, tile)), and membership is a plain (row, col) equi-join
against that table — no geometry work on the big pixel side. The
result (R8) is the `zone_membership` table every downstream zonal
aggregate joins against on (row, col).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def membership(pixels: DataFrame, zones: DataFrame, grid) -> DataFrame:
    """J2/R8 — (pixel × zone) membership: `pixels` joined on (row, col)
    with the zones burned onto `grid` (`rasterize_membership`).

    `zones`: zone_id, kind, name, wkt. Precondition: each pixel's x/y
    is the centre of its (row, col) cell on `grid` — a cell belongs to
    a zone iff its centre is inside (even-odd, half-open edges), so the
    join tests exactly the pixel coordinates. Output: the pixel columns
    plus zone_id, kind (one row per pixel per containing zone)."""
    return pixels.join(rasterize_membership(zones, grid), ["row", "col"])


def derive_stable(valid_pixels: DataFrame, member: DataFrame) -> DataFrame:
    """SO2 — stable area = valid pixels minus the union of unstable
    (feature-of-interest) zones: anti-join on the (row, col) keys of the
    `kind = 'unstable'` rows of `member` (the `membership` frame;
    derive_stable_from_unstable, stable_unstable_areas.py:351-410).
    Output: the stable subset of `valid_pixels` tagged zone_id='stable'.
    """
    foi = (member.where(F.col("kind") == "unstable")
           .select("row", "col").distinct())
    return (
        valid_pixels.join(foi, ["row", "col"], "left_anti")
        .withColumn("zone_id", F.lit("stable"))
    )


def zone_pixel_counts(member: DataFrame) -> DataFrame:
    """A13 — valid-pixel count per zone (stable_unstable_areas.py:445-454)."""
    return (member.where(F.col("value").isNotNull())
            .groupBy("zone_id").agg(F.count("*").alias("n_pixels")))


def rasterize_membership(zones: DataFrame, grid,
                         tile: int = 256) -> DataFrame:
    """R8 — burn zones into the grid by SCANLINE fill, distributed over
    (zone × intersecting tile) tasks.

    Per-pixel ray casting costs O(V) per cell; a scanline pass costs
    O(V·rows + cells) per tile — the classic rasterizer
    (stable_unstable_areas.py:598-638 delegates to rasterio's C version
    of exactly this). Semantics match `geometry.pip_mask` on the cell
    centres bit-for-bit: a cell belongs iff its CENTER is inside under
    the same even-odd, half-open crossing convention (asserted in
    tests). Output: row, col, zone_id, kind.

    Scale shape: tasks are (zone, tile) pairs — output per task is
    bounded by tile², huge zones parallelize across their tiles, and the
    pixel side joins this table on (row, col) with no geometry work.
    """
    import numpy as np
    import pandas as pd

    from error_analysis_spark.functions.geometry import (
        parse_wkt_polygon, polygon_bounds,
    )

    spark = zones.sparkSession
    x0, y0, res = float(grid.x0), float(grid.y0), float(grid.res)
    H, W_ = int(grid.height), int(grid.width)
    tasks = []
    for z in zones.select("zone_id", "kind", "wkt").collect():
        minx, miny, maxx, maxy = polygon_bounds(z["wkt"])
        # tiles whose cell-center range intersects the bbox
        r_lo = max(0, int(np.floor((y0 - maxy) / res - 0.5)))
        r_hi = min(H - 1, int(np.ceil((y0 - miny) / res)))
        c_lo = max(0, int(np.floor((minx - x0) / res - 0.5)))
        c_hi = min(W_ - 1, int(np.ceil((maxx - x0) / res)))
        if r_lo > r_hi or c_lo > c_hi:
            continue
        for ty in range(r_lo // tile, r_hi // tile + 1):
            for tx in range(c_lo // tile, c_hi // tile + 1):
                tasks.append((z["zone_id"], z["kind"], z["wkt"], ty, tx))
    if not tasks:
        return spark.createDataFrame(
            [], "row int, col int, zone_id string, kind string")
    tdf = spark.createDataFrame(
        tasks, "zone_id string, kind string, wkt string, ty int, tx int")

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for t in pdf.itertuples(index=False):
            rings = parse_wkt_polygon(t.wkt)
            r0, r1 = t.ty * tile, min((t.ty + 1) * tile, H) - 1
            cl, ch = t.tx * tile, min((t.tx + 1) * tile, W_) - 1
            segs = np.vstack([np.column_stack([r[:-1], r[1:]]) for r in rings])
            x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
            keep = y1 != y2
            x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
            if x1.size == 0:
                continue
            ymin = np.minimum(y1, y2)
            ymax = np.maximum(y1, y2)
            # candidate rows: center y ∈ [ymin, ymax) widened by one row
            # each side — the EXACT pip predicate below is the sole
            # filter, so float rounding in this range formula can never
            # drop (or double-count) a boundary crossing
            rs = np.maximum(np.floor((y0 - ymax) / res - 0.5).astype(np.int64),
                            r0)
            re_ = np.minimum(np.floor((y0 - ymin) / res - 0.5).astype(np.int64)
                             + 1, r1)
            n_rows = re_ - rs + 1
            ok = n_rows > 0
            if not ok.any():
                continue
            x1, y1, x2, y2, rs, n_rows = (a[ok] for a in
                                          (x1, y1, x2, y2, rs, n_rows))
            # expand (segment → covered rows) without a Python loop
            rows = np.repeat(rs, n_rows) + (
                np.arange(int(n_rows.sum())) -
                np.repeat(np.cumsum(n_rows) - n_rows, n_rows))
            yr = y0 - (rows + 0.5) * res
            sx1 = np.repeat(x1, n_rows)
            sy1 = np.repeat(y1, n_rows)
            cx = sx1 + (yr - sy1) / np.repeat(y2 - y1, n_rows) \
                * np.repeat(x2 - x1, n_rows)
            # re-apply the exact pip predicate: keep crossings whose row
            # center satisfies (y1>y)!=(y2>y) (guards float-boundary rows)
            sy2 = np.repeat(y2, n_rows)
            good = (sy1 > yr) != (sy2 > yr)
            rows, cx = rows[good], cx[good]
            order = np.lexsort((cx, rows))
            rows, cx = rows[order], cx[order]
            if rows.size % 2:  # defensive: parity must hold per closed ring
                continue
            # each row block has an even crossing count, so global
            # alternate-element pairing pairs within rows
            ca, cb, rr = cx[0::2], cx[1::2], rows[0::2]
            # candidate columns widened one cell each side — like the
            # row direction, the float range formula only SEEDS the
            # span; the exact pip comparison below is the sole filter,
            # so an edge crossing within a ULP of a cell center can
            # never flip a cell against pip_mask's verdict
            col_a = np.maximum(
                np.ceil((ca - x0) / res - 0.5).astype(np.int64) - 1, cl)
            col_b = np.minimum(
                np.ceil((cb - x0) / res - 0.5).astype(np.int64), ch)
            n_cols = col_b - col_a + 1
            ok2 = n_cols > 0
            if not ok2.any():
                continue
            col_a, rr, n_cols, ca, cb = (a[ok2] for a in
                                         (col_a, rr, n_cols, ca, cb))
            cols = np.repeat(col_a, n_cols) + (
                np.arange(int(n_cols.sum())) -
                np.repeat(np.cumsum(n_cols) - n_cols, n_cols))
            out_rows = np.repeat(rr, n_cols)
            # exact predicate: crossing-parity against the cell CENTER,
            # the same strict `<` pip_mask uses
            cxc = x0 + (cols + 0.5) * res
            good2 = (np.repeat(ca, n_cols) < cxc) != \
                    (np.repeat(cb, n_cols) < cxc)
            cols, out_rows = cols[good2], out_rows[good2]
            frames.append(pd.DataFrame({
                "row": out_rows.astype(np.int32),
                "col": cols.astype(np.int32),
                "zone_id": t.zone_id, "kind": t.kind,
            }))
        if not frames:
            return pd.DataFrame({"row": pd.Series(dtype="int32"),
                                 "col": pd.Series(dtype="int32"),
                                 "zone_id": pd.Series(dtype="object"),
                                 "kind": pd.Series(dtype="object")})
        return pd.concat(frames)

    return (tdf.groupBy("zone_id", "ty", "tx")
            .applyInPandas(scan, "row int, col int, zone_id string, "
                                 "kind string"))


def polygonize(valid_pixels: DataFrame, max_iter: int = 50) -> DataFrame:
    """R7 — connected regions (4-connectivity) of the valid mask →
    per-region bounding polygons (`rasterio.features.shapes` analog,
    variography_uncertainty.py:79-91, stable_unstable_areas.py:412-442,
    differencing_functions.py:2024-2047).

    Scanline-run decomposition, fully relational:

    1. maximal column-consecutive RUNS per grid row — one bounded
       window per row (partition = one raster row, never global);
    2. run-adjacency edges: runs on neighboring rows whose column
       spans overlap (equi-join on the row, overlap as residual
       predicate);
    3. hash-min connected components over the RUN graph (reused from
       extensions/dedup.py) — runs ≪ pixels, so the iterative step
       touches a tiny fraction of the data;
    4. one aggregate per region: pixel count, bbox, bbox WKT ring.

    Output: region_id (canonical = min run key = topmost-then-leftmost
    run), n_px, min/max row/col, wkt. The exact cell-boundary ring
    (vs bbox) is a driver-side refinement the reference only needs for
    plotting; every downstream consumer (SO1/SO2/J2) joins on the
    labeled pixels, which `region_labels` exposes.
    """
    lab = _labeled_runs(valid_pixels, max_iter)
    ring = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        F.col("min_col"), F.col("min_row"),
        F.col("max_col") + 1, F.col("min_row"),
        F.col("max_col") + 1, F.col("max_row") + 1,
        F.col("min_col"), F.col("max_row") + 1,
        F.col("min_col"), F.col("min_row"))
    return (lab.groupBy(F.col("component").alias("region_id"))
            .agg(F.sum("n_px").alias("n_px"),
                 F.min("row").alias("min_row"), F.max("row").alias("max_row"),
                 F.min("start_col").alias("min_col"),
                 F.max("end_col").alias("max_col"))
            .withColumn("wkt", ring))


def region_runs(valid_pixels: DataFrame) -> DataFrame:
    """Scanline runs: maximal spans of column-consecutive valid cells in
    each row. run_id packs (row, start_col) into one BIGINT so the min
    label is the topmost-then-leftmost run."""
    from pyspark.sql import Window

    w = Window.partitionBy("row").orderBy("col")
    cells = (valid_pixels.select("row", "col")
             .withColumn("_gap", F.when(
                 F.col("col") - F.lag("col").over(w) == 1, 0).otherwise(1))
             .withColumn("_seq", F.sum("_gap").over(
                 w.rowsBetween(Window.unboundedPreceding, 0))))
    return (cells.groupBy("row", "_seq")
            .agg(F.min("col").alias("start_col"),
                 F.max("col").alias("end_col"),
                 F.count("*").alias("n_px"))
            .select("row", "start_col", "end_col", "n_px",
                    (F.col("row").cast("bigint") * F.lit(1 << 32)
                     + F.col("start_col")).alias("run_id")))


def _labeled_runs(valid_pixels: DataFrame, max_iter: int) -> DataFrame:
    """Runs annotated with their region component: run-adjacency edges
    (equi-join on the row pair, span overlap as residual predicate) →
    hash-min CC over the run graph."""
    from error_analysis_spark.extensions.dedup import connected_components

    runs = region_runs(valid_pixels)
    a, b = runs.alias("a"), runs.alias("b")
    edges = (a.join(b, (F.col("a.row") + 1 == F.col("b.row"))
                    & (F.col("a.start_col") <= F.col("b.end_col"))
                    & (F.col("b.start_col") <= F.col("a.end_col")))
             .select(F.col("a.run_id").alias("id_a"),
                     F.col("b.run_id").alias("id_b")))
    labels = connected_components(
        edges, runs.select(F.col("run_id").alias("id")), max_iter=max_iter)
    return runs.join(labels.withColumnRenamed("id", "run_id"), "run_id")


def region_labels(valid_pixels: DataFrame, max_iter: int = 50) -> DataFrame:
    """Per-pixel region labels — the join surface SO1/SO2/J2 consume
    when they need the polygonized regions back on the grid. One
    explode over each run's span; no per-pixel CC iterations."""
    lab = _labeled_runs(valid_pixels, max_iter)
    return (lab.select("row", "start_col", "end_col", "component")
            .withColumn("col", F.explode(F.sequence("start_col", "end_col")))
            .select("row", "col", F.col("component").alias("region_id")))
