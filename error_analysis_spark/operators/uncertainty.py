"""Uncertainty propagation — SURVEY.md §2 A8/A14 (closed form), SC15
(analytical disk integral), J5+A9 (Monte Carlo), J6+A12 (Hugonnet),
J7+A11 (brute force), A10 (FFT footprint), A15 percentile rollups.

All estimate σ_A — the standard error of the spatial mean of a field
with variogram γ over an area A — plus the uncorrelated term rms/√n and
quadrature totals (variography_uncertainty.py:989-1582).

The five correlated-term estimators form the reference's own
accuracy/cost ladder (:989-1001): brute O(N²) validates analytical
O(steps), MC O(n_pairs), FFT O(n log n), Hugonnet O(kN). All five are
kept and, like the reference, cross-method agreement is the
correctness oracle (SURVEY §5.1). The ladder's per-zone dispatch is
written once, in `sigma_a_by_zone`.

Scale shapes: MC, FFT and analytical are bounded numpy kernels per
polygon, run in the driver over a collected zone table by
`sigma_a_by_zone`; Hugonnet broadcasts k centers against the pixel
table (map-side cross join + two-level agg); brute force stays a
bounded validation path (grid_points caps N).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from error_analysis_spark.functions.geometry import (
    parse_wkt_polygon, pip_mask, polygon_area, polygon_bounds,
)


# --------------------------------------------------------------------------
# covariance helpers (SC10/SC11 in numpy + Column forms)
# --------------------------------------------------------------------------

def gamma_np(h, sills, ranges, nugget=0.0):
    """Nested spherical γ(h) — delegates to the single shared numpy
    implementation (fitting.spherical_gamma_np) so the model can never
    diverge between the fitting and propagation paths."""
    from error_analysis_spark.operators.fitting import spherical_gamma_np
    params = np.asarray([*sills, *ranges, nugget], dtype=np.float64)
    return spherical_gamma_np(np.asarray(h, dtype=np.float64), params,
                              len(sills), nugget=True)


def total_sill(sills, nugget=0.0) -> float:
    return float(sum(sills) + nugget)


def cov_expr(dist_col, sills, ranges, nugget=0.0):
    """C(h) = σ² − γ(h) as a Column expression."""
    from error_analysis_spark.functions.scalars import spherical_gamma
    sill = total_sill(sills, nugget)
    return F.lit(sill) - spherical_gamma(dist_col, list(sills), list(ranges),
                                         float(nugget))


# --------------------------------------------------------------------------
# A8/A14 — uncorrelated term + closed-form correlated terms + quadrature
# --------------------------------------------------------------------------

def mean_random_uncorrelated(rms: float, n: int) -> float:
    """σ_uncorr = rms/√n (variography_uncertainty.py:1544-1552)."""
    return rms / math.sqrt(n)


def closed_form_correlated(sills, ranges, n: int, res: float) -> list[float]:
    """A14 — per component i: √(2Cᵢ)/√n · √(π aᵢ²/(5 res²))
    (variography_uncertainty.py:1670-1737)."""
    return [
        math.sqrt(2.0 * c) / math.sqrt(n) * math.sqrt(math.pi * a * a
                                                      / (5.0 * res * res))
        for c, a in zip(sills, ranges)
    ]


def quadrature_total(components: list[float]) -> float:
    """SC14 — √(Σ σᵢ²) (variography_uncertainty.py:1554-1573)."""
    return math.sqrt(sum(c * c for c in components))


# --------------------------------------------------------------------------
# SC15 — analytical equivalent-disk integral
# --------------------------------------------------------------------------

def estimate_analytical(area: float, sills, ranges, nugget=0.0,
                        num_steps: int = 1000) -> float:
    """σ_A² = (2π/A)·Σ r·C(r)·dr over a midpoint grid to R = √(A/π)
    (variography_uncertainty.py:1184-1195). Driver-scalar: 1000 steps of
    closed-form math needs no cluster."""
    radius = math.sqrt(area / math.pi)
    dr = radius / num_steps
    r = (np.arange(num_steps) + 0.5) * dr
    cov = total_sill(sills, nugget) - gamma_np(r, sills, ranges, nugget)
    var = (2.0 * math.pi / area) * float(np.sum(r * cov)) * dr
    return math.sqrt(max(var, 0.0))


# --------------------------------------------------------------------------
# J5 + A9 — Monte Carlo pair sampling inside a polygon
# --------------------------------------------------------------------------

def _part_plan(n: int) -> list[tuple[int, int]]:
    """Deterministic (part, want) split shared by the distributed and
    per-zone-kernel samplers — identical streams either way."""
    n_parts = max(1, min(32, n // 50_000 + 1))
    per_part = -(-n // n_parts)  # ceil
    wants = [(p, min(per_part, n - p * per_part)) for p in range(n_parts)]
    return [(p, w) for p, w in wants if w > 0]


def _sample_part(part: int, want: int, seed: int, rings, bounds):
    """One part's rejection-sampled points (the single RNG-stream owner)."""
    minx, miny, maxx, maxy = bounds
    rng = np.random.RandomState(seed + 7919 * part)
    xs, ys = [], []
    got = 0
    drawn = 0
    while got < want:
        m = max(1024, int((want - got) * 2.2))
        cx = rng.uniform(minx, maxx, m)
        cy = rng.uniform(miny, maxy, m)
        keep = pip_mask(cx, cy, rings)
        xs.append(cx[keep])
        ys.append(cy[keep])
        got += int(keep.sum())
        drawn += m
        # a zero-area sliver / collinear ring parses as a polygon but
        # accepts (almost) nothing — fail loudly instead of spinning
        # this executor forever on one bad zone
        if drawn >= 10_000_000 and got == 0:
            raise ValueError(
                "rejection sampling accepted 0 of "
                f"{drawn} draws — degenerate (zero-area?) polygon; "
                f"bounds={bounds}")
    return np.concatenate(xs)[:want], np.concatenate(ys)[:want]


def uniform_points_in_polygon(spark: SparkSession, wkt: str, n: int,
                              seed: int = 42) -> DataFrame:
    """U5 — rejection-sample exactly n uniform points inside the polygon
    (variography_uncertainty.py:1011-1047). Each generator ROW owns a
    seeded stream and a disjoint pair_id range (`part·per_part + i`), so
    the output is deterministic under ANY physical partitioning and
    needs no global limit (a trailing `.limit(n)` would funnel every
    generated point through one partition just to trim the surplus)."""
    rings = parse_wkt_polygon(wkt)
    bounds = polygon_bounds(wkt)
    wants = _part_plan(n)
    per_part = -(-n // max(1, len(wants)))  # ceil, matches _part_plan

    def gen(iterator):
        for pdf in iterator:
            for part, want in zip(pdf["part"], pdf["want"]):
                part, want = int(part), int(want)
                x, y = _sample_part(part, want, seed, rings, bounds)
                yield pd.DataFrame({
                    "pair_id": part * per_part + np.arange(want, dtype=np.int64),
                    "x": x, "y": y,
                })

    base = spark.createDataFrame(wants, "part int, want int") \
        .repartition(len(wants))
    return base.mapInPandas(gen, "pair_id long, x double, y double")


def estimate_monte_carlo(wkt: str, sills, ranges, nugget=0.0,
                         n_pairs: int = 100_000, seed: int = 42) -> float:
    """J5+A9 homoscedastic — σ_A² ≈ E over random point pairs (X,Y in A)
    of C(|X−Y|) (variography_uncertainty.py:1236-1274), as a bounded
    numpy kernel. The two point sets are the streams
    `uniform_points_in_polygon` draws for `seed` and `seed + 1` (shared
    `_sample_part`), paired by index. Bounded per zone, so
    `sigma_a_by_zone` runs it for every zone of a zone table."""
    rings = parse_wkt_polygon(wkt)
    bounds = polygon_bounds(wkt)
    xa, ya, xb, yb = [], [], [], []
    for part, want in _part_plan(n_pairs):
        x1, y1 = _sample_part(part, want, seed, rings, bounds)
        x2, y2 = _sample_part(part, want, seed + 1, rings, bounds)
        xa.append(x1); ya.append(y1); xb.append(x2); yb.append(y2)
    d = np.hypot(np.concatenate(xa) - np.concatenate(xb),
                 np.concatenate(ya) - np.concatenate(yb))
    cov = total_sill(sills, nugget) - gamma_np(d, sills, ranges, nugget)
    return math.sqrt(max(float(cov.mean()), 0.0))


# --------------------------------------------------------------------------
# J6 + A12 — Hugonnet k-center shortcut
# --------------------------------------------------------------------------

def estimate_hugonnet(pixels: DataFrame, sills, ranges, nugget=0.0,
                      k_centers: int = 100, seed: int = 42,
                      sigma2_col: str | None = None,
                      order_col=None) -> DataFrame:
    """J6+A12 — σ²_A = mean(σ²_px) · (mean over k random centers of
    Σ_pixels ρ(d))/N (Hugonnet et al. Eqs. 18-19;
    variography_uncertainty.py:1322-1378), as one lazy plan returning a
    1-row DataFrame(sigma_a). No `.first()` round-trips, so it composes
    into larger DAGs and stays oracle-checkable.

    `pixels`: (x, y[, σ²]) in-polygon pixel centers. k centers are drawn
    from the pixels themselves (hash order) and broadcast — the big
    table never shuffles; a two-level aggregate reduces. mean(σ²_px) is
    the total sill (homoscedastic) unless `sigma2_col` names a
    per-pixel variance column; its mean rides the pixel-count
    aggregate. `order_col`: expression ranking pixels for the k-center
    draw. Defaults to xxhash64(x, y, seed); pass an md5-based
    expression for cross-engine-reproducible selection."""
    sill = total_sill(sills, nugget)
    if order_col is None:
        order_col = F.xxhash64("x", "y", F.lit(seed))
    # raw 64-bit hash as id: mod-reduced ids collided (~0.5% at k=100)
    # and merged two centers into one group
    centers = (pixels.withColumn("_u", order_col)
               .orderBy("_u").limit(k_centers)
               .select(F.col("x").alias("cx"), F.col("y").alias("cy"),
                       F.col("_u").alias("center_id")))
    stats = [F.count("*").alias("n")]
    if sigma2_col is not None:
        stats.append(F.avg(sigma2_col).alias("mean_s2"))
    nrow = pixels.agg(*stats)
    mean_s2 = F.lit(sill) if sigma2_col is None else F.col("mean_s2")
    joined = pixels.crossJoin(F.broadcast(centers))
    dx = F.col("x") - F.col("cx")
    dy = F.col("y") - F.col("cy")
    dist = F.sqrt(dx * dx + dy * dy)
    # ρ(d) = C(d)/σ², clipped to [-1, 1] (variography_uncertainty.py:1359)
    rho = F.greatest(F.lit(-1.0), F.least(
        F.lit(1.0), cov_expr(dist, sills, ranges, nugget) / F.lit(sill)))
    per_center = joined.groupBy("center_id").agg(F.sum(rho).alias("sum_rho"))
    mean_rho = per_center.agg(F.avg("sum_rho").alias("mean_sum_rho"))
    return (mean_rho.crossJoin(nrow)
            .select(F.sqrt(F.greatest(
                mean_s2 * F.col("mean_sum_rho") / F.col("n"),
                F.lit(0.0))).alias("sigma_a")))


# --------------------------------------------------------------------------
# J7 + A11 — brute-force double sum (validation path)
# --------------------------------------------------------------------------

def estimate_brute_force(spark: SparkSession, wkt: str, sills, ranges,
                         nugget=0.0, grid_points: int = 100) -> float:
    """J7+A11 — regular grid inside the polygon, full double sum
    σ_A² = ΣᵢΣⱼ C(dᵢⱼ)/N² (variography_uncertainty.py:1197-1234).
    Bounded by grid_points² cells — the validation oracle, kept exact."""
    minx, miny, maxx, maxy = polygon_bounds(wkt)
    rings = parse_wkt_polygon(wkt)
    gx = np.linspace(minx, maxx, grid_points)
    gy = np.linspace(miny, maxy, grid_points)
    xx, yy = np.meshgrid(gx, gy)
    keep = pip_mask(xx.ravel(), yy.ravel(), rings)
    pts = pd.DataFrame({"x": xx.ravel()[keep], "y": yy.ravel()[keep]})
    pts["id"] = np.arange(len(pts), dtype=np.int64)
    sdf = spark.createDataFrame(pts)
    a = sdf.select(F.col("id").alias("ia"), F.col("x").alias("xa"),
                   F.col("y").alias("ya"))
    b = sdf.select(F.col("id").alias("ib"), F.col("x").alias("xb"),
                   F.col("y").alias("yb"))
    pairs = a.crossJoin(b)
    dist = F.hypot(F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb"))
    # diagonal (i == j) pairs contribute the FULL sill (C(0) = σ², not
    # σ² − nugget): the reference adds N·σ² explicitly
    # (variography_uncertainty.py:1229-1230)
    cov = F.when(F.col("ia") == F.col("ib"),
                 F.lit(total_sill(sills, nugget))) \
           .otherwise(cov_expr(dist, sills, ranges, nugget))
    total = pairs.agg(F.sum(cov)).first()[0]
    n = len(pts)
    return math.sqrt(max(total / (n * n), 0.0))


def brute_force_rect_by_zone(zones: DataFrame, sills, ranges, nugget=0.0,
                             grid_points: int = 12) -> DataFrame:
    """J7+A11, all-zones relational form: the full double sum
    σ_A² = ΣᵢΣⱼ C(dᵢⱼ)/N² over a g×g grid per zone, every zone in ONE
    distributed plan (grid explode → within-zone self-join → covariance
    sum). `zones`: (zone_id, width, height) axis-aligned rectangles at
    the origin — the grid is then fully inside the polygon, keeping the
    plan relational end-to-end (the general-polygon single-zone form is
    `estimate_brute_force`; variography_uncertainty.py:1197-1234).
    Output: zone_id, sigma_a."""
    g = int(grid_points)
    idx = F.sequence(F.lit(0), F.lit(g - 1))
    pts = (zones.select("zone_id", "width", "height")
           .withColumn("i", F.explode(idx))
           .withColumn("j", F.explode(idx))
           .select("zone_id",
                   (F.col("i") * F.col("width") / (g - 1)).alias("x"),
                   (F.col("j") * F.col("height") / (g - 1)).alias("y")))
    a = pts.select("zone_id", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select("zone_id", F.col("x").alias("xb"), F.col("y").alias("yb"))
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    # sqrt(dx²+dy²) instead of hypot: bit-identical to the SQL oracle
    # (coords are bounded, so the overflow guard hypot adds is moot)
    dist = F.sqrt(dx * dx + dy * dy)
    same = (F.col("xa") == F.col("xb")) & (F.col("ya") == F.col("yb"))
    # diagonal pairs carry the FULL sill — C(0) = σ², not σ² − nugget
    # (variography_uncertainty.py:1229-1230)
    cov = (F.when(same, F.lit(total_sill(sills, nugget)))
           .otherwise(cov_expr(dist, sills, ranges, nugget)))
    n2 = float(g * g) ** 2
    return (a.join(b, "zone_id")
            .groupBy("zone_id")
            .agg(F.sum(cov).alias("s"))
            .select("zone_id",
                    F.sqrt(F.greatest(F.col("s") / F.lit(n2), F.lit(0.0)))
                    .alias("sigma_a")))


# --------------------------------------------------------------------------
# A10 — FFT footprint estimator (per-zone numpy kernel)
# --------------------------------------------------------------------------

def estimate_fft(wkt: str, sills, ranges, nugget=0.0,
                 grid_points: int = 200) -> float:
    """A10 — autocorrelation of the polygon mask via rFFT × covariance map
    (variography_uncertainty.py:1276-1320). Grids are bounded
    (grid_points default 200) so this is a per-zone numpy kernel —
    `sigma_a_by_zone` runs it for every zone of a zone table."""
    minx, miny, maxx, maxy = polygon_bounds(wkt)
    rings = parse_wkt_polygon(wkt)
    nx = ny = grid_points
    dx = (maxx - minx) / nx
    dy = (maxy - miny) / ny
    cx = minx + (np.arange(nx) + 0.5) * dx
    cy = miny + (np.arange(ny) + 0.5) * dy
    xx, yy = np.meshgrid(cx, cy)
    mask = pip_mask(xx.ravel(), yy.ravel(), rings).reshape(ny, nx).astype(float)
    n_in = mask.sum()
    if n_in == 0:
        return 0.0
    # autocorrelation of the mask via zero-padded rFFT
    py, px = 2 * ny, 2 * nx
    fm = np.fft.rfft2(mask, s=(py, px))
    corr = np.fft.irfft2(fm * np.conj(fm), s=(py, px))
    corr = np.fft.fftshift(corr)
    iy = np.arange(py) - py // 2
    ix = np.arange(px) - px // 2
    hy = iy[:, None] * dy
    hx = ix[None, :] * dx
    cov = total_sill(sills, nugget) - gamma_np(np.hypot(hy, hx), sills, ranges,
                                               nugget)
    cell_area = dx * dy
    area = n_in * cell_area
    var = float(np.sum(corr * cov)) * cell_area ** 2 / (area ** 2)
    return math.sqrt(max(var, 0.0))


def sigma_a_by_zone(zones: DataFrame, sills, ranges, nugget=0.0,
                    method: str = "fft", **kw) -> pd.DataFrame:
    """Per-zone σ_A for a zone table: collects (zone_id, wkt) — one row
    per zone, a few KB — and runs the bounded numpy kernel (fft /
    analytical / monte_carlo) for each zone in the driver, the
    reference's method ladder (variography_uncertainty.py:989-1001) for
    the kernels whose cost is bounded by grid_points² / num_steps /
    n_pairs. A zone table built from pandas is a LocalRelation, so the
    collect runs no Spark job.

    Brute force takes a different input (one WKT, its own cross-join
    plan): call `estimate_brute_force` per zone, or
    `brute_force_rect_by_zone` for rectangles. Output: a pandas frame
    (zone_id, sigma_a).
    """
    s, r, n = list(sills), list(ranges), float(nugget)
    kernel = {
        "fft": lambda wkt: estimate_fft(wkt, s, r, n,
                                        kw.get("grid_points", 200)),
        "analytical": lambda wkt: estimate_analytical(
            polygon_area(wkt), s, r, n, kw.get("num_steps", 1000)),
        "monte_carlo": lambda wkt: estimate_monte_carlo(
            wkt, s, r, n, kw.get("n_pairs", 100_000), kw.get("seed", 42)),
    }.get(method)
    if kernel is None:
        raise ValueError(
            f"sigma_a_by_zone runs bounded per-zone kernels only "
            f"(fft, analytical, monte_carlo), got: {method}")
    return pd.DataFrame([(row.zone_id, kernel(row.wkt)) for row in
                         zones.select("zone_id", "wkt").collect()],
                        columns=["zone_id", "sigma_a"])
