"""High-level analysis pipeline — the reference's notebook chain
(SURVEY §3 E3, error_analysis_notebook.ipynb cells [10]→[89]) as one
composable API. A reference user's workflow maps 1:1:

    reference                               this engine
    ---------                               -----------
    RasterPairProcessor.process          →  step 1 (align_pair)
    TopoDifferencer.save_difference_…    →  step 2 (difference)
    TopoMapInteractor zones + derive     →  step 3 (membership, derive_stable)
    stats_all / stats_each               →  step 4 (zonal_stats)
    median bias + bootstrap + subtract   →  step 5
    calculate_mean_variogram_numba       →  step 6 (empirical_variogram)
    fit_best_spherical_model             →  step 7 (driver numpy LM)
    RegionalUncertaintyEstimator         →  step 8 (sigma_a_by_zone, MC)

Everything before `.collect()` stays one lazy DataFrame DAG; the only
materializations are the tiny model-facing tables (variogram bins, zone
list) that steps 7-8 consume in driver numpy, exactly where the
reference materializes whole GeoTIFFs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from error_analysis_spark.cachereg import track
from error_analysis_spark.fixtures import GridSpec
from error_analysis_spark.operators import align as AL
from error_analysis_spark.operators import stats as ST
from error_analysis_spark.operators import uncertainty as UN
from error_analysis_spark.operators import zones as ZN
from error_analysis_spark.operators.fitting import fit_best_spherical_model
from error_analysis_spark.operators.variogram import (
    VariogramParams, empirical_variogram,
)


@dataclass
class PairAnalysis:
    """Result bundle of `analyze_pair` (uncollected DataFrames unless
    noted)."""
    dod: DataFrame                      # row,col,x,y,dz (bias-corrected)
    bias: float                         # A6 median of stable Δz
    bias_std: float                     # A7 bootstrap std of the median
    rms: float                          # A8 over stable, post-correction
    zonal: DataFrame                    # A2 per-zone stats
    variogram: Any                      # pandas: lag, gamma_mean, gamma_std
    fit: dict                           # U2 best model (params, aic, …)
    sigma_a: dict = field(default_factory=dict)  # zone_id → σ_A


def analyze_pair(reference: DataFrame, compare: DataFrame,
                 ref_grid: GridSpec, cmp_grid: GridSpec,
                 zones: DataFrame,
                 vario: VariogramParams | None = None,
                 seed: int = 42) -> PairAnalysis:
    """Run the full differencing → uncertainty chain on a raster pair.

    `zones` must contain `kind='unstable'` polygons (features of
    interest); the stable area is derived as valid − unstable (SO2),
    exactly like the reference's derive_stable_from_unstable."""
    vario = vario or VariogramParams(bin_width=4.0, max_lag_multiplier=0.35,
                                     n_runs=8, max_samples=6000, seed=seed)

    # 1-2: align + difference (J1/R1/R4); inner join = crop-to-overlap
    dod = AL.difference(AL.align_pair(reference, compare, ref_grid, cmp_grid))
    dodv = dod.select("row", "col", "x", "y", F.col("dz").alias("value"))

    # 3: zone membership + stable derivation (J2/R8/SO2) — zones are
    # scanline-rasterized onto the common grid, then membership is a
    # plain (row, col) join with zero geometry work on the big side
    common = AL.dst_grid(ref_grid, cmp_grid)
    member = ZN.membership(dodv, zones, common).cache()
    stable = ZN.derive_stable(dodv, member).cache()

    # 5: vertical bias (A6) + bootstrap uncertainty (A7) + subtract (R5)
    bias = ST.median_bias(stable).first()["bias"]
    stable_id = stable.withColumn(
        "row_id", F.col("row").cast("long") * F.lit(1 << 31) + F.col("col"))
    bias_std = ST.bootstrap_median_std(stable_id, n_boot=200,
                                       seed=seed).first()["median_std"]
    corrected = dodv.withColumn("value", F.col("value") - F.lit(bias)).cache()
    stable_c = stable.withColumn("value", F.col("value") - F.lit(bias))
    rms = ST.rms(stable_c).first()["rms"]

    # 4: zonal stats on the corrected DoD (A1/A2)
    member_c = member.withColumn("value", F.col("value") - F.lit(bias))
    # materialize zonal (one row per zone — tiny) through the membership
    # cache BEFORE member.unpersist(); otherwise the caller's first read
    # of result.zonal re-runs the rasterize+join lineage from scratch
    zonal = ST.zonal_stats(member_c).persist(StorageLevel.MEMORY_AND_DISK)
    zonal.count()

    # 6-7: variogram on the stable area (R6/J4/A3/A4/A5) + fit (U2)
    # the DoD lives on `common` (align_pair picks the smaller grid),
    # so the variogram's samples-per-area target must use ITS res —
    # ref_grid.res under-sampled 4x whenever compare was the smaller
    vg, _max_lag = empirical_variogram(stable_c, vario, res=common.res)
    vg_pdf = vg.toPandas()
    # last consumers of the stage caches have materialized — release
    # them so a survey loop over many pairs doesn't accumulate
    # raster-sized executor caches (same discipline as
    # empirical_variogram's internal unpersist)
    member.unpersist()
    stable.unpersist()
    _fits, best = fit_best_spherical_model(
        vg_pdf.dropna(subset=["gamma_mean"]), seed=seed)

    # 8: σ_A per unstable zone (J5/A9 Monte Carlo kernel per zone, in
    # the driver over the collected zone table)
    import numpy as np
    # params layout: [C1..Cn, a1..an, nugget?] (fitting._initial_params)
    params = np.asarray(best["params"], dtype=float)
    n_comp = int(best["n_comp"])
    sills = [float(v) for v in params[:n_comp]]
    ranges = [float(v) for v in params[n_comp:2 * n_comp]]
    nugget = float(params[-1]) if bool(best["nugget"]) else 0.0
    out = UN.sigma_a_by_zone(zones.where(F.col("kind") == "unstable"),
                             sills, ranges, nugget, method="monte_carlo",
                             seed=seed)
    sigma_a = dict(zip(out["zone_id"], out["sigma_a"]))

    return PairAnalysis(dod=corrected, bias=float(bias),
                        bias_std=float(bias_std), rms=float(rms),
                        zonal=zonal, variogram=vg_pdf, fit=best,
                        sigma_a=sigma_a)


def analyze_pair_chain(a: DataFrame, b: DataFrame,
                       grid_a: GridSpec, grid_b: GridSpec,
                       n_zones: int = 5, stable_zone: int = 0,
                       sigma_zone: int = 1,
                       max_lag: float = 30.0, bin_width: float = 6.0,
                       min_pairs: int = 30,
                       sills=(0.04,), ranges=(30.0,), nugget: float = 0.002,
                       k_centers: int = 40) -> DataFrame:
    """E3 — the whole analyze_pair relational spine as ONE lazy DAG
    returning a single labeled-union DataFrame (stage, k, n, v1, v2,
    v3): align (J1/R1) → difference (R4) → median bias over the stable
    zone (A6, 1-row broadcast — no driver round-trip) → bias subtract
    (R5) → per-zone stats (A2) → empirical variogram bins over the
    stable area (R6/J4/A3/A4) → Hugonnet σ_A over the sigma zone
    (J6/A12). Nothing materializes until the caller's action — the
    oracle-checkable counterpart of `analyze_pair` (notebook cells
    [10]→[89]), with the non-relational model FIT (U2, numpy LM)
    replaced by INJECTED (sills, ranges, nugget) — the
    `fit-params-injection` trick that keeps every relational stage
    end-to-end checkable in ANSI SQL.

    Zones are assigned deterministically as (row*7 + col) % n_zones on
    the common grid (a rasterized-membership stand-in with the same
    join shape); `stable_zone` plays SO2's stable area.

    Rows: stage='bias' (n=stable pixel count, v1=bias), 'zonal' one
    per zone (k=zone, n=n_px, v1=median, v2=stddev_pop, v3=rms),
    'vario' one per lag bin (k=bin, n=pair_count, v1=ssd, v2=gamma),
    'sigma_a' (v1=σ_A). Floats rounded 4-6 dp for cross-engine
    hash-stability; SSD reduces in DECIMAL so sum order is immaterial.
    """
    from error_analysis_spark.operators.variogram import pair_bins

    dod = AL.difference(AL.align_pair(a, b, grid_a, grid_b))
    common = AL.dst_grid(grid_a, grid_b)
    zoned = dod.withColumn(
        "zone_id", ((F.col("row") * 7 + F.col("col")) % n_zones)
        .cast("bigint"))
    # every stage (bias, zonal, variogram, sigma_A) branches from the
    # zoned DoD; without a pin each union branch re-reads and re-aligns
    # the raster pair. persist() is LAZY — construction still runs zero
    # jobs — and the cache registers with cachereg so the harness
    # releases it after the query's action (same discipline as the
    # dedup pair lists). Pinning ZONED (pre-bias) rather than the
    # corrected DoD also covers the bias branch and the bias broadcast
    # build.
    zoned = track(zoned.persist(StorageLevel.MEMORY_AND_DISK))
    stable = zoned.where(F.col("zone_id") == stable_zone)

    # A6 + row count in ONE aggregate; stays a 1-row lazy DataFrame
    bias_row = stable.agg(
        F.expr("percentile(dz, 0.5)").alias("bias"),
        F.count(F.lit(1)).alias("n_stable"))
    corr = AL.subtract_scalar(zoned, bias_row.select("bias"))

    slots = ["stage", "k", "n", "v1", "v2", "v3"]
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    bias_stage = bias_row.select(
        F.lit("bias").alias("stage"), nl.alias("k"),
        F.col("n_stable").alias("n"),
        F.round("bias", 6).alias("v1"), nd.alias("v2"), nd.alias("v3"))

    zonal_stage = (corr.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.round(F.expr("percentile(dz, 0.5)"), 6).alias("med"),
        F.round(F.stddev_pop("dz"), 6).alias("sd"),
        F.round(F.sqrt(F.avg(F.col("dz") * F.col("dz"))), 6).alias("rms"))
        .select(F.lit("zonal").alias("stage"), F.col("zone_id").alias("k"),
                F.col("n_px").alias("n"), F.col("med").alias("v1"),
                F.col("sd").alias("v2"), F.col("rms").alias("v3")))

    # variogram samples: corrected stable pixels; value rounded then
    # DECIMAL so the pair SSD is order-independent across engines
    vsamp = (corr.where(F.col("zone_id") == stable_zone)
             .select((F.col("row").cast("bigint") * common.width
                      + F.col("col")).alias("sample_id"),
                     "x", "y",
                     F.round("dz", 6).cast("decimal(18,6)").alias("value"),
                     F.lit(0).alias("run")))
    vbins = pair_bins(vsamp, max_lag=max_lag, bin_width=bin_width)
    ssd_d = F.col("ssd").cast("double")
    vario_stage = vbins.select(
        F.lit("vario").alias("stage"), F.col("bin").cast("bigint").alias("k"),
        F.col("pair_count").alias("n"),
        # round while still DECIMAL, THEN cast: rounding the double
        # instead is engine-dependent on exact .xxxx5 halves (Spark
        # HALF_UPs the shortest decimal string, DuckDB rounds the
        # double numerically) — and 6-dp dz squares land on a 1e-12
        # grid where 4-dp halves recur generically
        F.round(F.col("ssd"), 4).cast("double").alias("v1"),
        F.when(F.col("pair_count") >= min_pairs,
               F.round(ssd_d / (2.0 * F.col("pair_count")), 6)).alias("v2"),
        nd.alias("v3"))

    spx = (corr.where(F.col("zone_id") == sigma_zone)
           .select((F.col("row").cast("bigint") * common.width
                    + F.col("col")).alias("px_id"), "x", "y"))
    sig = UN.estimate_hugonnet(
        spx, list(sills), list(ranges), nugget, k_centers=k_centers,
        order_col=F.md5(F.col("px_id").cast("string")))
    sigma_stage = sig.select(
        F.lit("sigma_a").alias("stage"), nl.alias("k"), nl.alias("n"),
        F.round("sigma_a", 6).alias("v1"), nd.alias("v2"), nd.alias("v3"))

    return (bias_stage.select(slots)
            .unionByName(zonal_stage.select(slots))
            .unionByName(vario_stage.select(slots))
            .unionByName(sigma_stage.select(slots)))


def analyze_pair_chain_multi(a: DataFrame, b: DataFrame,
                             grid_a: GridSpec, grid_b: GridSpec,
                             n_zones: int = 5, stable_zone: int = 0,
                             max_lag: float = 30.0, bin_width: float = 6.0,
                             min_pairs: int = 30, n_runs: int = 4,
                             max_samples: int = 120,
                             samples_per_area: float = 10_000.0,
                             seed: int = 42) -> DataFrame:
    """E3 with the reference's CANONICAL multi-run variography: align
    (J1/R1) → difference (R4) → median bias (A6, 1-row broadcast) →
    bias subtract (R5) → seeded n_runs-fold sampling of the stable
    area (R6 ×n, `sample_pixels_multi_lazy` — zero driver round-trips)
    → per-run pair bins + Matheron (J4/A3/A4/F7) → cross-run A5
    reduction (`mean_variogram`), all ONE lazy labeled-union DAG.

    The reference's canonical workload runs the variogram n_runs=30
    times and reduces across runs (variography_uncertainty.py:486-555,
    notebook cell [78]); `analyze_pair_chain` covers the single-run
    spine + zonal + σ_A — this variant covers the R6-multi + A5 leg
    the single-run chain cannot, end-to-end oracle-checkable.

    Rows (stage, run, k, n, v1, v2, v3, v4):
      'bias'       run=NULL k=NULL  n=stable px   v1=bias
      'vario'      run, k=bin,      n=pair_count  v1=ssd(4dp)
                   v2=γ (NULL below min_pairs)
      'vario_mean' run=NULL, k=bin, n=n_runs_valid, v1=γ_mean,
                   v2=γ_std, v3=γ_spread, v4=mean_pair_count —
                   the A5 block (lag is k·bin_width + bin_width/2,
                   derivable, so it is not repeated as a column).
    Floats rounded 4-6 dp; SSD reduces in DECIMAL (order-immaterial).
    """
    from error_analysis_spark.operators.variogram import (
        VariogramParams, matheron, mean_variogram, pair_bins,
        sample_pixels_multi_lazy,
    )

    dod = AL.difference(AL.align_pair(a, b, grid_a, grid_b))
    common = AL.dst_grid(grid_a, grid_b)
    zoned = dod.withColumn(
        "zone_id", ((F.col("row") * 7 + F.col("col")) % n_zones)
        .cast("bigint"))
    # same pin discipline as analyze_pair_chain: bias, the sample draw
    # and the per-run pair join all branch from the zoned DoD
    zoned = track(zoned.persist(StorageLevel.MEMORY_AND_DISK))
    stable = zoned.where(F.col("zone_id") == stable_zone)
    bias_row = stable.agg(
        F.expr("percentile(dz, 0.5)").alias("bias"),
        F.count(F.lit(1)).alias("n_stable"))
    # corrected stable pixels, value pinned to the 6-dp DECIMAL grid
    # (cross-engine-exact pair SSD, same as analyze_pair_chain)
    stable_c = (stable.crossJoin(F.broadcast(bias_row.select("bias")))
                .select("row", "col", "x", "y",
                        F.round(F.col("dz") - F.col("bias"), 6)
                        .cast("decimal(18,6)").alias("value")))
    params = VariogramParams(bin_width=bin_width, max_samples=max_samples,
                             samples_per_area=samples_per_area,
                             n_runs=n_runs, seed=seed)
    samples = sample_pixels_multi_lazy(stable_c, params, res=common.res,
                                       n_runs=n_runs)
    # second lazy pin: the pair join probes `samples` on BOTH sides —
    # unpinned, each side re-runs the fan-out + per-run selection window
    samples = track(samples.persist(StorageLevel.MEMORY_AND_DISK))
    per_run = matheron(
        pair_bins(samples, max_lag=max_lag, bin_width=bin_width)
        .withColumn("ssd_dec", F.col("ssd"))
        .withColumn("ssd", F.col("ssd").cast("double")),
        min_pairs=min_pairs)
    # third lazy pin: `per_run` (≤ n_runs × n_bins rows) feeds both the
    # vario rows and the A5 reduce — pinned, the whole sample →
    # pair-join pipeline runs exactly once
    per_run = track(per_run.persist(StorageLevel.MEMORY_AND_DISK))
    reduced = mean_variogram(per_run, bin_width=bin_width)

    slots = ["stage", "run", "k", "n", "v1", "v2", "v3", "v4"]
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    bias_stage = bias_row.select(
        F.lit("bias").alias("stage"), nl.alias("run"), nl.alias("k"),
        F.col("n_stable").alias("n"), F.round("bias", 6).alias("v1"),
        nd.alias("v2"), nd.alias("v3"), nd.alias("v4"))

    vario_stage = per_run.select(
        F.lit("vario").alias("stage"),
        F.col("run").cast("bigint").alias("run"),
        F.col("bin").cast("bigint").alias("k"),
        F.col("pair_count").alias("n"),
        # round in DECIMAL, then cast (engine-dependent double halves)
        F.round(F.col("ssd_dec"), 4).cast("double").alias("v1"),
        F.round("gamma", 6).alias("v2"), nd.alias("v3"), nd.alias("v4"))

    mean_stage = reduced.select(
        F.lit("vario_mean").alias("stage"), nl.alias("run"),
        F.col("bin").cast("bigint").alias("k"),
        F.col("n_runs_valid").alias("n"),
        F.round("gamma_mean", 6).alias("v1"),
        F.round("gamma_std", 6).alias("v2"),
        F.round("gamma_spread", 6).alias("v3"),
        F.round("mean_pair_count", 4).alias("v4"))

    return (bias_stage.select(slots)
            .unionByName(vario_stage.select(slots))
            .unionByName(mean_stage.select(slots)))
