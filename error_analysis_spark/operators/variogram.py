"""Empirical variography — SURVEY.md §2 R6 (sampling), J4 (pair join),
A3 (binning), A4 (Matheron), F7 (min-pairs), A5 (cross-run reduction).

Reference semantics: variography_uncertainty.py:160-219 (sample_raster),
364-431 (numba O(M²) pair kernel), 433-442 (Matheron γ with MIN_PAIRS=10),
486-555 (multi-run mean variogram).

Spark-first design
------------------
The reference's O(M²) all-pairs loop is re-expressed as a **grid-bucketed
self-range-join**: every sample lands in a square cell of side `max_lag`;
only same-or-adjacent cells can contain a pair within `max_lag`, so the
join fans each point out to its 9-cell neighborhood instead of the whole
table. Pair distance and the squared value difference then flow straight
into a two-column hash aggregate (pair_count, Σ(Δv)²) per lag bin —
partial aggregation happens map-side, so the shuffle carries per-bin
partial states, never the O(M²) pairs. At 1000 executors the fan-out is
bounded by points-per-cell, and AQE's skew-join splitting handles hot
cells (dense sample clusters).

Determinism: sampling uses a splitmix-style hash of (pixel id, run, seed),
so "same seed ⇒ same variogram" holds under any partitioning or cluster
size — the distributed restatement of the reference's single seed thread.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_PAIRS = 10  # variography_uncertainty.py:325

_PRIME = 2_305_843_009_213_693_951  # 2^61 - 1


def _uniform_hash(id_col, seed: int, run_col=None):
    """Deterministic u ∈ [0,1) from (id, run, seed) via xxhash64 —
    partitioning- and cluster-size-independent (ANSI-safe: no arithmetic
    that can overflow), the distributed restatement of the reference's
    single-seed `np.random` thread (SURVEY §7 hard part #2)."""
    cols = [id_col.cast("long"), F.lit(int(seed))]
    if run_col is not None:
        cols.append(run_col.cast("long"))
    return F.pmod(F.xxhash64(*cols), F.lit(_PRIME)).cast("double") / F.lit(float(_PRIME))


@dataclass
class VariogramParams:
    """Canonical knobs (defaults = notebook cell [78] / API defaults)."""
    bin_width: float = 30.0
    max_lag_multiplier: float | str = 0.5   # float | 'max' | 'median' of bbox diag
    area_side: float = 250.0
    samples_per_area: float = 400.0
    max_samples: int = 1_000_000_000
    max_n_bins: int = 3000
    n_runs: int = 30
    seed: int = 42


def resolve_max_lag(diag: float, multiplier: float | str) -> float:
    """max_lag from the multiplier spec (variography_uncertainty.py:386-397):
    a float scales the diagonal; 'max' uses the full diagonal; 'median'
    half of it."""
    if multiplier == "max":
        return diag
    if multiplier == "median":
        return diag / 2.0
    return float(multiplier) * diag


def sample_pixels_multi(valid: DataFrame, params: VariogramParams, res: float,
                        n_runs: int, n_valid: int,
                        value: str = "value") -> DataFrame:
    """R6 × n_runs in ONE pass — seeded random samples of the valid
    pixels (variography_uncertainty.py:160-219). `valid` must already be
    filtered to non-null values and hold `n_valid` rows.

    Target n = n_valid · res² · samples_per_area / area_side², capped by
    max_samples (:196-201). Every pixel fans out to all runs (explode),
    keeps only rows whose deterministic u falls under ~1.5× the target
    fraction (cheap pre-filter — the fan-out never materializes beyond
    the survivors), then one per-run window row_number ≤ target picks
    the exact smallest-u sample. One narrow job for all runs: per-job
    latency would dominate n_runs separate sort-limit jobs (each run is
    only a few thousand rows). Returns (sample_id, x, y, value, run).
    """
    from pyspark.sql import Window as W

    if n_valid == 0:
        raise ValueError("no valid pixels to sample")  # :204-208 validation
    n_target = min(
        int(params.max_samples),
        max(1, int(n_valid * (res ** 2) * params.samples_per_area
                   / (params.area_side ** 2))),
    )
    n_target = min(n_target, n_valid)
    # Bernoulli pre-filter sized so P(survivors < n_target) is negligible
    # even for small targets (mean = 1.5·target + 6·√target + 16; a bare
    # 1.5× multiplier undersamples ~5-10% of the time at target ≈ 10)
    frac = min(1.0, (1.5 * n_target + 6.0 * n_target ** 0.5 + 16.0) / n_valid)
    px = valid.withColumn(
        "_pid", F.col("row").cast("long") * F.lit(1 << 31) + F.col("col"))
    fanned = px.withColumn(
        "run", F.explode(F.sequence(F.lit(0), F.lit(n_runs - 1))))
    u = _uniform_hash(F.col("_pid"), params.seed, F.col("run"))
    cand = fanned.withColumn("_u", u).where(F.col("_u") < F.lit(frac))
    w = W.partitionBy("run").orderBy("_u")
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n_target)
            .select(F.col("_pid").alias("sample_id"), "x", "y",
                    F.col(value).alias("value"), "run"))


def sample_pixels_multi_lazy(valid: DataFrame, params: VariogramParams,
                             res: float, n_runs: int,
                             value: str = "value") -> DataFrame:
    """R6 × n_runs with ZERO driver round-trips — the lazy,
    SQL-restatable counterpart of `sample_pixels_multi` for
    oracle-checked chains (pipeline_chain_multi).

    Same selection semantics — fan every valid pixel out to all runs,
    Bernoulli pre-filter at ~1.5× the target fraction, per-run
    smallest-u row_number ≤ n_target — with two substitutions:

    * n_valid / n_target / the pre-filter threshold are computed IN
      the plan (1-row aggregate, broadcast cross join) instead of an
      eager ``count()``, so chain construction runs zero jobs;
    * u comes from an md5 order statistic
      (``conv(substr(md5(pid:run:seed),1,15),16,10)`` — the verified
      cross-engine hash, ≡ DuckDB
      ``('0x'||substr(md5(…),1,15))::BIGINT``) instead of xxhash64,
      which DuckDB cannot restate.

    Production multi-run sampling should keep `sample_pixels_multi`
    (xxhash64 is cheaper than md5 and the eager count is amortized);
    this variant trades hash cost for end-to-end oracle checkability.
    `valid` must already be filtered to non-null values (both callers
    of the eager variant do the same).
    """
    from pyspark.sql import Window as W

    hex15 = float(1 << 60)  # 16^15 — the md5-prefix value space
    px = valid.withColumn(
        "_pid", F.col("row").cast("long") * F.lit(1 << 31) + F.col("col"))
    tgt = valid.agg(F.count(F.lit(1)).alias("_nv")).select(
        "_nv",
        F.least(
            F.lit(int(params.max_samples)).cast("long"),
            F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.col("_nv") * F.lit(res ** 2)
                        * F.lit(float(params.samples_per_area))
                        / F.lit(float(params.area_side ** 2)))),
            F.col("_nv")).alias("_nt"))
    # same shortfall-safe sizing as sample_pixels_multi:
    # mean survivors = 1.5·target + 6·√target + 16
    tgt = tgt.withColumn(
        "_thr",
        F.least(F.lit(1.0),
                (1.5 * F.col("_nt") + 6.0 * F.sqrt(F.col("_nt")) + 16.0)
                / F.col("_nv")) * F.lit(hex15))
    fanned = px.withColumn(
        "run", F.explode(F.sequence(F.lit(0), F.lit(n_runs - 1))))
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("_pid"), F.col("run"), F.lit(int(params.seed)))), 1, 15),
        16, 10).cast("long")
    cand = (fanned.withColumn("_h", h)
            .crossJoin(F.broadcast(tgt))
            .where(F.col("_h").cast("double") < F.col("_thr")))
    w = W.partitionBy("run").orderBy("_h", "_pid")
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= F.col("_nt"))
            .select(F.col("_pid").alias("sample_id"), "x", "y",
                    F.col(value).alias("value"), "run"))


def pair_bins(samples: DataFrame, max_lag: float, bin_width: float,
              run_col: str = "run", exact: bool = False) -> DataFrame:
    """J4 + A3 — all pairs within max_lag, aggregated per (run, lag bin).

    Bucketed self-range-join (default) or exact crossJoin (test/oracle mode,
    small M). Output: run, bin, pair_count, ssd — identical under both
    strategies (the bucket decomposition is exact, not approximate: every
    pair within max_lag shares adjacent cells; `id_a < id_b` dedups).
    """
    s = samples.select(
        F.col(run_col).alias("run"),
        F.col("sample_id").alias("sid"),
        F.col("x"), F.col("y"), F.col("value"),
    )
    if exact:
        a, b = s.alias("a"), s.alias("b")
        pairs = a.join(
            b,
            (F.col("a.run") == F.col("b.run"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
    else:
        cell = lambda c: F.floor(c / F.lit(float(max_lag))).cast("long")  # noqa: E731
        a = (s.withColumn("cx", cell(F.col("x")))
              .withColumn("cy", cell(F.col("y"))))
        offsets = F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])
        b = (s.withColumn("off", F.explode(offsets))
              .withColumn("cx", cell(F.col("x")) + F.col("off.dx"))
              .withColumn("cy", cell(F.col("y")) + F.col("off.dy"))
              .drop("off"))
        pairs = a.alias("a").join(
            b.alias("b"),
            (F.col("a.run") == F.col("b.run"))
            & (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
    dist = F.sqrt(
        (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
        + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
    )
    dv = F.col("a.value") - F.col("b.value")
    return (
        pairs
        .select(F.col("a.run").alias("run"), dist.alias("dist"), (dv * dv).alias("sq"))
        .where(F.col("dist") <= F.lit(float(max_lag)))
        .withColumn("bin", F.floor(F.col("dist") / F.lit(float(bin_width))).cast("int"))
        .groupBy("run", "bin")
        .agg(F.count("*").alias("pair_count"), F.sum("sq").alias("ssd"))
    )


def matheron(binned: DataFrame, min_pairs: int = MIN_PAIRS) -> DataFrame:
    """A4 + F7 — γ(h) = SSD/(2N), NULL where N < min_pairs
    (variography_uncertainty.py:433-442)."""
    return binned.withColumn(
        "gamma",
        F.when(F.col("pair_count") >= F.lit(min_pairs),
               F.col("ssd") / (F.lit(2.0) * F.col("pair_count"))),
    )


def mean_variogram(per_run: DataFrame, bin_width: float) -> DataFrame:
    """A5 — cross-run reduction (variography_uncertainty.py:486-555):
    per bin over runs → mean γ (nan-aware: NULLs drop out of avg), std,
    (p97.5 − p2.5)/2 spread, mean pair count; lag center = bin_width/2 +
    bin·bin_width (:551)."""
    g = F.col("gamma")
    return (
        per_run.groupBy("bin")
        .agg(
            F.avg(g).alias("gamma_mean"),
            # Spark's stddev_samp of a single value is NaN where ANSI
            # SQL (and the DuckDB oracles) return NULL — guard so a bin
            # where exactly one run meets min_pairs reduces identically
            # on both engines (ADVICE r07)
            F.when(F.count(g) > 1, F.stddev_samp(g)).alias("gamma_std"),
            ((F.percentile(g, F.lit(0.975)) - F.percentile(g, F.lit(0.025)))
             / F.lit(2.0)).alias("gamma_spread"),
            F.avg("pair_count").alias("mean_pair_count"),
            F.count(g).alias("n_runs_valid"),
        )
        .withColumn("lag", F.lit(bin_width / 2.0) + F.col("bin") * F.lit(float(bin_width)))
    )


def empirical_variogram(pixels: DataFrame, params: VariogramParams,
                        res: float) -> tuple[DataFrame, float]:
    """Full multi-run pipeline: n_runs × (R6 → J4 → A3 → A4) → A5.

    Returns (mean variogram DataFrame, max_lag). Runs are unioned into one
    DataFrame before the pair join so all runs' pair work shares one
    shuffle stage (no driver-side loop over jobs).
    """
    valid = pixels.where(F.col("value").isNotNull() & ~F.isnan("value")).cache()
    stats = valid.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.count("*")).first()
    diag = math.hypot(stats[1] - stats[0], stats[3] - stats[2])
    n_valid = stats[4]
    max_lag = resolve_max_lag(diag, params.max_lag_multiplier)
    n_bins = int(max_lag / params.bin_width) + 1
    if n_bins > params.max_n_bins:
        max_lag = params.max_n_bins * params.bin_width  # :398-401 bin cap
    # all runs drawn in one narrow job, materialized once so both
    # sides of the pair self-join read the tiny cached sample set
    samples = sample_pixels_multi(valid, params, res, params.n_runs,
                                  n_valid).cache()
    samples.count()
    # the full-raster cache has served its two consumers (stats + the
    # sample draw, now materialized) — release it so repeated
    # analyze_pair calls don't accumulate raster-sized executor caches;
    # only the tiny sample set stays cached for the pair self-join
    valid.unpersist()
    per_run = matheron(pair_bins(samples, max_lag, params.bin_width))
    return mean_variogram(per_run, params.bin_width), max_lag
