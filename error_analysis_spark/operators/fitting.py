"""Variogram model fitting — SURVEY.md §2.10 U2 (model search + AIC),
U3 (parametric bootstrap), U4 (k-fold CV).

Reference semantics: variography_uncertainty.py:731-890 (6 configs ×
5 perturbed inits, heteroscedastic-Gaussian AIC selection, weights
sigma ∈ {std, linear, exp, sqrt, sq}; loglik :668-677, init :557-567),
609-666 (bootstrap synthetic variograms), 679-729 (k-fold CV).

Spark-first design: the empirical variogram is tiny (≤ a few thousand
bins), while the fit workload is a grid of independent optimizations —
(config × init) for the search, (replicate) for the bootstrap, (fold)
for CV. Each grid is a small DataFrame run through `applyInPandas`; the
variogram rides along in the closure (driver-broadcast). The grid is
tiny, so AQE coalesces its shuffle: the 30-row model-search grid runs
as ONE task on the executor, the fits one after another — it is not a
parallel search. It stays in a Python worker because the worker's
single-threaded LM solve is bit-identical across core counts, which a
driver-side fit on multi-threaded BLAS is not. The optimizer is a
self-contained numpy Levenberg–Marquardt (no scipy dependency)
with pinned perturbed inits, mirroring the reference's seeded
`curve_fit` restarts.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Model: nested spherical + optional nugget (params = [C1..Cn, a1..an, (n0)])
# (arrange_params layout, variography_uncertainty.py:1057-1087: nugget last)
# --------------------------------------------------------------------------


def spherical_gamma_np(h: np.ndarray, params: np.ndarray, n_comp: int,
                       nugget: bool) -> np.ndarray:
    sills = params[:n_comp]
    ranges = params[n_comp:2 * n_comp]
    out = np.full_like(h, params[-1] if nugget else 0.0, dtype=np.float64)
    for c, a in zip(sills, ranges):
        u = np.minimum(h / max(a, 1e-12), 1.0)
        out = out + c * (1.5 * u - 0.5 * u ** 3)
    return out


def _weights(sigma_type: str, lag: np.ndarray, gamma_std: np.ndarray) -> np.ndarray:
    """Per-bin σ for the heteroscedastic loss
    (variography_uncertainty.py:745-758): 'std' uses the cross-run spread;
    the rest are lag-shaped schedules."""
    if sigma_type == "std":
        s = np.where(np.isfinite(gamma_std) & (gamma_std > 0), gamma_std, np.nan)
        fill = np.nanmedian(s) if np.isfinite(np.nanmedian(s)) else 1.0
        return np.where(np.isfinite(s), s, fill)
    # lag-shaped schedules: σ SHRINKS with lag (up-weighting long lags),
    # exactly the reference's formulas (variography_uncertainty.py:765-772)
    if sigma_type == "linear":
        return 1.0 / (1.0 + lag)
    if sigma_type == "exp":
        # reference formula is exp(-lag) (variography_uncertainty.py:768),
        # which underflows to exactly 0 for lag ≳ 745 (meters-scaled
        # variograms) and turns every residual into inf → guaranteed
        # "no valid fit". Shifting by lag.min() rescales ALL σ by one
        # constant — the weighted-LS minimizer and the AIC model
        # RANKING are invariant under that — and the floor only
        # engages where the reference's own σ would be exact zero.
        return np.maximum(np.exp(-(lag - np.min(lag))), 1e-100)
    if sigma_type == "sqrt":
        return 1.0 / np.sqrt(1.0 + lag)
    if sigma_type == "sq":
        return 1.0 / (1.0 + lag ** 2)
    raise ValueError(f"unknown sigma_type: {sigma_type}")


def levenberg_marquardt(residual_fn, p0: np.ndarray, bounds_lo: np.ndarray,
                        bounds_hi: np.ndarray, max_iter: int = 200,
                        tol: float = 1e-10) -> tuple[np.ndarray, float]:
    """Compact numpy LM with box projection and numeric Jacobian."""
    p = np.clip(p0.astype(np.float64), bounds_lo, bounds_hi)
    r = residual_fn(p)
    cost = float(r @ r)
    lam = 1e-3
    for _ in range(max_iter):
        jac = np.empty((r.size, p.size))
        for j in range(p.size):
            step = max(1e-8, 1e-6 * abs(p[j]))
            pj = p.copy()
            pj[j] = min(p[j] + step, bounds_hi[j])
            actual = pj[j] - p[j]
            if actual == 0.0:
                pj[j] = max(p[j] - step, bounds_lo[j])
                actual = pj[j] - p[j]
            jac[:, j] = (residual_fn(pj) - r) / actual if actual != 0 else 0.0
        jtj = jac.T @ jac
        jtr = jac.T @ r
        improved = False
        for _try in range(12):
            try:
                delta = np.linalg.solve(jtj + lam * np.diag(np.diag(jtj) + 1e-12),
                                        -jtr)
            except np.linalg.LinAlgError:
                lam *= 10
                continue
            p_new = np.clip(p + delta, bounds_lo, bounds_hi)
            r_new = residual_fn(p_new)
            c_new = float(r_new @ r_new)
            if c_new < cost:
                rel = (cost - c_new) / max(cost, 1e-300)
                p, r, cost = p_new, r_new, c_new
                lam = max(lam / 10, 1e-12)
                improved = True
                if rel < tol:
                    return p, cost
                break
            lam *= 10
        if not improved:
            break
    return p, cost


@dataclass
class FitConfig:
    config_id: int
    n_comp: int
    nugget: bool


def default_configs() -> list[FitConfig]:
    """The reference's 6-model search space: 1-3 nested spherical
    components, each with/without nugget (variography_uncertainty.py:
    784-791)."""
    out, cid = [], 0
    for n_comp in (1, 2, 3):
        for nugget in (False, True):
            out.append(FitConfig(cid, n_comp, nugget))
            cid += 1
    return out


def _initial_params(lag: np.ndarray, gamma: np.ndarray, n_comp: int,
                    nugget: bool, jitter: float, rng: np.random.RandomState
                    ) -> np.ndarray:
    """Sill ≈ empirical plateau split across components, ranges spread over
    the lag span (init heuristic, variography_uncertainty.py:557-567),
    multiplied by a seeded perturbation (:807-810)."""
    sill_guess = np.nanmax(gamma)
    p = []
    for i in range(n_comp):
        p.append(sill_guess / n_comp)
    for i in range(n_comp):
        p.append(lag.max() * (i + 1) / (n_comp + 1))
    if nugget:
        p.append(0.1 * sill_guess)
    p = np.asarray(p, dtype=np.float64)
    if jitter > 0:
        p = p * (1.0 + jitter * rng.uniform(-1, 1, p.size))
    return p


def fit_single(lag: np.ndarray, gamma: np.ndarray, sigma: np.ndarray,
               n_comp: int, nugget: bool, init_id: int, seed: int
               ) -> dict:
    """One (config, init) optimization → params + heteroscedastic AIC."""
    ok = np.isfinite(gamma) & np.isfinite(lag)
    lag, gamma, sigma = lag[ok], gamma[ok], sigma[ok]
    k = 2 * n_comp + (1 if nugget else 0)
    if lag.size < k + 2:
        return {"aic": math.inf, "params": [], "cost": math.inf}
    rng = np.random.RandomState(seed * 1000 + init_id)
    jitter = 0.0 if init_id == 0 else 0.4
    p0 = _initial_params(lag, gamma, n_comp, nugget, jitter, rng)
    lo = np.full(p0.shape, 1e-10)
    hi = np.empty(p0.shape)
    hi[:n_comp] = max(np.nanmax(gamma) * 10, 1e-6)
    hi[n_comp:2 * n_comp] = lag.max() * 3
    if nugget:
        hi[-1] = max(np.nanmax(gamma) * 10, 1e-6)

    def resid(p):
        return (spherical_gamma_np(lag, p, n_comp, nugget) - gamma) / sigma

    p_fit, cost = levenberg_marquardt(resid, p0, lo, hi)
    # heteroscedastic Gaussian loglik (variography_uncertainty.py:668-677)
    loglik = -0.5 * (cost + np.sum(np.log(2 * np.pi * sigma ** 2)))
    aic = 2 * k - 2 * loglik
    return {"aic": float(aic), "params": [float(v) for v in p_fit],
            "cost": float(cost)}


_FIT_SCHEMA = ("config_id int, init_id int, n_comp int, nugget boolean, "
               "aic double, cost double, params array<double>")


def fit_best_spherical_model(spark: SparkSession, vario_pdf: pd.DataFrame,
                             sigma_type: str = "std", n_inits: int = 5,
                             seed: int = 42) -> tuple[pd.DataFrame, dict]:
    """U2 — model search: 6 configs × n_inits optimizations via one
    `applyInPandas` over a tiny task grid, which AQE coalesces into one
    task (the fits run sequentially in one Python worker); min-AIC row
    wins (ties to the simpler model via (aic, config_id) ordering).

    `vario_pdf`: columns lag, gamma_mean, gamma_std (A5 output collected —
    ≤ a few KB). Returns (all fit rows, best fit dict).
    """
    lag = vario_pdf["lag"].to_numpy(np.float64)
    gamma = vario_pdf["gamma_mean"].to_numpy(np.float64)
    gstd = (vario_pdf["gamma_std"].to_numpy(np.float64)
            if "gamma_std" in vario_pdf else np.full_like(lag, np.nan))
    sigma = _weights(sigma_type, lag, gstd)
    configs = default_configs()
    tasks = spark.createDataFrame(
        [(c.config_id, c.n_comp, c.nugget, i)
         for c in configs for i in range(n_inits)],
        "config_id int, n_comp int, nugget boolean, init_id int")

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, row in pdf.iterrows():
            r = fit_single(lag, gamma, sigma, int(row.n_comp), bool(row.nugget),
                           int(row.init_id), seed)
            rows.append({
                "config_id": int(row.config_id), "init_id": int(row.init_id),
                "n_comp": int(row.n_comp), "nugget": bool(row.nugget),
                "aic": r["aic"], "cost": r["cost"], "params": r["params"],
            })
        return pd.DataFrame(rows)

    fits = (tasks
            .groupBy("config_id", "init_id")
            .applyInPandas(run_group, _FIT_SCHEMA)
            .toPandas())
    fits = fits.sort_values(["aic", "config_id", "init_id"]).reset_index(drop=True)
    best = fits.iloc[0].to_dict()
    if not np.isfinite(best["aic"]) or len(best["params"]) == 0:
        # every (config, init) failed — raise like the reference
        # (variography_uncertainty.py 'No valid model fit found') instead
        # of letting callers propagate empty params into σ_A = 0
        raise RuntimeError(
            "no valid variogram model fit (too few finite bins for every "
            f"config; {len(vario_pdf)} bins supplied)")
    return fits, best


def bootstrap_fit(spark: SparkSession, vario_pdf: pd.DataFrame, n_comp: int,
                  nugget: bool, n_boot: int = 500, sigma_type: str = "std",
                  seed: int = 42) -> DataFrame:
    """U3 — parametric bootstrap: each replicate fits a synthetic variogram
    γ* ~ N(γ_mean, γ_std) (variography_uncertainty.py:609-666), seeded per
    replicate. Output: one row per (rep, param index) — feed to
    stats.param_percentiles for the 16/50/84 rollup (A15)."""
    lag = vario_pdf["lag"].to_numpy(np.float64)
    gamma = vario_pdf["gamma_mean"].to_numpy(np.float64)
    gstd_raw = (vario_pdf["gamma_std"].to_numpy(np.float64)
                if "gamma_std" in vario_pdf else np.full_like(lag, np.nan))
    gstd = np.where(np.isfinite(gstd_raw) & (gstd_raw > 0), gstd_raw,
                    np.nanmedian(gstd_raw[gstd_raw > 0]) if
                    np.any(gstd_raw > 0) else 0.05 * np.nanmax(gamma))
    sigma = _weights(sigma_type, lag, gstd_raw)

    def run_reps(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for rep in pdf["id"]:
            rng = np.random.RandomState(seed + 100_000 + int(rep))
            g_syn = gamma + rng.standard_normal(gamma.size) * gstd
            r = fit_single(lag, g_syn, sigma, n_comp, nugget, 0, seed)
            for j, v in enumerate(r["params"]):
                rows.append({"rep": int(rep), "param_idx": j, "value": v})
        # schema-correct empty frame when every replicate fit fails —
        # a column-less DataFrame crashes the Arrow serializer
        return pd.DataFrame(rows, columns=["rep", "param_idx", "value"])

    reps = spark.range(n_boot)
    return reps.groupBy((F.col("id") % 64).alias("g")).applyInPandas(
        lambda pdf: run_reps(pdf), "rep int, param_idx int, value double")


def cross_validate(spark: SparkSession, vario_pdf: pd.DataFrame, n_comp: int,
                   nugget: bool, k_folds: int = 5, sigma_type: str = "std",
                   seed: int = 42) -> pd.DataFrame:
    """U4 — k-fold CV of the chosen config: fit on k−1 folds, predict
    the held-out bins, report rmse/mae/me/mse PER FOLD (one row per
    fold; pool across folds downstream with a plain mean if a single
    summary is wanted — variography_uncertainty.py:679-729)."""
    lag = vario_pdf["lag"].to_numpy(np.float64)
    gamma = vario_pdf["gamma_mean"].to_numpy(np.float64)
    gstd = (vario_pdf["gamma_std"].to_numpy(np.float64)
            if "gamma_std" in vario_pdf else np.full_like(lag, np.nan))
    sigma = _weights(sigma_type, lag, gstd)
    rng = np.random.RandomState(seed)
    fold_of = rng.permutation(lag.size) % k_folds

    def run_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for fold in pdf["id"]:
            f = int(fold)
            tr = fold_of != f
            te = ~tr
            r = fit_single(lag[tr], gamma[tr], sigma[tr], n_comp, nugget, 0, seed)
            if len(r["params"]) == 0:
                # training fold too small for this config (k+2 finite
                # bins needed): report NaN metrics instead of crashing
                rows.append({"fold": f, "rmse": float("nan"),
                             "mae": float("nan"), "me": float("nan"),
                             "mse": float("nan")})
                continue
            pred = spherical_gamma_np(lag[te], np.asarray(r["params"]),
                                      n_comp, nugget)
            err = pred - gamma[te]
            err = err[np.isfinite(err)]
            rows.append({
                "fold": f,
                "rmse": float(np.sqrt(np.mean(err ** 2))),
                "mae": float(np.mean(np.abs(err))),
                "me": float(np.mean(err)),
                "mse": float(np.mean(err ** 2)),
            })
        return pd.DataFrame(rows)

    folds = spark.range(k_folds)
    return (folds.groupBy("id").applyInPandas(
        lambda pdf: run_fold(pdf),
        "fold int, rmse double, mae double, me double, mse double").toPandas())
