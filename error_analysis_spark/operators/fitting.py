"""Variogram model fitting — SURVEY.md §2.10 U2 (model search + AIC),
U3 (parametric bootstrap), U4 (k-fold CV).

Reference semantics: variography_uncertainty.py:731-890 (6 configs ×
5 perturbed inits, heteroscedastic-Gaussian AIC selection, weights
sigma ∈ {std, linear, exp, sqrt, sq}; loglik :668-677, init :557-567),
609-666 (bootstrap synthetic variograms), 679-729 (k-fold CV).

The empirical variogram is tiny (≤ a few thousand bins), so the U2
search (30 `fit_single` calls) and the U3 replicates are plain numpy in
the driver. The optimizer is a self-contained Levenberg–Marquardt (no
scipy dependency) with pinned perturbed inits, mirroring the
reference's seeded `curve_fit` restarts. It calls no BLAS, so a fit is
bit-identical whatever the BLAS thread count. U4's folds run in one
`applyInPandas` over `spark.range(k_folds)`: no shuffle, one task per
range split.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# --------------------------------------------------------------------------
# Model: nested spherical + optional nugget (params = [C1..Cn, a1..an, (n0)])
# (arrange_params layout, variography_uncertainty.py:1057-1087: nugget last)
# --------------------------------------------------------------------------


def spherical_gamma_np(h: np.ndarray, params: np.ndarray, n_comp: int,
                       nugget: bool) -> np.ndarray:
    """γ(h) for one parameter vector (k,), shaped like `h`, or for a
    block (m, k), shaped (m, *h.shape): row i equals the result for
    params[i] bit for bit (same element-wise operations)."""
    h = np.asarray(h, dtype=np.float64)
    p = np.asarray(params, dtype=np.float64).T
    p = p.reshape(p.shape + (1,) * h.ndim)  # p[i] broadcasts against h
    u = np.minimum(h / np.maximum(p[n_comp:2 * n_comp], 1e-12), 1.0)
    out = p[-1] if nugget else 0.0
    for term in p[:n_comp] * (1.5 * u - 0.5 * u ** 3):  # not .sum(0): rounding
        out = out + term
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


def _cholesky_solve(a: list[list[float]], b: list[float]) -> np.ndarray | None:
    """Solve a·x = b for symmetric positive-definite `a` (k ≤ 7) by a
    Cholesky factorization in fixed loop order on Python floats: no
    BLAS, so the result cannot depend on a thread count. Returns None
    on a non-positive (or NaN) pivot."""
    k = len(b)
    low = [[0.0] * k for _ in range(k)]
    for i in range(k):
        li = low[i]
        for j in range(i + 1):
            lj = low[j]
            s = a[i][j]
            for m in range(j):
                s -= li[m] * lj[m]
            if j < i:
                li[j] = s / lj[j]
            elif not s > 0.0:
                return None
            else:
                li[i] = math.sqrt(s)
    x = list(b)
    for i in range(k):  # forward: low·y = b
        for m in range(i):
            x[i] -= low[i][m] * x[m]
        x[i] /= low[i][i]
    for i in reversed(range(k)):  # backward: lowᵀ·x = y
        for m in range(i + 1, k):
            x[i] -= low[m][i] * x[m]
        x[i] /= low[i][i]
    return np.asarray(x)


def levenberg_marquardt(residual_fn, p0: np.ndarray, bounds_lo: np.ndarray,
                        bounds_hi: np.ndarray, max_iter: int = 200,
                        tol: float = 1e-10) -> tuple[np.ndarray, float]:
    """Compact numpy LM with box projection and numeric Jacobian.

    `residual_fn` maps a block of parameter vectors (m, k) to residual
    rows (m, n), so the k Jacobian probes (forward difference, backward
    at an upper bound) are one call. BLAS-free: sums are element-wise
    and the damped normal equations go through `_cholesky_solve`."""
    p = np.clip(p0.astype(np.float64), bounds_lo, bounds_hi)
    r = residual_fn(p[None, :])[0]
    cost = float((r * r).sum())
    lam = 1e-3
    for _ in range(max_iter):
        step = np.maximum(1e-8, 1e-6 * np.abs(p))
        fwd = np.minimum(p + step, bounds_hi)
        probe = np.where(fwd - p != 0.0, fwd, np.maximum(p - step, bounds_lo))
        actual = probe - p
        moved = actual != 0.0
        block = np.where(np.eye(p.size, dtype=bool), probe, p)
        # row j of jt is ∂r/∂p_j; a parameter that cannot move gets 0
        jt = (np.where(moved[:, None], residual_fn(block) - r, 0.0)
              / np.where(moved, actual, 1.0)[:, None])
        jtj = (jt[:, None, :] * jt[None, :, :]).sum(-1)
        jtr = (jt * r).sum(-1)
        damp = np.diag(np.diag(jtj) + 1e-12)
        improved = False
        for _try in range(12):
            delta = _cholesky_solve((jtj + lam * damp).tolist(),
                                    (-jtr).tolist())
            if delta is None:
                lam *= 10
                continue
            p_new = np.clip(p + delta, bounds_lo, bounds_hi)
            r_new = residual_fn(p_new[None, :])[0]
            c_new = float((r_new * r_new).sum())
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


def fit_best_spherical_model(vario_pdf: pd.DataFrame,
                             sigma_type: str = "std", n_inits: int = 5,
                             seed: int = 42) -> tuple[pd.DataFrame, dict]:
    """U2 — model search: 6 configs × n_inits `fit_single` optimizations
    in the driver; min-AIC row wins (ties to the simpler model via
    (aic, config_id, init_id) ordering).

    `vario_pdf`: columns lag, gamma_mean, gamma_std (A5 output collected —
    ≤ a few KB). Returns (all fit rows, best fit dict).
    """
    lag = vario_pdf["lag"].to_numpy(np.float64)
    gamma = vario_pdf["gamma_mean"].to_numpy(np.float64)
    gstd = (vario_pdf["gamma_std"].to_numpy(np.float64)
            if "gamma_std" in vario_pdf else np.full_like(lag, np.nan))
    sigma = _weights(sigma_type, lag, gstd)
    rows = []
    for c in default_configs():
        for i in range(n_inits):
            r = fit_single(lag, gamma, sigma, c.n_comp, c.nugget, i, seed)
            rows.append({"config_id": c.config_id, "init_id": i,
                         "n_comp": c.n_comp, "nugget": c.nugget, **r})
    fits = (pd.DataFrame(rows)
            .sort_values(["aic", "config_id", "init_id"])
            .reset_index(drop=True))
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
    replicate. The replicates run in the driver; the result comes back
    as a DataFrame with one row per (rep, param index) — feed to
    stats.param_percentiles for the 16/50/84 rollup (A15)."""
    lag = vario_pdf["lag"].to_numpy(np.float64)
    gamma = vario_pdf["gamma_mean"].to_numpy(np.float64)
    gstd_raw = (vario_pdf["gamma_std"].to_numpy(np.float64)
                if "gamma_std" in vario_pdf else np.full_like(lag, np.nan))
    gstd = np.where(np.isfinite(gstd_raw) & (gstd_raw > 0), gstd_raw,
                    np.nanmedian(gstd_raw[gstd_raw > 0]) if
                    np.any(gstd_raw > 0) else 0.05 * np.nanmax(gamma))
    sigma = _weights(sigma_type, lag, gstd_raw)
    rows = []
    for rep in range(n_boot):
        rng = np.random.RandomState(seed + 100_000 + rep)
        g_syn = gamma + rng.standard_normal(gamma.size) * gstd
        r = fit_single(lag, g_syn, sigma, n_comp, nugget, 0, seed)
        rows += [(rep, j, v) for j, v in enumerate(r["params"])]
    return spark.createDataFrame(rows, "rep int, param_idx int, value double")


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
