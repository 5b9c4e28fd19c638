"""Model fitting + uncertainty propagation tests.

Mirrors the reference's own validation design (SURVEY §5.1/§5.2):
cross-method σ_A agreement on a known model, parameter recovery from a
clean synthetic variogram, nugget-only AIC win on white noise, bootstrap
CIs covering truth, CV sanity.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.operators import fitting as FT
from error_analysis_spark.operators import stats as ST
from error_analysis_spark.operators import uncertainty as UN

SILLS = [0.04]
RANGES = [150.0]
NUGGET = 0.0025
RECT = "POLYGON ((0 0, 1000 0, 1000 600, 0 600, 0 0))"


def _clean_variogram(n_bins=60, bin_width=10.0):
    lag = np.arange(n_bins) * bin_width + bin_width / 2
    gamma = UN.gamma_np(lag, SILLS, RANGES, NUGGET)
    return pd.DataFrame({
        "lag": lag, "gamma_mean": gamma,
        "gamma_std": np.full(n_bins, 0.002),
    })


def test_fit_recovers_known_params():
    fits, best = FT.fit_best_spherical_model(_clean_variogram(),
                                             sigma_type="std", n_inits=3)
    assert best["aic"] < np.inf
    n_comp, nugget = int(best["n_comp"]), bool(best["nugget"])
    params = np.asarray(best["params"])
    sill_fit = params[:n_comp].sum()
    nug_fit = params[-1] if nugget else 0.0
    rng_fit = params[n_comp:2 * n_comp].max()
    assert abs(sill_fit + nug_fit - (SILLS[0] + NUGGET)) < 0.004
    assert abs(rng_fit - RANGES[0]) / RANGES[0] < 0.15


def test_white_noise_prefers_flat_model():
    """White noise ⇒ flat variogram at σ²; the winning model must predict
    an essentially flat curve (SURVEY §5.2-3a)."""
    rng = np.random.RandomState(0)
    n = 50
    lag = np.arange(n) * 10.0 + 5.0
    gamma = 0.01 + rng.standard_normal(n) * 1e-4
    pdf = pd.DataFrame({"lag": lag, "gamma_mean": gamma,
                        "gamma_std": np.full(n, 1e-4)})
    fits, best = FT.fit_best_spherical_model(pdf, n_inits=3)
    params = np.asarray(best["params"])
    n_comp, nugget = int(best["n_comp"]), bool(best["nugget"])
    pred = FT.spherical_gamma_np(lag, params, n_comp, nugget)
    assert np.ptp(pred) < 0.002  # flat within 20% of sill
    assert abs(pred.mean() - 0.01) < 0.001


def test_bootstrap_percentiles_cover_truth(spark):
    boot = FT.bootstrap_fit(spark, _clean_variogram(), n_comp=1, nugget=True,
                            n_boot=60)
    pct = ST.param_percentiles(boot, "param_idx", "value").toPandas() \
        .set_index("param_idx")
    # param 0 = sill, 1 = range, 2 = nugget
    assert pct.loc[0, "p16"] - 0.01 <= SILLS[0] <= pct.loc[0, "p84"] + 0.01
    assert pct.loc[1, "p16"] - 30 <= RANGES[0] <= pct.loc[1, "p84"] + 30


def test_cross_validation_small_error(spark):
    cv = FT.cross_validate(spark, _clean_variogram(), n_comp=1, nugget=True)
    assert cv["rmse"].mean() < 0.002


def test_sigma_a_methods_agree(spark):
    """The reference's core validation promoted to an assertion
    (variography_uncertainty.py:995): all estimators converge on σ_A for
    the same γ and polygon."""
    ana = UN.estimate_analytical(UN.polygon_area(RECT), SILLS, RANGES, NUGGET)
    brute = UN.estimate_brute_force(spark, RECT, SILLS, RANGES, NUGGET,
                                    grid_points=60)
    mc = UN.estimate_monte_carlo(RECT, SILLS, RANGES, NUGGET,
                                 n_pairs=60_000, seed=42)
    fft = UN.estimate_fft(RECT, SILLS, RANGES, NUGGET, grid_points=128)
    # brute force is the ground truth for this polygon; the analytical
    # disk approximation carries shape error (rectangle ≠ disk) — the
    # reference accepts it as a fast approximation
    assert abs(mc - brute) / brute < 0.05
    assert abs(fft - brute) / brute < 0.05
    assert abs(ana - brute) / brute < 0.30
    # Hugonnet over the same rectangle's pixel grid (coarse 50x30)
    xs = np.linspace(10, 990, 50)
    ys = np.linspace(10, 590, 30)
    xx, yy = np.meshgrid(xs, ys)
    pix = spark.createDataFrame(
        pd.DataFrame({"x": xx.ravel(), "y": yy.ravel()}))
    hug = UN.estimate_hugonnet(pix, SILLS, RANGES, NUGGET,
                               k_centers=80).first()["sigma_a"]
    assert abs(hug - brute) / brute < 0.15


def test_brute_rect_by_zone_matches_single_zone(spark):
    """The all-zones relational J7 form: exact vs a numpy restatement of
    the same grid/double-sum, and within discretization error of the
    single-zone driver form (whose PIP mask drops the top/right boundary
    points of the linspace grid, so the point sets differ slightly)."""
    import pandas as pd
    g = 12
    w, h = 1000.0, 600.0
    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": ["r0"], "width": [w], "height": [h]}))
    out = UN.brute_force_rect_by_zone(zones, SILLS, RANGES, NUGGET,
                                      grid_points=g).collect()
    assert len(out) == 1
    # exact numpy replication of the relational form's grid + double sum
    xs = np.arange(g) * w / (g - 1)
    ys = np.arange(g) * h / (g - 1)
    xx, yy = np.meshgrid(xs, ys)
    px = np.c_[xx.ravel(), yy.ravel()]
    d = np.hypot(px[:, None, 0] - px[None, :, 0],
                 px[:, None, 1] - px[None, :, 1])
    cov = UN.total_sill(SILLS, NUGGET) - UN.gamma_np(d, SILLS, RANGES, NUGGET)
    np.fill_diagonal(cov, UN.total_sill(SILLS, NUGGET))
    want = math.sqrt(max(cov.sum() / (g * g) ** 2, 0.0))
    assert out[0]["sigma_a"] == pytest.approx(want, rel=1e-9)
    # family agreement: converges to the single-zone J7 ground truth
    fine = UN.estimate_brute_force(spark, RECT, SILLS, RANGES, NUGGET,
                                   grid_points=60)
    assert out[0]["sigma_a"] == pytest.approx(fine, rel=0.10)


def test_hugonnet_heteroscedastic_sigma2_col(spark):
    """The per-pixel σ² path (J8): a σ² column constant at the total
    sill reproduces the homoscedastic value, and scaling that column by
    k scales σ_A by √k."""
    xs = np.linspace(10, 990, 40)
    ys = np.linspace(10, 590, 25)
    xx, yy = np.meshgrid(xs, ys)
    sill = UN.total_sill(SILLS, NUGGET)
    k = 3.7
    pix = spark.createDataFrame(pd.DataFrame({
        "x": xx.ravel(), "y": yy.ravel(), "s2": sill, "s2k": k * sill}))

    def sigma_a(**kw):
        return UN.estimate_hugonnet(pix, SILLS, RANGES, NUGGET, k_centers=50,
                                    **kw).first()["sigma_a"]

    homo = sigma_a()
    assert homo > 0
    assert sigma_a(sigma2_col="s2") == pytest.approx(homo, rel=1e-12)
    assert sigma_a(sigma2_col="s2k") == pytest.approx(math.sqrt(k) * homo,
                                                      rel=1e-9)


def test_closed_form_and_quadrature():
    comps = UN.closed_form_correlated(SILLS, RANGES, n=10_000, res=1.0)
    # √(2·0.04)/100 · √(π·150²/5) ≈ 0.000283·118.8
    expect = math.sqrt(2 * 0.04) / 100 * math.sqrt(math.pi * 150 ** 2 / 5)
    assert comps[0] == pytest.approx(expect)
    assert UN.quadrature_total([3.0, 4.0]) == pytest.approx(5.0)
    assert UN.mean_random_uncorrelated(0.05, 2500) == pytest.approx(0.001)


def _vario_from(sills, ranges, nugget, noise=0.0, n_bins=40, bw=5.0, seed=3):
    lag = np.arange(n_bins) * bw + bw / 2
    gamma = UN.gamma_np(lag, sills, ranges, nugget)
    if noise:
        gamma = gamma + np.random.RandomState(seed).standard_normal(n_bins) \
            * noise
    return pd.DataFrame({"lag": lag, "gamma_mean": gamma,
                         "gamma_std": np.full(n_bins, 0.002)})


def test_aic_ranking_fixture():
    """Pins the U2 model-search AIC semantics the reference gets from
    scipy curve_fit (variography_uncertainty.py:784-844): the RANKING,
    not raw params.

    (a) data generated exactly by 1-comp/no-nugget → every nesting
    config fits ~perfectly, so AIC ranks by parsimony: config 0 wins and
    its AIC equals the analytic 2k − 2·loglik(cost≈0) value;
    (b) data with a real nugget → the nugget variant of the 1-comp model
    must beat the no-nugget variant;
    (c) data from 2 well-separated components → some 2-comp config must
    beat every 1-comp config."""
    # (a) parsimony under nesting
    v1 = _vario_from([0.05], [60.0], 0.0)
    fits, best = FT.fit_best_spherical_model(v1, sigma_type="std", seed=42)
    assert best["config_id"] == 0 and best["n_comp"] == 1 \
        and not best["nugget"]
    sigma = np.full(len(v1), 0.002)
    aic_expect = 2 * 2 + float(np.sum(np.log(2 * np.pi * sigma ** 2)))
    assert best["aic"] == pytest.approx(aic_expect, abs=0.05)
    per_cfg = fits.groupby("config_id")["aic"].min()
    assert per_cfg.idxmin() == 0

    # (b) real nugget demands the nugget term
    v2 = _vario_from([0.04], [50.0], 0.02)
    fits2, best2 = FT.fit_best_spherical_model(v2, sigma_type="std",
                                               seed=42)
    per2 = fits2.groupby("config_id")["aic"].min()
    assert per2[1] < per2[0]  # (1comp, nugget) beats (1comp, none)
    assert bool(best2["nugget"])

    # (c) two separated structures demand two components
    v3 = _vario_from([0.03, 0.05], [20.0, 160.0], 0.0, noise=1e-4)
    fits3, best3 = FT.fit_best_spherical_model(v3, sigma_type="std",
                                               seed=42)
    per3 = fits3.groupby("config_id")["aic"].min()
    best_2comp = min(per3[2], per3[3])
    best_1comp = min(per3[0], per3[1])
    assert best_2comp < best_1comp
    assert int(best3["n_comp"]) >= 2


_FIT_CHILD = """
import json, sys
import pandas as pd
from error_analysis_spark.operators.fitting import fit_best_spherical_model
out = []
for cols in json.load(sys.stdin):
    fits, _ = fit_best_spherical_model(pd.DataFrame(cols), seed=42)
    out.append([[int(r.config_id), int(r.init_id), r.aic.hex(),
                 [float(v).hex() for v in r.params]]
                for r in fits.itertuples()])
json.dump(out, sys.stdout)
"""


def test_fit_bit_identical_across_blas_threads():
    """The model search calls no BLAS, so its AIC and params cannot
    depend on the BLAS thread count: the same fixtures fitted in three
    processes with OPENBLAS_NUM_THREADS = 1, 2, 4 agree bit for bit
    (floats compared as hex)."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixtures = [_clean_variogram(), _vario_from([0.05], [60.0], 0.0),
                _vario_from([0.04], [50.0], 0.02),
                _vario_from([0.03, 0.05], [20.0, 160.0], 0.0, noise=1e-4)]
    payload = json.dumps([{c: f[c].tolist() for c in f} for f in fixtures])
    runs = []
    for threads in ("1", "2", "4"):
        env = dict(os.environ, OPENBLAS_NUM_THREADS=threads,
                   PYTHONPATH=root)
        done = subprocess.run([sys.executable, "-c", _FIT_CHILD],
                              input=payload, capture_output=True, text=True,
                              env=env, cwd=root, timeout=300, check=True)
        runs.append(json.loads(done.stdout))
    assert len(runs[0]) == len(fixtures)
    assert all(len(rows) == 30 for rows in runs[0])
    assert runs[0] == runs[1] == runs[2]


def test_uniform_points_deterministic(spark):
    a = UN.uniform_points_in_polygon(spark, RECT, 5000, seed=9).toPandas()
    b = UN.uniform_points_in_polygon(spark, RECT, 5000, seed=9).toPandas()
    assert len(a) == 5000
    assert np.allclose(np.sort(a["x"].to_numpy()), np.sort(b["x"].to_numpy()))
    assert a["x"].between(0, 1000).all() and a["y"].between(0, 600).all()
