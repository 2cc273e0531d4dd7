"""Numerical kernel tests: rolling OLS vs direct per-window lstsq,
rolling covariance vs pandas, QP via KKT conditions,
λ-calibrated risk targeting."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from at_data_pipelines_spark.kernels import (
    assemble_covariance,
    optimize_portfolio,
    rolling_ols_grouped,
    rolling_pairwise_cov,
    solve_qp_simplex,
)
from at_data_pipelines_spark.kernels.portfolio import active_risk, project_simplex
from at_data_pipelines_spark.ts import ewm_mean


@pytest.fixture(scope="module")
def ols_panel(spark):
    rng = np.random.default_rng(11)
    rows = []
    for tic in ["A", "B"]:
        n = 120
        X = rng.standard_normal((n, 3)) * 0.02
        beta = rng.uniform(-1, 2, 3)
        y = 0.001 + X @ beta + rng.standard_normal(n) * 0.005
        for i in range(n):
            rows.append((tic, i, float(y[i]), *map(float, X[i])))
    pdf = pd.DataFrame(rows, columns=["ticker", "t", "ret", "f1", "f2", "f3"])
    return spark.createDataFrame(pdf), pdf


def test_rolling_ols_matches_direct_lstsq(spark, ols_panel):
    sdf, pdf = ols_panel
    window = 60
    got = (
        rolling_ols_grouped(sdf, "ret", ["f1", "f2", "f3"], window, "ticker", "t")
        .toPandas()
        .sort_values(["ticker", "t"])
        .reset_index(drop=True)
    )
    # direct check at a few positions
    for tic in ["A", "B"]:
        sub = pdf[pdf.ticker == tic].sort_values("t").reset_index(drop=True)
        g = got[got.ticker == tic].sort_values("t").reset_index(drop=True)
        assert g.loc[: window - 2, ["const", "B_f1", "residual"]].isna().all().all()
        for t in [window - 1, 80, 119]:
            sl = sub.iloc[t - window + 1 : t + 1]
            X = np.hstack([np.ones((window, 1)), sl[["f1", "f2", "f3"]].to_numpy()])
            coef, *_ = np.linalg.lstsq(X, sl["ret"].to_numpy(), rcond=None)
            np.testing.assert_allclose(
                g.loc[t, ["const", "B_f1", "B_f2", "B_f3"]].to_numpy(dtype=float),
                coef,
                rtol=1e-8,
                atol=1e-12,
            )
            resid = sub.loc[t, "ret"] - X[-1] @ coef
            np.testing.assert_allclose(g.loc[t, "residual"], resid, rtol=1e-6, atol=1e-12)


def test_tiny_grouped_map_inputs_run_on_one_partition(spark, ols_panel):
    """The pandas grouped-map stages are not pinned to the shuffle
    parallelism: AQE coalesces a few hundred rows into one Python task,
    instead of one task (and one worker set-up) per shuffle partition."""
    sdf, _ = ols_panel
    ols = rolling_ols_grouped(sdf, "ret", ["f1", "f2", "f3"], 60, "ticker", "t")
    ewm = ewm_mean(sdf, "ret", 6.0, ["ticker"], ["t"])
    assert ols.rdd.getNumPartitions() == 1
    assert ewm.rdd.getNumPartitions() == 1


def test_rolling_cov_matches_pandas(spark):
    rng = np.random.default_rng(5)
    n = 80
    dates = pd.date_range("2024-01-01", periods=n).date
    wide = pd.DataFrame(
        {
            "date": dates,
            "F1": rng.standard_normal(n) * 0.01,
            "F2": rng.standard_normal(n) * 0.02,
            "F3": rng.standard_normal(n) * 0.015,
        }
    )
    sdf = spark.createDataFrame(wide)
    got = rolling_pairwise_cov(sdf, ["F1", "F2", "F3"], "date", window=30).toPandas()
    exp = (
        wide.set_index("date")[["F1", "F2", "F3"]]
        .rolling(30, min_periods=30)
        .cov()
        .stack()
        .reset_index()
    )
    exp.columns = ["date", "factor_1", "factor_2", "covariance"]
    m = got.merge(exp, on=["date", "factor_1", "factor_2"], suffixes=("_g", "_e"))
    assert len(m) == len(exp)
    np.testing.assert_allclose(m.covariance_g, m.covariance_e, rtol=1e-10)


def test_project_simplex():
    rng = np.random.default_rng(3)
    for _ in range(20):
        w = project_simplex(rng.standard_normal(30))
        assert abs(w.sum() - 1) < 1e-12 and (w >= 0).all()
    np.testing.assert_allclose(project_simplex(np.array([0.5, 0.5])), [0.5, 0.5])


def _random_qp(rng, n):
    A = rng.standard_normal((n, n)) * 0.01
    sigma = A @ A.T + np.diag(rng.uniform(0.001, 0.01, n))
    alpha = rng.standard_normal(n) * 0.01
    return alpha, sigma


def test_qp_kkt_conditions():
    rng = np.random.default_rng(9)
    for n in [5, 40]:
        alpha, sigma = _random_qp(rng, n)
        lam = 2.0
        w = solve_qp_simplex(alpha, lam, sigma)
        assert abs(w.sum() - 1) < 1e-9 and (w >= -1e-12).all()
        grad = alpha - lam * sigma @ w
        mu = grad[w > 1e-8].mean()  # equalized gradient on the support
        assert np.abs(grad[w > 1e-8] - mu).max() < 1e-5
        assert (grad[w <= 1e-8] <= mu + 1e-5).all()


def test_qp_beats_uniform_and_matches_unconstrained_when_interior():
    rng = np.random.default_rng(21)
    alpha, sigma = _random_qp(rng, 10)
    lam = 2.0
    w = solve_qp_simplex(alpha, lam, sigma)
    f = lambda w_: alpha @ w_ - lam / 2 * w_ @ sigma @ w_  # noqa: E731
    assert f(w) >= f(np.ones(10) / 10) - 1e-12
    for _ in range(100):  # no feasible direction improves
        d = rng.standard_normal(10)
        d -= d.mean()
        wt = w + 1e-4 * d
        if (wt >= 0).all():
            assert f(wt) <= f(w) + 1e-9


def test_lambda_calibration_hits_target_risk():
    rng = np.random.default_rng(33)
    alpha, sigma = _random_qp(rng, 30)
    # benchmark = min-variance portfolio ⇒ risk(λ) → 0 as λ → ∞, so any
    # target below risk(λ0) is reachable
    wb = solve_qp_simplex(np.zeros(30), 1.0, sigma)
    w, lam, risk = optimize_portfolio(alpha, sigma, wb, 0.05, 0.005)
    assert abs(w.sum() - 1) < 1e-9 and (w >= -1e-12).all()
    assert abs(risk - 0.05) <= 0.005, f"risk {risk} missed target"
    assert risk == pytest.approx(active_risk(w, wb, sigma))


def test_lambda_calibration_unreachable_target_saturates():
    """Equal-weight benchmark far from the min-var floor: the search must
    stop at the floor instead of exploding λ."""
    rng = np.random.default_rng(33)
    alpha, sigma = _random_qp(rng, 30)
    wb = np.ones(30) / 30
    w, lam, risk = optimize_portfolio(alpha, sigma, wb, 0.05, 0.005)
    assert abs(w.sum() - 1) < 1e-9
    assert lam < 1e12  # saturation detected, no runaway
    assert risk == pytest.approx(active_risk(w, wb, sigma))


def test_assemble_covariance():
    loadings = pd.DataFrame(
        {
            "ticker": ["A", "A", "B", "B"],
            "factor": ["F1", "F2", "F1", "F2"],
            "loading": [1.0, 0.5, -0.2, 1.2],
        }
    )
    fc = pd.DataFrame(
        {
            "factor_1": ["F1", "F1", "F2", "F2"],
            "factor_2": ["F1", "F2", "F1", "F2"],
            "covariance": [0.04, 0.01, 0.01, 0.09],
        }
    )
    iv = pd.DataFrame({"ticker": ["A", "B"], "idio_vol": [0.1, 0.2]})
    sigma = assemble_covariance(loadings, fc, iv, ["A", "B"], ["F1", "F2"])
    B = np.array([[1.0, 0.5], [-0.2, 1.2]])
    Fm = np.array([[0.04, 0.01], [0.01, 0.09]])
    exp = B @ Fm @ B.T + np.diag([0.01, 0.04])
    np.testing.assert_allclose(sigma, exp)

