"""Rolling OLS per entity (SURVEY §2.10 U1).

Reference: ``RollingOLS(y, add_constant(X), window=252).fit()`` per ticker
(pipelines/factor_model_flow.py:42-45 for the 5-factor model,
pipelines/betas_flow.py:29-36 for the single-regressor beta).

statsmodels is not available in this container, so the kernel is a pure
numpy re-implementation: for each window, solve the normal equations
(X'X) b = X'y with an intercept column. X'X and X'y are computed
incrementally via prefix sums of the outer products — O(p²) per step, not
O(window·p²) — matching RollingOLS's sliding algebra.

Runs as ``groupBy(entity).applyInPandas``: one shuffle on the entity key,
every group solved independently. The stage is not pinned to a partition
count: AQE coalesces the shuffle by bytes, so a daily slice of a few
thousand rows runs on one Python task instead of paying the per-task
worker set-up once per core, and a large panel still splits up to
``spark.sql.shuffle.partitions`` tasks. Groups shorter than ``window``
emit all-null coefficients (statsmodels parity: those rows have no
estimate).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _rolling_ols_numpy(y: np.ndarray, X: np.ndarray, window: int) -> np.ndarray:
    """Coefficients [const, b_1..b_p] per row; NaN until `window` rows."""
    n, p = X.shape
    Xc = np.hstack([np.ones((n, 1)), X])  # intercept first (statsmodels add_constant)
    k = p + 1
    out = np.full((n, k), np.nan)
    if n < window:
        return out
    # prefix sums of outer products and X'y
    xtx = np.einsum("ni,nj->nij", Xc, Xc)
    xty = Xc * y[:, None]
    cxtx = np.cumsum(xtx, axis=0)
    cxty = np.cumsum(xty, axis=0)
    for t in range(window - 1, n):
        if t == window - 1:
            a = cxtx[t]
            b = cxty[t]
        else:
            a = cxtx[t] - cxtx[t - window]
            b = cxty[t] - cxty[t - window]
        try:
            out[t] = np.linalg.solve(a, b)
        except np.linalg.LinAlgError:
            out[t], *_ = np.linalg.lstsq(a, b, rcond=None)
    return out


def rolling_ols_grouped(
    df: DataFrame,
    y_col: str,
    x_cols: Sequence[str],
    window: int,
    entity_col: str,
    order_col: str,
    coef_prefix: str = "B_",
    with_residual: bool = True,
) -> DataFrame:
    """Per-entity rolling regression y ~ const + X over `window` rows.

    Output: entity, order, const, B_<x> per regressor, and (optionally)
    `residual` = y − ŷ using that row's own rolling estimate — the
    reference's residual for idio vol (pipelines/factor_model_flow.py:59-68).
    """
    x_cols = list(x_cols)
    fields = [
        df.schema[entity_col],
        df.schema[order_col],
        T.StructField("const", T.DoubleType()),
        *[T.StructField(f"{coef_prefix}{x}", T.DoubleType()) for x in x_cols],
    ]
    if with_residual:
        fields.append(T.StructField("residual", T.DoubleType()))
    schema = T.StructType(fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        y = pdf[y_col].to_numpy(dtype=np.float64)
        X = pdf[x_cols].to_numpy(dtype=np.float64)
        coefs = _rolling_ols_numpy(y, X, window)
        out = pd.DataFrame(
            {
                entity_col: pdf[entity_col].to_numpy(),
                order_col: pdf[order_col].to_numpy(),
                "const": coefs[:, 0],
            }
        )
        for i, x in enumerate(x_cols):
            out[f"{coef_prefix}{x}"] = coefs[:, i + 1]
        if with_residual:
            yhat = coefs[:, 0] + (X * coefs[:, 1:]).sum(axis=1)
            out["residual"] = y - yhat
        return out

    return (
        df.select(entity_col, order_col, y_col, *x_cols)
        .groupBy(entity_col)
        .applyInPandas(fn, schema)
    )
