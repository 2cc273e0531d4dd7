"""Asset covariance assembly: Σ = B F Bᵀ + diag(σ²) (SURVEY §2.10 U3).

Reference: pipelines/utils/covariance_matrix.py:34-51 — per date, pivot
loadings to a (n_assets × n_factors) matrix B, factor covariances to
(k × k) F, idio vols to the diagonal, then numpy-assemble.

Here the per-date assembly happens inside the portfolio optimization's
``applyInPandas`` group (the matrices are a few hundred rows — numpy
scale), so this module provides the pure-numpy builder those kernels call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def assemble_covariance(
    loadings: pd.DataFrame,  # columns: ticker, factor, loading
    factor_cov: pd.DataFrame,  # columns: factor_1, factor_2, covariance
    idio_vol: pd.DataFrame,  # columns: ticker, idio_vol
    tickers: list[str],
    factors: list[str],
) -> np.ndarray:
    """Σ for `tickers` (ordered) from long-format inputs."""
    B = (
        loadings.pivot(index="ticker", columns="factor", values="loading")
        .reindex(index=tickers, columns=factors)
        .to_numpy(dtype=np.float64)
    )
    Fm = (
        factor_cov.pivot(index="factor_1", columns="factor_2", values="covariance")
        .reindex(index=factors, columns=factors)
        .to_numpy(dtype=np.float64)
    )
    sigma = (
        idio_vol.set_index("ticker")["idio_vol"].reindex(tickers).to_numpy(dtype=np.float64)
    )
    return B @ Fm @ B.T + np.diag(sigma**2)

