"""Rolling pairwise covariance of factor returns (SURVEY §2.10 U2 / W8).

Reference: pandas ``.rolling(252, min_periods=252).cov()`` on the wide
5-factor frame (pipelines/factor_covariances_flow.py:11-29), unpivoted to
(date, factor_1, factor_2, covariance).

The factor panel is intrinsically tiny (n_dates × 5), so the kernel runs
as a single-group ``applyInPandas`` (stays in the Spark job for
composability; the data never justifies a shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def rolling_pairwise_cov(
    wide: DataFrame,
    factor_cols: Sequence[str],
    date_col: str = "date",
    window: int = 252,
    min_periods: int | None = None,
) -> DataFrame:
    """Long (date, factor_1, factor_2, covariance) rolling covariances."""
    mp = window if min_periods is None else min_periods
    factor_cols = list(factor_cols)
    schema = T.StructType(
        [
            wide.schema[date_col],
            T.StructField("factor_1", T.StringType()),
            T.StructField("factor_2", T.StringType()),
            T.StructField("covariance", T.DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(date_col).set_index(date_col)
        cov = pdf[factor_cols].rolling(window, min_periods=mp).cov()
        cov = cov.stack().reset_index()
        cov.columns = [date_col, "factor_1", "factor_2", "covariance"]
        return cov

    # single logical group — the frame is (n_dates × n_factors), tiny
    return (
        wide.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda _, pdf: fn(pdf.drop(columns="_g")), schema)
    )

