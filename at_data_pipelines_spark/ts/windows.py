"""Panel time-series operators (SURVEY §2.5 W1-W5).

The reference operates on (entity, date) panels with Polars
``expr.over("ticker")`` windows; these helpers reproduce those semantics on
Spark windows, including Polars' null-padding of incomplete rolling windows
(min_periods — SURVEY §7.5.2), which Spark's bounded frames don't do natively.

Reference parity citations:
- pct_change:      pipelines/returns_flow.py:20,57
- rolling_sum:     pipelines/reversal_flow.py:20-25 (21-day reversal)
- rolling_std:     pipelines/factor_model_flow.py:99-103 (252-day idio vol)
- ewm_mean:        pipelines/factor_model_flow.py:87, pipelines/betas_flow.py:70-72
                   (half_life=60 exponential smoothing, adjust=True)
- zscore (global): pipelines/reversal_flow.py:39-42 (whole-frame, NOT per-date)

Scale notes: all bounded-window ops are single-shuffle (hash by entity,
sort by time within partition) and stay in whole-stage codegen. ewm_mean is
a recursive scan with no bounded-frame equivalent, so it runs as an Arrow
``applyInPandas`` per entity — one shuffle, O(rows) per group, groups
processed independently, with AQE choosing the number of Python tasks from
the shuffle bytes.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window, WindowSpec


def entity_window(
    partition: Sequence[str] = ("ticker",), order: Sequence[str] = ("date",)
) -> WindowSpec:
    """The reference's universal window: per-entity, time-ordered."""
    return Window.partitionBy(*partition).orderBy(*order)


def pct_change(col: str | Column, w: WindowSpec) -> Column:
    """Polars ``pct_change()`` — simple return vs previous row (W1).

    NULL when there is no previous row OR the previous value is 0:
    Spark 4 runs ANSI mode by default, where a 0 divisor is a runtime
    error, so the guard is required — and NULL is the saner semantics
    than polars' ±inf for downstream aggregation anyway.
    """
    c = F.col(col) if isinstance(col, str) else col
    prev = F.lag(c, 1).over(w)
    return F.when(prev != 0, c / prev - 1)


def _rolling(
    agg: Column, c: Column, w: WindowSpec, window: int, min_periods: int | None
) -> Column:
    # Polars/pandas min_periods counts NON-NULL observations, not window
    # rows — count(c) skips nulls, count(lit(1)) would not (r6 review: a
    # null inside a full window must still yield NULL, not an aggregate
    # quietly computed over the non-null subset)
    mp = window if min_periods is None else min_periods
    frame = w.rowsBetween(-(window - 1), 0)
    guarded = F.when(F.count(c).over(frame) >= mp, agg)
    return guarded


def rolling_sum(
    col: str | Column, w: WindowSpec, window: int, min_periods: int | None = None
) -> Column:
    """Polars ``rolling_sum(window)`` — NULL until min_periods non-null
    observations seen (W2)."""
    c = F.col(col) if isinstance(col, str) else col
    frame = w.rowsBetween(-(window - 1), 0)
    return _rolling(F.sum(c).over(frame), c, w, window, min_periods)


def rolling_std(
    col: str | Column, w: WindowSpec, window: int, min_periods: int | None = None
) -> Column:
    """Polars ``rolling_std(window)`` — sample std, NULL-padded (W3)."""
    c = F.col(col) if isinstance(col, str) else col
    frame = w.rowsBetween(-(window - 1), 0)
    return _rolling(F.stddev_samp(c).over(frame), c, w, window, min_periods)


def zscore_global(df: DataFrame, col: str, out_col: str = "zscore") -> DataFrame:
    """Whole-frame z-score (reference A3/F12 — deliberately not per-group).

    One-row aggregate broadcast back via crossJoin — no window over a single
    giant partition (which would serialize the whole table through one task).
    """
    stats = df.agg(
        F.avg(col).alias("_mu"), F.stddev_samp(col).alias("_sigma")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        # σ = 0 (constant column) or NULL (single row) → NULL z-score:
        # ANSI mode makes a bare 0-divide a runtime error (same guard
        # rationale as pct_change above)
        .withColumn(
            out_col,
            F.when(
                F.col("_sigma") != 0, (F.col(col) - F.col("_mu")) / F.col("_sigma")
            ),
        )
        .drop("_mu", "_sigma")
    )


def ewm_mean(
    df: DataFrame,
    value_col: str,
    halflife: float,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    out_col: str = "ewm",
) -> DataFrame:
    """Polars ``ewm_mean(half_life=h)`` (adjust=True) per entity (W4).

    y_t = sum_{j<=t} (1/2)^((t-j)/h) * x_j / sum_{j<=t} (1/2)^((t-j)/h)

    Recursive scan — not expressible as a bounded Spark window frame, so it
    runs as an Arrow-batched grouped-map UDF (pandas ``ewm``, which matches
    Polars adjust=True semantics). One shuffle on the entity key.

    r16 (guide §4.5 amortization): groups are BATCHED by a hash bucket of
    the entity key — one ``applyInPandas`` call per bucket, with pandas'
    vectorized ``groupby(...).ewm()`` (one cython kernel over all groups in
    the batch) replacing one Python invocation + sort + ewm per ENTITY.
    Values are identical (same per-group row order, same kernel); q28 at
    sf0.1 measured 0.72 s vs 0.91 s min and 6.7 s vs 11.5 s median under
    host pressure (interleaved min-of-4) — the per-group Python overhead,
    not the math, was the cost. The bucket count (4× the shuffle
    parallelism) bounds each call's pandas frame; how many Python tasks run
    the buckets is left to AQE's partition coalescing, which sizes the
    stage from its shuffle bytes: a daily slice runs on one task (each task
    pays a fixed Python worker set-up, about 0.27 CPU-s), a large panel on
    up to ``spark.sql.shuffle.partitions``.
    """
    parts = list(partition_cols)
    order = list(order_cols)
    value = value_col
    schema = T.StructType(
        [T.StructField("_ewm_b", T.LongType())]
        + df.schema.fields
        + [T.StructField(out_col, T.DoubleType())]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(parts + order)
        # dropna=False: a NULL entity key is a group in Spark's groupBy and
        # must stay one here (pandas drops NaN keys by default)
        g = pdf.groupby(parts, sort=False, dropna=False)[value]
        res = g.ewm(halflife=halflife, adjust=True, ignore_na=True).mean()
        pdf[out_col] = res.droplevel(list(range(len(parts))))
        return pdf

    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.pmod(F.xxhash64(*parts), F.lit(n * 4))
    return (
        df.withColumn("_ewm_b", bucket)
        .groupBy("_ewm_b")
        .applyInPandas(fn, schema)
        .drop("_ewm_b")
    )

