"""Time-series op parity vs pandas (the oracle for W1-W5 semantics —
pandas/Polars agree on these; Polars itself is not installed here)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from at_data_pipelines_spark.ts import (
    entity_window,
    ewm_mean,
    pct_change,
    rolling_std,
    rolling_sum,
    zscore_global,
)


@pytest.fixture(scope="module")
def panel(spark):
    rng = np.random.default_rng(7)
    rows = []
    for t in ["A", "B", "C"]:
        for i in range(40):
            rows.append((t, i, float(np.round(rng.uniform(1, 100), 2))))
    pdf = pd.DataFrame(rows, columns=["ticker", "t", "x"])
    return spark.createDataFrame(pdf), pdf


def test_pct_change(spark, panel):
    sdf, pdf = panel
    w = entity_window(["ticker"], ["t"])
    got = (
        sdf.withColumn("r", pct_change("x", w))
        .toPandas()
        .sort_values(["ticker", "t"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["ticker", "t"]).reset_index(drop=True)
    exp["r"] = exp.groupby("ticker")["x"].pct_change()
    pd.testing.assert_series_equal(got["r"], exp["r"], check_exact=False, rtol=1e-12)


def test_rolling_sum_min_periods(spark, panel):
    sdf, pdf = panel
    w = entity_window(["ticker"], ["t"])
    got = (
        sdf.withColumn("s", rolling_sum("x", w, 5))
        .toPandas()
        .sort_values(["ticker", "t"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["ticker", "t"]).reset_index(drop=True)
    exp["s"] = exp.groupby("ticker")["x"].transform(lambda s: s.rolling(5, min_periods=5).sum())
    # first 4 rows per entity NULL (Polars min_periods semantics)
    assert got.groupby("ticker")["s"].apply(lambda s: s.head(4).isna().all()).all()
    pd.testing.assert_series_equal(got["s"], exp["s"], check_exact=False, rtol=1e-12)


def test_rolling_std(spark, panel):
    sdf, pdf = panel
    w = entity_window(["ticker"], ["t"])
    got = (
        sdf.withColumn("v", rolling_std("x", w, 10))
        .toPandas()
        .sort_values(["ticker", "t"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["ticker", "t"]).reset_index(drop=True)
    exp["v"] = exp.groupby("ticker")["x"].transform(lambda s: s.rolling(10, min_periods=10).std())
    pd.testing.assert_series_equal(got["v"], exp["v"], check_exact=False, rtol=1e-10)


def test_ewm_mean(spark, panel):
    sdf, pdf = panel
    got = (
        ewm_mean(sdf, "x", 6.0, ["ticker"], ["t"])
        .toPandas()
        .sort_values(["ticker", "t"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["ticker", "t"]).reset_index(drop=True)
    exp["ewm"] = exp.groupby("ticker")["x"].transform(
        lambda s: s.ewm(halflife=6.0, adjust=True).mean()
    )
    pd.testing.assert_series_equal(got["ewm"], exp["ewm"], check_exact=False, rtol=1e-12)


def test_ewm_matches_direct_formula(spark, panel):
    """adjust=True definition check: y_t = Σ w_j x_j / Σ w_j, w_j = 2^-(t-j)/h."""
    sdf, _ = panel
    got = (
        ewm_mean(sdf, "x", 6.0, ["ticker"], ["t"])
        .filter(F.col("ticker") == "A")
        .orderBy("t")
        .toPandas()
    )
    x = got["x"].to_numpy()
    t = np.arange(len(x))
    for i in [0, 3, 17, 39]:
        w = 0.5 ** ((i - t[: i + 1]) / 6.0)
        assert abs(got["ewm"][i] - (w @ x[: i + 1]) / w.sum()) < 1e-10


def test_zscore_global(spark, panel):
    sdf, pdf = panel
    got = zscore_global(sdf, "x").toPandas().sort_values(["ticker", "t"]).reset_index(drop=True)
    exp = pdf.sort_values(["ticker", "t"]).reset_index(drop=True)
    z = (exp["x"] - pdf["x"].mean()) / pdf["x"].std(ddof=1)
    pd.testing.assert_series_equal(got["zscore"], z.rename("zscore"), check_exact=False, rtol=1e-12)


def test_resample_bars_matches_pandas(spark):
    """5-minute OHLCV resample matches a pandas reference, including the
    volume-weighted vwap."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from at_data_pipelines_spark.ts import resample_bars

    rng = np.random.default_rng(9)
    rows = []
    t0 = dt.datetime(2024, 1, 2, 14, 30)
    for tick in ("A", "B"):
        for i in range(23):  # 23 minute-bars -> 5 buckets
            px = 100 + rng.normal()
            rows.append(
                (tick, t0 + dt.timedelta(minutes=i), px, px + 0.5, px - 0.5,
                 px + 0.1, float(rng.integers(1, 500)), 5.0, px + 0.05)
            )
    cols = ["ticker", "timestamp", "open", "high", "low", "close",
            "volume", "trade_count", "vwap"]
    df = spark.createDataFrame(rows, cols)
    got = resample_bars(df, "5 minutes").toPandas().set_index(["ticker", "timestamp"]).sort_index()

    pdf = pd.DataFrame(rows, columns=cols)
    pdf["notional"] = pdf.vwap * pdf.volume
    ref = (
        pdf.groupby(["ticker", pd.Grouper(key="timestamp", freq="5min")])
        .agg(open=("open", "first"), high=("high", "max"), low=("low", "min"),
             close=("close", "last"), volume=("volume", "sum"),
             trade_count=("trade_count", "sum"), notional=("notional", "sum"))
        .dropna()
    )
    ref["vwap"] = ref.notional / ref.volume
    assert len(got) == len(ref) == 10  # 5 buckets x 2 tickers
    for col in ("open", "high", "low", "close", "volume", "trade_count", "vwap"):
        np.testing.assert_allclose(got[col].to_numpy(), ref[col].to_numpy(), rtol=1e-12)


def test_adjust_bars_split_and_dividend(spark):
    """Back-adjustment: bars before an action scale by the product of all
    LATER factors; the latest bar stays unadjusted; volume scales
    inversely; tickers without actions pass through untouched."""
    import datetime as dt

    from at_data_pipelines_spark.ts import adjust_bars

    t = lambda d: dt.datetime(2024, 1, d, 16, 0)  # noqa: E731
    cols = ["ticker", "timestamp", "open", "high", "low", "close",
            "volume", "trade_count", "vwap"]
    bars = spark.createDataFrame(
        [
            ("A", t(1), 100.0, 101.0, 99.0, 100.0, 1000.0, 5.0, 100.0),
            ("A", t(10), 102.0, 103.0, 101.0, 102.0, 1000.0, 5.0, 102.0),
            ("A", t(20), 51.0, 52.0, 50.0, 51.0, 2000.0, 5.0, 51.0),
            ("B", t(1), 10.0, 11.0, 9.0, 10.0, 500.0, 5.0, 10.0),
        ],
        cols,
    )
    actions = spark.createDataFrame(
        [
            ("A", t(15), 0.5),   # 2:1 split between day 10 and day 20
            ("A", t(5), 0.99),   # small dividend adjustment after day 1
        ],
        ["ticker", "effective_ts", "factor"],
    )
    got = {(r.ticker, r.timestamp.day): r for r in adjust_bars(bars, actions).collect()}
    assert got[("A", 1)].close == pytest.approx(100.0 * 0.5 * 0.99)
    assert got[("A", 1)].volume == pytest.approx(1000.0 / (0.5 * 0.99))
    assert got[("A", 10)].close == pytest.approx(102.0 * 0.5)  # only the later split
    assert got[("A", 20)].close == pytest.approx(51.0)  # latest bar unadjusted
    assert got[("B", 1)].close == pytest.approx(10.0)  # no actions: untouched
    # adjusted series is continuous across the split (no 2x jump)
    assert abs(got[("A", 10)].close - got[("A", 20)].close) < 1.0


def test_align_to_calendar_ffill_and_staleness(spark):
    import datetime as dt

    from at_data_pipelines_spark.ts import align_to_calendar

    d = lambda day: dt.date(2024, 1, day)  # noqa: E731
    cal = spark.createDataFrame([(d(x),) for x in (2, 3, 4, 5, 8, 9)], ["date"])
    panel = spark.createDataFrame(
        [
            ("A", d(2), 10.0), ("A", d(4), 11.0),     # gap on 3; nothing after 4
            ("B", d(2), 5.0),                          # halts after day 2
        ],
        ["ticker", "date", "close"],
    )
    out = {
        (r.ticker, r.date.day): r.close
        for r in align_to_calendar(panel, cal, ["close"]).collect()
    }
    assert len(out) == 12  # 2 tickers x 6 trading days, exactly once each
    assert out[("A", 3)] == 10.0   # gap forward-filled
    assert out[("A", 4)] == 11.0   # real observation wins
    assert out[("A", 9)] == 11.0   # carried to the end
    assert out[("B", 9)] == 5.0
    # staleness bound: stop filling 3 calendar days after the last obs
    capped = {
        (r.ticker, r.date.day): r.close
        for r in align_to_calendar(panel, cal, ["close"], max_ffill_days=3).collect()
    }
    assert capped[("B", 5)] == 5.0   # day 5 - day 2 = 3 → still filled
    assert capped[("B", 8)] is None  # 6 days stale → null
    assert capped[("A", 5)] == 11.0
