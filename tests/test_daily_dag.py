"""Gold-standard incremental correctness: a daily update on top of a
T-day backfill must reproduce the full (T+1)-day backfill exactly, table
by table, for the new date (warm-up covering full history ⇒ no EWM
truncation error)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from at_data_pipelines_spark.catalog import Lakehouse
from at_data_pipelines_spark.pipelines import PipelineConfig, flows, synthetic

CFG = PipelineConfig(window=30, ewm_half_life=10.0, reversal_window=11)

COMPARE_TABLES = [
    ("stock_returns", ["ticker", "date"], ["return"]),
    ("etf_returns", ["ticker", "date"], ["return"]),
    ("signals", ["ticker", "date", "signal"], ["value"]),
    ("scores", ["ticker", "date", "signal"], ["score"]),
    ("alphas", ["ticker", "date", "signal"], ["alpha"]),
    ("factor_loadings", ["ticker", "date", "factor"], ["loading"]),
    ("idio_vol", ["ticker", "date"], ["idio_vol"]),
    ("factor_covariances", ["date", "factor_1", "factor_2"], ["covariance"]),
    ("benchmark_weights", ["ticker", "date"], ["weight"]),
    ("benchmark_returns", ["date"], ["return"]),
    ("betas", ["ticker", "date"], ["historical_beta", "predicted_beta"]),
    ("portfolio_weights", ["ticker", "date"], ["weight"]),
    ("portfolio_metrics", ["date"], ["lambda", "active_risk"]),
]


@pytest.mark.slow
def test_daily_equals_backfill(spark, tmp_path):
    fx = synthetic.generate_market(
        spark, n_tickers=12, start=dt.date(2023, 1, 2), end=dt.date(2023, 7, 31)
    )
    cal = sorted(r.date for r in fx["calendar"].collect())
    last = cal[-1]

    # full-history reference
    lake_full = Lakehouse(spark, str(tmp_path / "full"))
    flows.run_backfill(lake_full, fx, CFG)

    # T-1 backfill + one daily step
    cut = {
        "calendar": fx["calendar"].filter(F.col("date") < F.lit(last)),
        "universe": fx["universe"].filter(F.col("date") < F.lit(last)),
        "stock_bars": fx["stock_bars"].filter(F.col("date") < F.lit(last)),
        "etf_bars": fx["etf_bars"].filter(F.col("date") < F.lit(last)),
    }
    lake_inc = Lakehouse(spark, str(tmp_path / "inc"))
    flows.run_backfill(lake_inc, cut, CFG)
    stages: dict[str, float] = {}
    ran = flows.run_daily(
        lake_inc,
        CFG,
        run_date=last + dt.timedelta(days=1),
        new_stock_bars=fx["stock_bars"].filter(F.col("date") == F.lit(last)),
        new_etf_bars=fx["etf_bars"].filter(F.col("date") == F.lit(last)),
        new_calendar=fx["calendar"].filter(F.col("date") == F.lit(last)),
        new_universe=fx["universe"].filter(F.col("date") == F.lit(last)),
        warm_days=10_000,  # full history ⇒ exact EWM parity
        stage_times=stages,
    )
    assert ran is True
    # bench instrumentation contract (r11): one wall per DAG stage
    assert set(stages) == {
        "ingest", "returns", "factor_model", "factor_cov",
        "reversal", "benchmark", "betas", "portfolio",
    }
    assert all(v >= 0 for v in stages.values())

    for name, keys, vals in COMPARE_TABLES:
        a = (
            lake_inc.table(name).filter(F.col("date") == F.lit(last))
            .toPandas().set_index(keys).sort_index()
        )
        b = (
            lake_full.table(name).filter(F.col("date") == F.lit(last))
            .toPandas().set_index(keys).sort_index()
        )
        assert len(a) == len(b) and len(b) > 0, f"{name}: {len(a)} vs {len(b)} rows"
        assert list(a.index) == list(b.index), f"{name}: key sets differ"
        for v in vals:
            np.testing.assert_allclose(
                a[v].to_numpy(dtype=float),
                b[v].to_numpy(dtype=float),
                rtol=1e-9,
                atol=1e-12,
                err_msg=f"{name}.{v}",
            )


def _compiles_and_jobs(spark) -> tuple[int, int]:
    """Whole-JVM counters: generated classes compiled so far, and Spark
    jobs submitted so far (AQE shuffle-stage submissions included)."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    return compiles, jobs


@pytest.mark.slow
def test_same_day_rerun_compiles_nothing(spark, tmp_path):
    """The session's codegen cache holds a whole daily run: re-running the
    same day in the same JVM compiles no class and runs the same jobs
    (at Spark's default 100 entries it recompiled ~190 classes)."""
    fx = synthetic.generate_market(
        spark, n_tickers=12, start=dt.date(2023, 1, 2), end=dt.date(2023, 7, 31)
    )
    last = max(r.date for r in fx["calendar"].collect())
    before = {k: v.filter(F.col("date") < F.lit(last)) for k, v in fx.items()}
    day = {k: v.filter(F.col("date") == F.lit(last)) for k, v in fx.items()}
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    flows.run_backfill(lake, before, CFG)

    def daily():
        c0, j0 = _compiles_and_jobs(spark)
        ran = flows.run_daily(
            lake,
            CFG,
            run_date=last + dt.timedelta(days=1),
            new_stock_bars=day["stock_bars"],
            new_etf_bars=day["etf_bars"],
            new_calendar=day["calendar"],
            new_universe=day["universe"],
            warm_days=10_000,
        )
        assert ran is True
        c1, j1 = _compiles_and_jobs(spark)
        return c1 - c0, j1 - j0

    _, first_jobs = daily()
    rerun_compiles, rerun_jobs = daily()
    assert rerun_compiles == 0
    assert rerun_jobs == first_jobs
