"""End-to-end pipeline replay on synthetic market fixtures (SURVEY §5
plan item 2): deterministic prices → returns → factor model → signal →
alpha → weights, with invariant checks and idempotent re-runs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from at_data_pipelines_spark.catalog import Lakehouse
from at_data_pipelines_spark.pipelines import PipelineConfig, flows, synthetic

CFG = PipelineConfig(window=60, ewm_half_life=10.0, reversal_window=21)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    lake = Lakehouse(spark, str(tmp_path_factory.mktemp("pipelake")))
    fixtures = synthetic.generate_market(spark, n_tickers=30)
    flows.run_backfill(lake, fixtures, CFG)
    return lake


def test_all_tables_populated(lake):
    for name in flows.TABLES:
        n = lake.table(name).count()
        assert n > 0, f"table {name} is empty"


def test_returns_match_pandas(lake, spark):
    prices = lake.table("stock_prices").filter(F.col("ticker") == "T005").toPandas()
    got = (
        lake.table("stock_returns")
        .filter(F.col("ticker") == "T005")
        .toPandas()
        .sort_values("date")
        .reset_index(drop=True)
    )
    exp = prices.sort_values("date").reset_index(drop=True)
    exp["return"] = exp["close"].pct_change()
    exp = exp.dropna(subset=["return"]).reset_index(drop=True)
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["return"], exp["return"], rtol=1e-12)


def test_signal_null_padding(lake):
    """First signal appears exactly at the reversal_window-th return row."""
    r = lake.table("stock_returns").filter(F.col("ticker") == "T005").count()
    s = lake.table("signals").filter(F.col("ticker") == "T005").count()
    assert r - s == CFG.reversal_window - 1


def test_scores_are_global_zscore(lake):
    sc = lake.table("scores").toPandas()
    assert abs(sc["score"].mean()) < 1e-9
    assert abs(sc["score"].std(ddof=1) - 1) < 1e-9


def test_alpha_grinold_rule(lake):
    a = (
        lake.table("alphas")
        .join(lake.table("scores"), ["ticker", "date", "signal", "year"])
        .join(lake.table("idio_vol").select("ticker", "date", "idio_vol"), ["ticker", "date"])
        .toPandas()
    )
    np.testing.assert_allclose(a["alpha"], CFG.ic * a["score"] * a["idio_vol"], rtol=1e-12)


def test_benchmark_weights_sum_to_one(lake):
    s = lake.table("benchmark_weights").groupBy("date").agg(F.sum("weight").alias("s")).toPandas()
    np.testing.assert_allclose(s["s"], 1.0, atol=1e-9)


def test_benchmark_return_is_weighted_mean(lake):
    br = lake.table("benchmark_returns").toPandas().set_index("date")["return"]
    uni = lake.table("universe").select("date", "ticker")
    ret = lake.table("stock_returns").select("ticker", "date", "return")
    ur = uni.join(ret, ["date", "ticker"]).toPandas()
    exp = ur.groupby("date")["return"].mean()
    got = br.reindex(exp.index)
    np.testing.assert_allclose(got, exp, rtol=1e-10)


def test_portfolio_weights_valid(lake):
    w = lake.table("portfolio_weights").toPandas()
    sums = w.groupby("date")["weight"].sum()
    np.testing.assert_allclose(sums, 1.0, atol=1e-6)
    assert (w["weight"] >= -1e-9).all()
    m = lake.table("portfolio_metrics").toPandas()
    assert (m["active_risk"] > 0).all()
    assert m["date"].is_unique


def test_factor_loadings_shape(lake):
    fl = lake.table("factor_loadings").toPandas()
    assert set(fl["factor"].unique()) == set(CFG.factors)
    # smoothed loadings exist for every (ticker,date) with an OLS estimate
    counts = fl.groupby(["ticker", "date"]).size()
    assert (counts == len(CFG.factors)).all()


def test_factor_covariance_symmetry(lake):
    fc = lake.table("factor_covariances").toPandas()
    piv = fc.pivot_table(
        index=["date", "factor_1"], columns="factor_2", values="covariance"
    )
    for d, sub in fc.groupby("date"):
        m = sub.pivot(index="factor_1", columns="factor_2", values="covariance")
        np.testing.assert_allclose(m.to_numpy(), m.to_numpy().T, rtol=1e-9)
    assert piv.notna().all().all()


def test_rerun_is_idempotent(lake):
    """Re-running derived flows (insert+optimize) leaves tables identical —
    the reference's safe-re-run property (SURVEY §2.9)."""
    before = {n: lake.table(n).count() for n in ["stock_returns", "signals", "alphas"]}
    flows.returns_flow(lake, CFG)
    flows.reversal_flow(lake, CFG)
    after = {n: lake.table(n).count() for n in before}
    assert before == after
    pk_dupes = (
        lake.table("signals").groupBy("ticker", "date", "signal").count().filter("count > 1").count()
    )
    assert pk_dupes == 0


def test_stage_group_failure_semantics(spark, tmp_path):
    """A failing stage cancels nothing in its group: siblings still
    commit, the first failure in submission order raises once the group
    drains, later groups never start — and a rerun converges because the
    stages upsert."""
    import threading
    import time

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.DoubleType())]
    )
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("slow", schema, [], ["k"])
    ran: list[str] = []
    failed = threading.Event()
    broken = {"fail_b": True, "fail_c": True}

    def slow_sibling():
        failed.wait(5)  # start writing only after a sibling has failed
        time.sleep(0.2)
        lake.upsert("slow", spark.createDataFrame([(1, 1.0), (2, 2.0)], schema))
        ran.append("slow")

    def failing(name):
        def fn():
            if broken[name]:
                failed.set()
                raise RuntimeError(name)
            ran.append(name)
        return fn

    groups = [
        [("fail_b", failing("fail_b")), ("slow", slow_sibling), ("fail_c", failing("fail_c"))],
        [("later", lambda: ran.append("later"))],
    ]
    with pytest.raises(RuntimeError, match="^fail_b$"):
        flows._run_stage_groups(groups)
    assert ran == ["slow"]  # sibling committed; the next group never ran
    assert lake.table("slow").count() == 2

    broken.update(fail_b=False, fail_c=False)
    flows._run_stage_groups(groups)
    assert sorted(ran) == ["fail_b", "fail_c", "later", "slow", "slow"]
    assert sorted((r.k, r.v) for r in lake.table("slow").collect()) == [(1, 1.0), (2, 2.0)]


def test_daily_benchmark_matches_full_flow_with_missing_returns(spark, tmp_path):
    """r6 review: the daily path had drifted from benchmark_flow (dropped
    null-return members, skipped the all-null coalesce). Both drivers now
    run benchmark_flow — over one day, a universe member with no return
    row must dilute the denominator as it does over all dates."""
    import datetime as dtm

    from at_data_pipelines_spark.catalog import Lakehouse
    from at_data_pipelines_spark.pipelines import flows
    from at_data_pipelines_spark.pipelines.flows import PipelineConfig, create_all_tables

    d = dtm.date(2023, 3, 6)
    uni = spark.createDataFrame(
        [(t, d) for t in ("AAA", "BBB", "CCC")], ["ticker", "date"]
    )
    ret = spark.createDataFrame(
        [("AAA", d, 0.01), ("BBB", d, 0.03)], ["ticker", "date", "return"]
    )  # CCC has NO return row
    cfg = PipelineConfig()

    def build(fn):
        lake = Lakehouse(spark, str(tmp_path / fn.__name__))
        create_all_tables(lake)
        lake.upsert("universe", uni.withColumn("year", F.lit(2023)))
        lake.upsert(
            "stock_returns",
            ret.withColumn("year", F.lit(2023)),
        )
        fn(lake)
        w = {r.ticker: r.weight for r in lake.table("benchmark_weights").collect()}
        b = {r.date: r["return"] for r in lake.table("benchmark_returns").collect()}
        return w, b

    full_w, full_b = build(lambda lake: flows.benchmark_flow(lake, cfg))
    daily_w, daily_b = build(lambda lake: flows.benchmark_flow(lake, cfg, flows.DateScope(d, d)))
    assert full_w == daily_w and set(full_w) == {"AAA", "BBB", "CCC"}
    assert abs(full_w["CCC"] - 1 / 3) < 1e-12  # null-return member still weighted
    assert full_b == daily_b
    assert abs(full_b[d] - (0.01 + 0.03) / 3) < 1e-12


def test_backfill_and_daily_run_the_same_stages(monkeypatch):
    """One definition per derived stage: both drivers call the same
    ``*_flow`` functions, the backfill over ALL_DATES and the daily run
    over its warm-up window and target date. Every flow, the table set-up
    and the calendar read are replaced by recorders and the lake is a
    stub, so no Spark job runs."""
    import datetime as dtm

    class StubLake:
        def create(self, *args, **kwargs):
            pass

        def upsert(self, *args, **kwargs):
            pass

    calls: list[tuple[str, tuple]] = []
    for name in [n for n in vars(flows) if n.endswith("_flow")]:
        monkeypatch.setattr(flows, name, lambda *a, _n=name: calls.append((_n, a[1:])))
    monkeypatch.setattr(flows, "create_all_tables", lambda lake: None)
    target = dtm.date(2023, 3, 6)
    monkeypatch.setattr(flows, "get_last_market_date", lambda lake, before=None: target)

    def stages(run) -> dict[str, list]:
        calls.clear()
        run()
        out: dict[str, list] = {}
        for name, args in calls:
            if args[:1] == (CFG,):  # derived stages take the config
                out.setdefault(name, []).append(args[1:])
        return out

    fixtures = dict.fromkeys(["calendar", "universe", "stock_bars", "etf_bars"])
    backfill = stages(lambda: flows.run_backfill(StubLake(), fixtures, CFG))
    daily = stages(
        lambda: flows.run_daily(StubLake(), CFG, target + dtm.timedelta(days=1), warm_days=10)
    )
    assert set(backfill) == set(daily) == {
        "returns_flow", "factor_model_flow", "factor_covariances_flow", "benchmark_flow",
        "reversal_flow", "betas_flow", "portfolio_weights_flow",
    }
    day = flows.DateScope(target - dtm.timedelta(days=10), target)
    assert all(a == [(flows.ALL_DATES,)] for a in backfill.values())
    assert all(a == [(day,)] for a in daily.values())


def test_zscore_global_constant_column_is_null_not_crash(spark):
    from at_data_pipelines_spark.ts import zscore_global

    df = spark.createDataFrame([(i, 5.0) for i in range(4)], ["id", "v"])
    out = zscore_global(df, "v").collect()
    assert all(r.zscore is None for r in out)  # ANSI-safe, no DIVIDE_BY_ZERO


def test_rolling_min_periods_counts_non_null(spark):
    """Polars/pandas parity: a NULL inside a full-size window yields NULL
    (min_periods counts observations, not rows)."""
    import pandas as pd

    from at_data_pipelines_spark.ts import entity_window, rolling_sum

    vals = [1.0, 2.0, None, 4.0, 5.0, 6.0]
    df = spark.createDataFrame(
        [("t", i, v) for i, v in enumerate(vals)], ["ticker", "date", "v"]
    )
    w = entity_window(["ticker"], ["date"])
    got = [
        r.rs
        for r in df.select("date", rolling_sum("v", w, 3).alias("rs"))
        .orderBy("date")
        .collect()
    ]
    ref = pd.Series(vals).rolling(3, min_periods=3).sum()
    for g, e in zip(got, ref):
        assert (g is None) == bool(pd.isna(e))
        if g is not None:
            assert abs(g - e) < 1e-12


def test_project_simplex_rejects_non_finite():
    import numpy as np
    import pytest as pt

    from at_data_pipelines_spark.kernels.portfolio import project_simplex

    with pt.raises(ValueError, match="non-finite"):
        project_simplex(np.array([0.1, np.nan, 0.3]))
