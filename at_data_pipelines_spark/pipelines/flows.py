"""The reference's flows re-expressed as Spark jobs over the Lakehouse.

Each ``*_flow`` mirrors one reference flow file (cited per function).
External connectors are injected DataFrames; everything else
reads/writes lakehouse tables with the reference's schemas, partition
keys, primary keys and create modes (SURVEY §1.3).

Both drivers run the same derived stages in the reference's dependency
order (pipelines/__main__.py:25-37). Each derived ``*_flow`` takes a
``DateScope``: ``run_backfill`` passes ``ALL_DATES`` (read and write
every date); ``run_daily`` passes a trailing warm-up window to read and
the last market date to write, the reference's daily pattern
(pipelines/factor_model_flow.py:179-199).

Scale notes: every flow is a declarative DataFrame plan — shuffles are
per-entity (ticker) for windows/OLS, per-date for the QP fan-out, both
uniform keys. The ETF/factor side is 5 entities — always broadcast.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Lakehouse
from ..kernels import rolling_ols_grouped, rolling_pairwise_cov
from ..kernels.covariance import assemble_covariance
from ..kernels.portfolio import optimize_portfolio
from ..ts import entity_window, ewm_mean, pct_change, rolling_std, rolling_sum, zscore_global
from .config import PipelineConfig


def _s(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


_STR, _DATE, _I32, _F64 = T.StringType(), T.DateType(), T.IntegerType(), T.DoubleType()

BAR_FIELDS = [("ticker", _STR), ("date", _DATE)] + [
    (c, _F64) for c in ["open", "high", "low", "close", "volume", "trade_count", "vwap"]
]

# table catalog — SURVEY §1.3 (schemas, partition keys, primary keys, mode)
TABLES: dict[str, dict] = {
    "calendar": dict(schema=_s([("date", _DATE)]), parts=[], pk=["date"], mode="replace"),
    "universe": dict(
        schema=_s([("date", _DATE), ("year", _I32), ("ticker", _STR)]),
        parts=["year"], pk=["date", "ticker"], mode="replace",
    ),
    "stock_prices": dict(
        schema=_s(BAR_FIELDS + [("year", _I32)]), parts=["year"], pk=["date", "ticker"], mode="skip",
    ),
    "etf_prices": dict(
        schema=_s(BAR_FIELDS + [("year", _I32)]), parts=["year"], pk=["date", "ticker"], mode="skip",
    ),
    "stock_returns": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("return", _F64)]),
        parts=["year"], pk=["ticker", "date"], mode="replace",
    ),
    "etf_returns": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("return", _F64)]),
        parts=["year"], pk=["ticker", "date"], mode="replace",
    ),
    "signals": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("signal", _STR), ("value", _F64)]),
        parts=["year"], pk=["ticker", "date", "signal"], mode="skip",
    ),
    "scores": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("signal", _STR), ("score", _F64)]),
        parts=["year"], pk=["ticker", "date", "signal"], mode="skip",
    ),
    "alphas": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("signal", _STR), ("alpha", _F64)]),
        parts=["year"], pk=["ticker", "date", "signal"], mode="skip",
    ),
    "betas": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("historical_beta", _F64), ("predicted_beta", _F64)]),
        parts=["year"], pk=["ticker", "date"], mode="skip",
    ),
    "factor_loadings": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("factor", _STR), ("loading", _F64)]),
        parts=["year"], pk=["date", "ticker", "factor"], mode="skip",
    ),
    "idio_vol": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("idio_vol", _F64)]),
        parts=["year"], pk=["date", "ticker"], mode="skip",
    ),
    "factor_covariances": dict(
        schema=_s([("date", _DATE), ("year", _I32), ("factor_1", _STR), ("factor_2", _STR), ("covariance", _F64)]),
        parts=["year"], pk=["date", "factor_1", "factor_2"], mode="skip",
    ),
    "benchmark_weights": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("weight", _F64)]),
        parts=["year"], pk=["date", "ticker"], mode="skip",
    ),
    "benchmark_returns": dict(
        schema=_s([("date", _DATE), ("return", _F64)]), parts=[], pk=["date"], mode="skip",
    ),
    "portfolio_weights": dict(
        schema=_s([("ticker", _STR), ("date", _DATE), ("year", _I32), ("weight", _F64)]),
        parts=["year"], pk=["date", "ticker"], mode="skip",
    ),
    "portfolio_metrics": dict(
        schema=_s([("date", _DATE), ("lambda", _F64), ("active_risk", _F64)]), parts=[], pk=["date"], mode="skip",
    ),
}


def create_all_tables(lake: Lakehouse) -> None:
    for name, spec in TABLES.items():
        lake.create(name, spec["schema"], spec["parts"], spec["pk"], mode="skip")


def _with_year(df: DataFrame) -> DataFrame:
    return df.withColumn("year", F.year("date").cast("int"))


@dataclass(frozen=True)
class DateScope:
    """The dates one run of a derived stage covers.

    ``history`` narrows the rows a stage reads for its lookback windows;
    ``emit`` narrows the rows it writes. ``ALL_DATES``, the backfill's
    scope, leaves both whole. The daily run reads
    ``warm_start <= date <= target`` and writes ``target`` only (the
    reference's warm-up pattern, pipelines/factor_model_flow.py:179-199).
    The per-date stages (benchmark, portfolio) look back at nothing, so
    they apply ``emit`` to their inputs instead."""

    warm_start: dt.date | None = None
    target: dt.date | None = None

    def history(self, df: DataFrame) -> DataFrame:
        if self.target is None:
            return df
        return df.filter(F.col("date").between(F.lit(self.warm_start), F.lit(self.target)))

    def emit(self, df: DataFrame) -> DataFrame:
        return df if self.target is None else df.filter(F.col("date") == F.lit(self.target))


ALL_DATES = DateScope()


# -- ingestion flows -------------------------------------------------------
def calendar_flow(lake: Lakehouse, calendar_df: DataFrame) -> None:
    """pipelines/calendar_flow.py:11-45 (generator source injected)."""
    lake.create("calendar", TABLES["calendar"]["schema"], [], ["date"], mode="replace")
    lake.upsert("calendar", calendar_df)


def universe_flow(lake: Lakehouse, universe_df: DataFrame) -> None:
    """pipelines/universe_flow.py:82-151 (membership table injected; see
    ``reconstruct_membership`` for the reverse-replay reconstruction)."""
    lake.create(
        "universe", TABLES["universe"]["schema"], ["year"], ["date", "ticker"], mode="replace"
    )
    lake.upsert("universe", _with_year(universe_df))


def reconstruct_membership(
    current: set[str],
    changes: list[tuple[dt.date, set[str], set[str]]],  # (date, added, removed), any order
    calendar: list[dt.date],
) -> pd.DataFrame:
    """Reverse replay of constituent changes over the calendar (reference
    U8, pipelines/universe_flow.py:82-134): walk backwards from today's
    membership, undoing each change. Driver-side — the data is tiny."""
    changes = sorted(changes, key=lambda c: c[0], reverse=True)
    rows: list[tuple[dt.date, str]] = []
    members = set(current)
    ci = 0
    for d in sorted(calendar, reverse=True):
        while ci < len(changes) and changes[ci][0] > d:
            _, added, removed = changes[ci]
            members = (members - added) | removed  # undo
            ci += 1
        rows.extend((d, t) for t in sorted(members))
    out = pd.DataFrame(rows, columns=["date", "ticker"])
    return out.sort_values(["date", "ticker"]).reset_index(drop=True)


def stock_prices_flow(lake: Lakehouse, bars: DataFrame) -> None:
    """pipelines/stock_prices_flow.py:26-121 (REST source injected)."""
    lake.upsert("stock_prices", _with_year(bars))


def etf_prices_flow(lake: Lakehouse, bars: DataFrame) -> None:
    """pipelines/etf_prices_flow.py:15-104."""
    lake.upsert("etf_prices", _with_year(bars))


# -- derived flows ---------------------------------------------------------
def returns_flow(lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES) -> None:
    """pipelines/returns_flow.py:8-75 — close-to-close simple returns per
    ticker (W1), null first row dropped. The backfill rebuilds both
    tables (mode=replace); a daily run upserts its day into them."""
    for src, dst in [("stock_prices", "stock_returns"), ("etf_prices", "etf_returns")]:
        prices = scope.history(lake.table(src))
        w = entity_window(["ticker"], ["date"])
        rets = scope.emit(
            prices.select("ticker", "date", pct_change("close", w).alias("return"))
            .na.drop(subset=["return"])
        )
        if scope == ALL_DATES:
            lake.create(dst, TABLES[dst]["schema"], ["year"], ["ticker", "date"], mode="replace")
        lake.upsert(dst, _with_year(rets))


def _etf_returns_wide(lake: Lakehouse, cfg: PipelineConfig, scope: DateScope) -> DataFrame:
    """Pivot factor ETF returns long→wide on date (R2; explicit factor
    list ⇒ single pass, deterministic columns)."""
    er = scope.history(lake.table("etf_returns")).filter(F.col("ticker").isin(cfg.factors))
    return er.groupBy("date").pivot("ticker", cfg.factors).agg(F.first("return"))


def factor_model_flow(lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES) -> None:
    """pipelines/factor_model_flow.py — rolling multivariate OLS per ticker
    (U1/W6), loadings unpivoted + EWM-smoothed (R3/W4), residuals →
    rolling std → EWM = idio vol (W3/W5)."""
    sr = scope.history(lake.table("stock_returns"))
    wide = _etf_returns_wide(lake, cfg, scope)
    # 5-column wide side: always broadcast (J7)
    joined = sr.join(F.broadcast(wide), "date").na.drop()
    # r17 (guide §5 caching/lineage): the OLS output feeds TWO sinks
    # (loadings and idio_vol) committed as separate actions, so the
    # whole join+Arrow+numpy kernel stage executed twice per flow run.
    # localCheckpoint(eager=False) stores it once and the second branch
    # reads the stored partitions — a per-run ephemeral intermediate
    # (freed with the DataFrame), not a cross-run cache. The call is not
    # lazy under AQE: the stages below the kernel's input shuffle (scan,
    # join, shuffle write) run inside it; the kernel stage runs at the
    # first upsert. Values are byte-identical: the checkpoint only pins
    # the rows the branches already computed.
    ols = rolling_ols_grouped(
        joined, "return", cfg.factors, cfg.window, "ticker", "date", coef_prefix="B_"
    ).localCheckpoint(eager=False)
    # loadings: wide→long, strip the B_ prefix (reference F9 replace map)
    loadings = ols.select(
        "ticker", "date", *[F.col(f"B_{f}").alias(f) for f in cfg.factors]
    ).unpivot(["ticker", "date"], cfg.factors, "factor", "loading").na.drop(
        subset=["loading"]
    )
    smoothed = ewm_mean(
        loadings, "loading", cfg.ewm_half_life, ["ticker", "factor"], ["date"], out_col="sm"
    ).select("ticker", "date", "factor", F.col("sm").alias("loading"))
    lake.upsert("factor_loadings", _with_year(scope.emit(smoothed)))

    resid = ols.select("ticker", "date", "residual")
    w = entity_window(["ticker"], ["date"])
    ivol = resid.select(
        "ticker", "date", rolling_std("residual", w, cfg.window).alias("rv")
    ).na.drop(subset=["rv"])
    ivol_sm = ewm_mean(ivol, "rv", cfg.ewm_half_life, ["ticker"], ["date"], out_col="idio_vol")
    lake.upsert("idio_vol", _with_year(scope.emit(ivol_sm.select("ticker", "date", "idio_vol"))))


def factor_covariances_flow(
    lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES
) -> None:
    """pipelines/factor_covariances_flow.py — rolling pairwise covariance
    of the 5 factor returns (U2/W8) + EWM smoothing."""
    wide = _etf_returns_wide(lake, cfg, scope)
    cov = rolling_pairwise_cov(wide, cfg.factors, "date", cfg.window).na.drop(
        subset=["covariance"]
    )
    sm = ewm_mean(
        cov, "covariance", cfg.ewm_half_life, ["factor_1", "factor_2"], ["date"], out_col="sm"
    ).select("date", "factor_1", "factor_2", F.col("sm").alias("covariance"))
    lake.upsert("factor_covariances", _with_year(scope.emit(sm)))


def reversal_flow(lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES) -> None:
    """pipelines/reversal_flow.py — 21-day reversal signal (W2), global
    z-score (A3/F12 — whole-frame, not per-date), Grinold alpha (F13)."""
    sr = scope.history(lake.table("stock_returns"))
    w = entity_window(["ticker"], ["date"])
    sig = (
        sr.select(
            "ticker",
            "date",
            (rolling_sum(F.log1p(F.col("return")), w, cfg.reversal_window) * -1).alias("value"),
        )
        .na.drop(subset=["value"])
        .withColumn("signal", F.lit("reversal"))
    )
    # reference's only runtime correctness guard
    # (pipelines/reversal_flow.py:189-190); a daily run skips its Spark job
    if scope == ALL_DATES and sig.isEmpty():
        raise ValueError("No values found!")
    lake.upsert("signals", _with_year(scope.emit(sig)))

    # reference parity: the z-score is over the WHOLE frame read
    # (pipelines/reversal_flow.py:39-42), then narrowed to the emitted dates
    scores = scope.emit(
        zscore_global(sig, "value", "score").select("ticker", "date", "signal", "score")
    )
    lake.upsert("scores", _with_year(scores))

    # alpha = IC·score·σ with a LEFT join like the reference
    # (reversal_flow.py:50): score rows with no idio_vol are stored as
    # null-alpha rows; the alphas accessor filters them out on read
    iv = lake.table("idio_vol").select("ticker", "date", "idio_vol")
    alphas = (
        scores.join(iv, ["ticker", "date"], "left")
        .withColumn("alpha", F.lit(cfg.ic) * F.col("score") * F.col("idio_vol"))
        .select("ticker", "date", "signal", "alpha")
    )
    lake.upsert("alphas", _with_year(alphas))


def benchmark_flow(lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES) -> None:
    """pipelines/benchmark_flow.py — equal-weight benchmark over the
    universe (A6/W10) and its weighted return (A1).

    - weights are 1/len over the FULL universe⟕returns LEFT join
      (reference benchmark_flow.py:16 ``pl.len().over("date")``):
      null-return members still dilute the denominator and receive a
      weight row (first date of history, listing gaps);
    - the weighted return sum skips nulls (Polars semantics) and
      coalesces to 0.0 on an all-null date rather than Spark's NULL."""
    from pyspark.sql.window import Window as W

    uni = scope.emit(lake.table("universe").select("date", "ticker"))
    ret = lake.table("stock_returns").select("ticker", "date", "return")
    ur = uni.join(ret, ["date", "ticker"], "left")
    weights = ur.withColumn(
        "weight", F.lit(1.0) / F.count(F.lit(1)).over(W.partitionBy("date"))
    )
    brets = weights.groupBy("date").agg(
        F.coalesce(F.sum(F.col("return") * F.col("weight")), F.lit(0.0)).alias("return")
    )
    lake.upsert("benchmark_weights", _with_year(weights.select("ticker", "date", "weight")))
    lake.upsert("benchmark_returns", brets)


def betas_flow(lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES) -> None:
    """pipelines/betas_flow.py — rolling single-regressor OLS vs the
    benchmark (U1/W7), EWM-smoothed predicted beta (W4)."""
    sr = scope.history(lake.table("stock_returns"))
    br = scope.history(lake.table("benchmark_returns")).select(
        "date", F.col("return").alias("bench")
    )
    joined = sr.join(F.broadcast(br), "date")
    ols = rolling_ols_grouped(
        joined, "return", ["bench"], cfg.window, "ticker", "date", with_residual=False
    )
    hist = ols.select("ticker", "date", F.col("B_bench").alias("historical_beta")).na.drop(
        subset=["historical_beta"]
    )
    sm = ewm_mean(
        hist, "historical_beta", cfg.ewm_half_life, ["ticker"], ["date"], out_col="predicted_beta"
    )
    lake.upsert(
        "betas",
        _with_year(scope.emit(sm.select("ticker", "date", "historical_beta", "predicted_beta"))),
    )


def portfolio_weights_flow(
    lake: Lakehouse, cfg: PipelineConfig, scope: DateScope = ALL_DATES
) -> None:
    """pipelines/portfolio_weights_flow.py — per-date QP fan-out.

    The reference ships every input table into Ray's object store and
    spawns one remote task per date (U7, :102-132). Spark restatement:
    tag + union the five long-format inputs, ``groupBy(date).applyInPandas``
    — the shuffle delivers exactly each date's slice to one task, no
    object store, no driver materialization.
    """

    def read(name: str) -> DataFrame:
        return scope.emit(lake.table(name))

    # the alphas grain is (ticker, date, signal): select the configured
    # signal (a second signal would otherwise duplicate the per-ticker
    # alpha index inside solve_one_date), and only non-null alphas are
    # investable (a NaN would poison the QP's projection)
    alphas = (
        read("alphas")
        .filter((F.col("signal") == cfg.signal) & F.col("alpha").isNotNull())
        .select(
            "date", "ticker", F.lit(None).cast("string").alias("factor2"),
            F.col("alpha").alias("value"), F.lit("alpha").alias("kind"),
        )
    )
    load = read("factor_loadings").select(
        "date", "ticker", F.col("factor").alias("factor2"),
        F.col("loading").alias("value"), F.lit("loading").alias("kind"),
    )
    iv = read("idio_vol").select(
        "date", "ticker", F.lit(None).cast("string").alias("factor2"),
        F.col("idio_vol").alias("value"), F.lit("idio").alias("kind"),
    )
    fcov = read("factor_covariances").select(
        "date", F.col("factor_1").alias("ticker"), F.col("factor_2").alias("factor2"),
        F.col("covariance").alias("value"), F.lit("fcov").alias("kind"),
    )
    bw = read("benchmark_weights").select(
        "date", "ticker", F.lit(None).cast("string").alias("factor2"),
        F.col("weight").alias("value"), F.lit("bench").alias("kind"),
    )
    allin = reduce(DataFrame.unionByName, [alphas, load, iv, fcov, bw])
    factors = cfg.factors
    target, tol = cfg.target_active_risk, cfg.risk_tolerance

    out_schema = T.StructType(
        [
            T.StructField("date", _DATE),
            T.StructField("ticker", _STR),
            T.StructField("weight", _F64),
            T.StructField("lambda", _F64),
            T.StructField("active_risk", _F64),
        ]
    )

    def solve_one_date(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (date,) = key
        by = {k: g for k, g in pdf.groupby("kind")}
        need = {"alpha", "loading", "idio", "fcov", "bench"}
        if not need.issubset(by):
            return pd.DataFrame(columns=["date", "ticker", "weight", "lambda", "active_risk"])
        alpha = by["alpha"].set_index("ticker")["value"]
        loadings = by["loading"].rename(columns={"factor2": "factor", "value": "loading"})
        ivol = by["idio"].rename(columns={"value": "idio_vol"})[["ticker", "idio_vol"]]
        fc = by["fcov"].rename(
            columns={"ticker": "factor_1", "factor2": "factor_2", "value": "covariance"}
        )
        bench = by["bench"].set_index("ticker")["value"]
        # investable set: tickers with alpha, loadings and idio vol
        tickers = sorted(
            set(alpha.index) & set(loadings.ticker) & set(ivol.ticker) & set(bench.index)
        )
        if len(tickers) < 2:
            return pd.DataFrame(columns=["date", "ticker", "weight", "lambda", "active_risk"])
        sigma = assemble_covariance(
            loadings[loadings.ticker.isin(tickers)], fc, ivol[ivol.ticker.isin(tickers)],
            tickers, factors,
        )
        a = alpha.reindex(tickers).to_numpy(dtype=np.float64)
        wb = bench.reindex(tickers).fillna(0.0).to_numpy(dtype=np.float64)
        wb = wb / wb.sum() if wb.sum() > 0 else np.ones(len(tickers)) / len(tickers)
        w, lam, risk = optimize_portfolio(a, sigma, wb, target, tol)
        return pd.DataFrame(
            {"date": date, "ticker": tickers, "weight": w, "lambda": lam, "active_risk": risk}
        )

    res = allin.groupBy("date").applyInPandas(solve_one_date, out_schema).persist()
    lake.upsert("portfolio_weights", _with_year(res.select("ticker", "date", "weight")))
    metrics = res.select("date", "lambda", "active_risk").distinct()
    lake.upsert("portfolio_metrics", metrics)
    res.unpersist()


# -- orchestration ---------------------------------------------------------
def get_last_market_date(lake: Lakehouse, before: dt.date | None = None) -> dt.date | None:
    """pipelines/utils/calendar.py:8-12 — max(calendar.date [< before]);
    the guard every daily flow checks before running (SURVEY §2.9)."""
    cal = lake.table("calendar")
    if before is not None:
        cal = cal.filter(F.col("date") < F.lit(before))
    return cal.agg(F.max("date").alias("d")).collect()[0].d


def should_run_daily(lake: Lakehouse, run_date: dt.date) -> bool:
    """Market-closed short-circuit: run only if yesterday was a market day
    (reference pipelines/stock_prices_flow.py:140-144 — every daily flow
    starts with this check)."""
    return get_last_market_date(lake, before=run_date) == run_date - dt.timedelta(days=1)


def _run_stage_groups(groups: list[list[tuple[str, object]]], clock=None) -> None:
    """Run the DAG's independent stage groups with overlap (guide §2.6):
    stages inside one group have no data dependency on each other — their
    tables are disjoint — so they are submitted from a small driver
    thread pool and Spark schedules their jobs concurrently (FIFO
    back-fill: the next stage's tasks fill executors freed by the
    current stage's tail). Groups are barriers: a group only starts once
    every stage of the previous group committed, which is exactly the
    write→read dependency order of the sequential DAG (reversal reads
    idio_vol from factor_model; betas reads benchmark_returns from
    benchmark). With one writer per table the lakehouse commits never
    conflict; concurrent commits to DISTINCT tables are independent
    manifests (the protocol tests drive the harder same-table case).

    Failure is NOT sequential-equivalent. A failing stage cancels
    nothing: its siblings in the same group still run to the end and
    commit their tables. Once the group drains, the first failing stage
    in submission order raises (a second failure in the same group is
    not reported), and later groups never start. A rerun of the whole
    DAG converges, because every stage writes by PK upsert and
    re-committing the siblings' rows is idempotent.

    ``clock(name, fn)`` wraps each stage for the
    bench's per-stage breakdown — with overlap the per-stage walls sum
    to more than the group wall (each clock measures its own span)."""
    from concurrent.futures import ThreadPoolExecutor

    run = clock if clock is not None else (lambda _n, fn: fn())
    for group in groups:
        if len(group) == 1:
            name, fn = group[0]
            run(name, fn)
            continue
        with ThreadPoolExecutor(max_workers=len(group)) as pool:
            futures = [pool.submit(run, name, fn) for name, fn in group]
            for f in futures:
                f.result()


def _stage_groups(
    lake: Lakehouse, cfg: PipelineConfig, scope: DateScope
) -> list[list[tuple[str, object]]]:
    """The derived stages in dependency groups (see ``_run_stage_groups``),
    one list for both drivers; every later stage reads the returns. Each
    lambda looks its ``*_flow`` up in this module when it runs, so a
    function rebound on the module after import (a tracing wrapper) is
    the one called."""
    return [
        [("returns", lambda: returns_flow(lake, cfg, scope))],
        [
            ("factor_model", lambda: factor_model_flow(lake, cfg, scope)),
            ("factor_cov", lambda: factor_covariances_flow(lake, cfg, scope)),
            ("benchmark", lambda: benchmark_flow(lake, cfg, scope)),
        ],
        [
            ("reversal", lambda: reversal_flow(lake, cfg, scope)),
            ("betas", lambda: betas_flow(lake, cfg, scope)),
        ],
        [("portfolio", lambda: portfolio_weights_flow(lake, cfg, scope))],
    ]


def run_backfill(lake: Lakehouse, fixtures: dict[str, DataFrame], cfg: PipelineConfig) -> None:
    """Full-history replay of the reference DAG
    (pipelines/__main__.py:25-37, backfill_flow :41-51): ingest replaces
    the calendar and universe and upserts the price panels, then every
    derived stage runs over ``ALL_DATES``, the derived groups overlapped
    (see ``_run_stage_groups``)."""
    create_all_tables(lake)
    calendar_flow(lake, fixtures["calendar"])
    universe_flow(lake, fixtures["universe"])
    stock_prices_flow(lake, fixtures["stock_bars"])
    etf_prices_flow(lake, fixtures["etf_bars"])
    _run_stage_groups(_stage_groups(lake, cfg, ALL_DATES))


def run_daily(
    lake: Lakehouse,
    cfg: PipelineConfig,
    run_date: dt.date,
    new_stock_bars: DataFrame | None = None,
    new_etf_bars: DataFrame | None = None,
    new_calendar: DataFrame | None = None,
    new_universe: DataFrame | None = None,
    warm_days: int | None = None,
    stage_times: dict[str, float] | None = None,
) -> bool:
    """The reference's scheduled ``daily_flow`` (pipelines/__main__.py:22-37).

    Upserts ``new_calendar``, then guards on it: the run's target is
    ``run_date - 1 day``, and it returns False (writing nothing more)
    unless that is the calendar's last market date before ``run_date``.
    Otherwise it upserts the day's universe and bars and runs the same
    stage groups as ``run_backfill`` over ``DateScope(target - warm_days,
    target)``: each stage re-reads that warm-up window and upserts only
    the target date's rows, so a re-run is idempotent. Returns True.

    ``warm_days`` defaults to ``window*2`` calendar days (reference
    pipelines/factor_model_flow.py:179). NOTE the same approximation the
    reference makes: EWM-smoothed outputs have unbounded memory, so a
    finite warm-up truncates history — with half-life 60 and a 2×252-day
    warm-up the truncation error is ~2^-(504/60) ≈ 0.3%. Pass
    ``warm_days`` covering full history for exact incremental parity.

    ``stage_times``: optional dict the caller supplies to receive a
    per-stage wall-clock breakdown (seconds, one key per DAG stage).
    Purely observational — used by bench.py to attribute round-over-round
    drift to a specific stage instead of the whole DAG.
    """
    import time as _time

    def _clock(name: str, fn) -> None:
        t0 = _time.perf_counter()
        fn()
        if stage_times is not None:
            stage_times[name] = round(_time.perf_counter() - t0, 3)

    if new_calendar is not None:
        lake.upsert("calendar", new_calendar)
    target = run_date - dt.timedelta(days=1)
    if get_last_market_date(lake, before=run_date) != target:
        return False
    warm_days = cfg.window * 2 if warm_days is None else warm_days
    scope = DateScope(target - dt.timedelta(days=warm_days), target)

    def _ingest() -> None:
        if new_universe is not None:
            lake.upsert("universe", _with_year(new_universe))
        if new_stock_bars is not None:
            stock_prices_flow(lake, new_stock_bars)
        if new_etf_bars is not None:
            etf_prices_flow(lake, new_etf_bars)

    _clock("ingest", _ingest)
    _run_stage_groups(_stage_groups(lake, cfg, scope), clock=_clock)
    return True
