"""Connector sources (typed empties, year batching, scrape parsing),
daily incremental flows (market-closed guard, warm-up recompute,
idempotence), and intraday history (DST-correct session clipping)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from at_data_pipelines_spark.catalog import Lakehouse
from at_data_pipelines_spark.pipelines import PipelineConfig, flows, synthetic
from at_data_pipelines_spark.pipelines.history import (
    HISTORY_SCHEMA,
    create_history_tables,
    extended_hours_utc,
    history_flow,
    portfolio_history_flow,
)
from at_data_pipelines_spark.sources import (
    empty_bars,
    fetch_daily_bars_batched,
    parse_constituent_tables,
)

CFG = PipelineConfig(window=30, ewm_half_life=10.0, reversal_window=21)


# -- sources ---------------------------------------------------------------
def test_empty_api_response_yields_typed_frame(spark):
    df = empty_bars(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields][:4] == ["ticker", "date", "open", "high"]


def test_year_batched_fetch(spark):
    calls = []

    def client(tickers, start, end):
        calls.append((start, end))
        return pd.DataFrame(
            {
                "ticker": ["A"], "date": [start], "open": [1.0], "high": [1.0],
                "low": [1.0], "close": [1.0], "volume": [1.0],
                "trade_count": [1.0], "vwap": [1.0],
            }
        )

    df = fetch_daily_bars_batched(
        spark, client, ["A"], dt.date(2022, 6, 1), dt.date(2024, 2, 1)
    )
    assert len(calls) == 3  # 2022, 2023, 2024 batches
    assert calls[0] == (dt.date(2022, 6, 1), dt.date(2022, 12, 31))
    assert calls[-1] == (dt.date(2024, 1, 1), dt.date(2024, 2, 1))
    assert df.count() == 3


def test_scrape_parsing():
    current = pd.DataFrame({"Symbol": ["AAPL", "MSFT"], "Security": ["Apple", "Microsoft"]})
    changes = pd.DataFrame(
        {"Date": ["January 2, 2026", "March 15, 2025"], "Added": ["NEW", "X"], "Removed": ["OLD", "Y"]}
    )
    cur, ch = parse_constituent_tables([current, changes])
    assert list(cur["ticker"]) == ["AAPL", "MSFT"]
    assert ch.loc[0, "date"] == dt.date(2026, 1, 2)  # '%B %d, %Y' parse (F6)
    assert list(ch.columns) == ["date", "added_ticker", "removed_ticker"]


def test_filled_orders_projection(spark):
    from at_data_pipelines_spark.sources.rest import filled_orders_frame

    raw = [
        {"id": 1, "symbol": "A", "side": "buy", "status": "filled",
         "filled_at": dt.datetime(2024, 1, 10, 15, 0), "filled_qty": 10, "filled_avg_price": 101.5},
        {"id": 2, "symbol": "B", "side": "sell", "status": "canceled",
         "filled_at": None, "filled_qty": 0, "filled_avg_price": 0},
        {"id": 3, "symbol": "C", "side": "buy", "status": "filled",
         "filled_at": dt.datetime(2023, 1, 1), "filled_qty": 5, "filled_avg_price": 50.0},
    ]
    out = filled_orders_frame(spark, raw, since=dt.datetime(2024, 1, 1)).collect()
    assert len(out) == 1 and out[0].ticker == "A" and out[0].filled_qty == 10.0


def test_notify_wrappers(spark, tmp_path):
    from at_data_pipelines_spark.pipelines.notify import daily_summary, with_failure_notification

    sent = []
    def boom():
        raise ValueError("exploded")
    wrapped = with_failure_notification(boom, sent.append, "test_flow")
    with pytest.raises(ValueError):
        wrapped()
    assert len(sent) == 1 and "test_flow failed" in sent[0] and "exploded" in sent[0]

    lake = Lakehouse(spark, str(tmp_path / "nlake"))
    flows.create_all_tables(lake)
    msg = daily_summary(lake, sent.append)
    assert "No portfolio weights" in msg


def test_daily_trading_summary_golden(spark):
    """Golden-string check of the trade-diff summary — section-for-section
    with the reference message (slack_daily_summary.py:47-203)."""
    from at_data_pipelines_spark.pipelines.notify import daily_trading_summary
    from at_data_pipelines_spark.sources.rest import ORDER_SCHEMA

    rows = [
        ("o1", "AAPL", "buy", dt.datetime(2024, 1, 10, 15, 0), 10.0, 101.50),
        ("o2", "MSFT", "buy", dt.datetime(2024, 1, 10, 15, 5), 2.0, 400.00),
        ("o3", "NVDA", "sell", dt.datetime(2024, 1, 10, 15, 30), 1.0, 900.00),
    ]
    orders = spark.createDataFrame(rows, ORDER_SCHEMA)
    positions = [
        {"ticker": "AAPL", "value": 5000.0},
        {"ticker": "NVDA", "value": 9000.0},
        {"ticker": "MSFT", "value": 800.0},
    ]
    sent = []
    msg = daily_trading_summary(
        orders, 100_000.0, sent.append,
        previous_account_value=99_000.0, positions=positions,
    )
    assert sent == [msg]
    assert msg == "\n".join(
        [
            "📊 Daily Trading Summary",
            "*Portfolio Value* $100,000.00",
            "*Day P&L* $1,000.00 (+1.01%)",
            "*Total Volume* $2,715.00",
            "*Positions* 3 open",
            "*Buys:* 2 · $1,815.00",
            "*Sells:* 1 · $900.00",
            "*Top 3 Buys*",
            "1. 10.00 `AAPL` @ $101.50 = $1,015.00",
            "2. 2.00 `MSFT` @ $400.00 = $800.00",
            "*Top 3 Sells*",
            "1. 1.00 `NVDA` @ $900.00 = $900.00",
            "*Top 3 Positions*",
            "1. `NVDA`: $9,000.00",
            "2. `AAPL`: $5,000.00",
            "3. `MSFT`: $800.00",
        ]
    )


def test_daily_trading_summary_no_trades(spark):
    from at_data_pipelines_spark.pipelines.notify import daily_trading_summary
    from at_data_pipelines_spark.sources.rest import ORDER_SCHEMA

    sent = []
    msg = daily_trading_summary(
        spark.createDataFrame([], ORDER_SCHEMA), 55_500.5, sent.append
    )
    assert msg == "✅ No trades executed today\nPortfolio value: $55,500.50"
    assert sent == [msg]


# -- daily incremental -----------------------------------------------------
@pytest.fixture(scope="module")
def daily_lake(spark, tmp_path_factory):
    lake = Lakehouse(spark, str(tmp_path_factory.mktemp("dailylake")))
    fx = synthetic.generate_market(
        spark, n_tickers=5, start=dt.date(2023, 1, 2), end=dt.date(2023, 6, 30)
    )
    flows.create_all_tables(lake)
    flows.calendar_flow(lake, fx["calendar"])
    flows.stock_prices_flow(lake, fx["stock_bars"])
    flows.returns_flow(lake, CFG)
    return lake


def test_market_closed_guard(daily_lake):
    # a Sunday: Saturday was not a market day → no-op
    assert flows.should_run_daily(daily_lake, dt.date(2023, 3, 19)) is False
    assert flows.run_daily(daily_lake, CFG, dt.date(2023, 3, 19)) is False


def test_daily_rerun_is_idempotent(daily_lake):
    cal = sorted(r.date for r in daily_lake.table("calendar").collect())
    run_date = cal[-1] + dt.timedelta(days=1)
    if not flows.should_run_daily(daily_lake, run_date):
        run_date = cal[-1]  # ensure yesterday-is-market-day holds
        while not flows.should_run_daily(daily_lake, run_date):
            run_date += dt.timedelta(days=1)
    target = run_date - dt.timedelta(days=1)
    day = flows.DateScope(target - dt.timedelta(days=CFG.window * 2), target)
    before = daily_lake.table("stock_returns").count()
    assert flows.should_run_daily(daily_lake, run_date) is True
    flows.returns_flow(daily_lake, CFG, day)
    assert daily_lake.table("stock_returns").count() == before  # recompute of existing date
    flows.returns_flow(daily_lake, CFG, day)
    assert daily_lake.table("stock_returns").count() == before  # idempotent re-run
    dupes = (
        daily_lake.table("stock_returns")
        .groupBy("ticker", "date").count().filter("count > 1").count()
    )
    assert dupes == 0


# -- intraday history ------------------------------------------------------
def test_extended_hours_dst_correct():
    # winter (EST, UTC-5): 04:00 NY = 09:00 UTC
    s, e = extended_hours_utc(dt.date(2024, 1, 10))
    assert (s.hour, e.hour) == (9, 1) and e.day == dt.date(2024, 1, 11).day
    # summer (EDT, UTC-4): 04:00 NY = 08:00 UTC
    s, e = extended_hours_utc(dt.date(2024, 7, 10))
    assert (s.hour, e.hour) == (8, 0)


def test_history_flow_clips_and_dedups(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "hlake"))
    create_history_tables(lake)
    d = dt.date(2024, 1, 10)
    rows = []
    # Jan session = 04:00–20:00 ET = 09:00 UTC → 01:00 UTC next day;
    # 08:00 UTC (03:00 ET) is pre-session, 02:00 UTC Jan 11 is post-session
    for ts in [
        dt.datetime(2024, 1, 10, 8, 0),
        dt.datetime(2024, 1, 10, 9, 0),
        dt.datetime(2024, 1, 10, 23, 0),
        dt.datetime(2024, 1, 11, 0, 30),
        dt.datetime(2024, 1, 11, 2, 0),
    ]:
        rows.append(("A", ts, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0))
    bars = spark.createDataFrame(rows, HISTORY_SCHEMA)
    history_flow(lake, bars, d)
    history_flow(lake, bars, d)  # replay
    out = lake.table("stock_history").collect()
    kept = sorted((r.timestamp.day, r.timestamp.hour) for r in out)
    assert kept == [(10, 9), (10, 23), (11, 0)]  # session-clipped, deduped


def test_portfolio_history_epoch_conversion(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "plake"))
    create_history_tables(lake)
    df = spark.createDataFrame([(1704890100, 1000.5)], "epoch_s long, equity double")
    portfolio_history_flow(lake, df)
    row = lake.table("portfolio_history").collect()[0]
    assert row.timestamp == dt.datetime(2024, 1, 10, 12, 35)  # UTC
    assert row.equity == 1000.5


def test_actual_trades_summary_golden(spark):
    """Per-trade report renders line-for-line with the reference's
    send_actual_trades_summary (pipelines/utils/slack.py:8-62)."""
    from at_data_pipelines_spark.pipelines.notify import actual_trades_summary
    from at_data_pipelines_spark.sources.rest import ORDER_SCHEMA

    rows = [
        ("o1", "AAPL", "buy", dt.datetime(2024, 1, 10, 15, 0), 10.0, 101.50),
        ("o2", "NVDA", "sell", dt.datetime(2024, 1, 10, 15, 30), 1.0, 900.00),
    ]
    sent = []
    msg = actual_trades_summary(spark.createDataFrame(rows, ORDER_SCHEMA), sent.append)
    assert msg == "\n".join(
        [
            "✅ Executed Trades Report",
            "*Total Trades Executed:* 2",
            "*Total Notional:* $1,915.00",
            "📈 BUY 10.00 shares of AAPL @ $101.50 = $1,015.00",
            "📉 SELL 1.00 shares of NVDA @ $900.00 = $900.00",
        ]
    )
    assert sent == [msg]
    empty = actual_trades_summary(
        spark.createDataFrame([], ORDER_SCHEMA), sent.append
    )
    assert empty == "✅ No trades executed today"


def test_compute_target_trades(spark):
    from at_data_pipelines_spark.pipelines.notify import compute_target_trades

    w = spark.createDataFrame(
        [
            ("A", dt.date(2024, 1, 2), 0.5), ("B", dt.date(2024, 1, 2), 0.5),
            ("A", dt.date(2024, 1, 3), 0.3), ("C", dt.date(2024, 1, 3), 0.7),
        ],
        ["ticker", "date", "weight"],
    )
    p = spark.createDataFrame(
        [(t, d, 100.0) for t in ("A", "B", "C")
         for d in (dt.date(2024, 1, 2), dt.date(2024, 1, 3))],
        ["ticker", "date", "close"],
    )
    got = {(r.ticker, r.date.day): r for r in compute_target_trades(w, p, 10_000.0).collect()}
    # day 1: initial buys from zero
    assert got[("A", 2)].side == "buy" and got[("A", 2)].qty == pytest.approx(50.0)
    assert got[("B", 2)].qty == pytest.approx(50.0)
    # day 2: A trims 0.5->0.3, C enters at 0.7
    assert got[("A", 3)].side == "sell" and got[("A", 3)].qty == pytest.approx(20.0)
    assert got[("C", 3)].side == "buy" and got[("C", 3)].qty == pytest.approx(70.0)
    # B exited: no weight row on day 3 means no trade row either (the
    # weights table omits exits; full exit handling needs the prior
    # holdings frame - documented)
    assert ("B", 3) not in got
