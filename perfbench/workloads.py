"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup``, then the
harness (``run.py``) calls ``prepare(i)`` (untimed), ``run(...)`` (timed:
one operation) and ``check(...)`` (untimed) in a closed loop with one
caller. A workload sees the program only through its public entry points:
``pipelines.flows``, ``pipelines.accessors``, ``catalog.Lakehouse`` and
``queries.QUERIES``.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from at_data_pipelines_spark.catalog import Lakehouse
from at_data_pipelines_spark.pipelines import accessors, flows, synthetic
from at_data_pipelines_spark.pipelines.config import PipelineConfig
from pyspark.sql import functions as F

MARKET_START = dt.date(2023, 1, 2)
MARKET_INPUTS = ("calendar", "universe", "stock_bars", "etf_bars")

# tables a daily run writes, with their keys and value columns: the same
# list and tolerance the incremental-vs-backfill test of the package uses
DAILY_TABLES = [
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
RTOL, ATOL = 1e-9, 1e-12


class _PandasFrames:
    """Stand-in session for ``generate_market``: keeps its frames in
    pandas, so the benchmark can both hand them to Spark and size them."""

    @staticmethod
    def createDataFrame(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf


def market(spark, n_tickers: int, calendar_days: int, seed: int):
    """Seeded market inputs as (pandas frames, Spark DataFrames, trading days)."""
    pdfs = synthetic.generate_market(
        _PandasFrames(),
        n_tickers=n_tickers,
        start=MARKET_START,
        end=MARKET_START + dt.timedelta(days=calendar_days),
        seed=seed,
    )
    sdfs = {k: spark.createDataFrame(v) for k, v in pdfs.items()}
    return pdfs, sdfs, sorted(pdfs["calendar"]["date"])


def parquet_bytes(frames: list[pd.DataFrame]) -> int:
    """Bytes of the frames written once as Parquet (the user's data)."""
    total = 0
    for pdf in frames:
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf)
        total += buf.tell()
    return total


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def frames_match(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    """Same columns, same key rows in the same multiplicity, values equal
    within the daily test's tolerance (NaN equals NaN)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = keys + sorted(c for c in want.columns if c not in keys)
    a = got[cols].sort_values(cols, ignore_index=True, na_position="first")
    b = want[cols].sort_values(cols, ignore_index=True, na_position="first")
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            if not np.allclose(
                x.to_numpy(dtype=float), y.to_numpy(dtype=float),
                rtol=RTOL, atol=ATOL, equal_nan=True,
            ):
                return False
        elif not ((x == y) | (x.isna() & y.isna())).all():
            return False
    return True


def lake_state(lake: Lakehouse) -> dict[str, float]:
    """On-disk state of a lake: files, bytes of the current manifests and
    insert generations not yet absorbed by a compaction."""
    size, files = tree_bytes(lake.root)
    manifests = sum(
        os.path.getsize(os.path.join(lake.root, t, "_bl_meta.json"))
        for t in os.listdir(lake.root)
        if os.path.isfile(os.path.join(lake.root, t, "_bl_meta.json"))
    )
    pending = sum(lake.pending_deltas(t) for t in lake.tables())
    return {"bytes": size, "files": files, "manifest_bytes": manifests, "pending_deltas": pending}


class Workload:
    name = ""
    work_unit = "operations"
    flow_stage_spans = False
    lake: Lakehouse | None = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.setup_phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Time one part of set-up (printed as an information line)."""
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = round(time.perf_counter() - t0, 2)

    def done(self, elapsed: float, n_ops: int) -> bool:
        return elapsed >= self.ctx.seconds and n_ops >= 1

    def storage_root(self) -> str:
        """Directory whose bytes count as what the system stores."""
        return self.lake.root

    def check_all(self, ops: list[dict]) -> None:
        """Deferred checks: set ``op['ok']`` on ops ``check`` left at None."""

    def finish(self) -> None:
        pass


class DailyChain(Workload):
    """A lake backfilled to day D, then ``run_daily`` day after day."""

    name = "daily_chain"
    work_unit = "trading days"
    N_TICKERS = 16
    HISTORY = 60  # trading days backfilled in set-up
    CALENDAR_DAYS = 100  # ~71 trading days: history plus the days a run can ingest
    CFG = PipelineConfig(window=20, ewm_half_life=10.0, reversal_window=11)
    # re-read the whole history each day, as the incremental-vs-backfill
    # test does, so every EWM output is exact against the reference. The
    # default re-read (window*2 = 40 calendar days) is too short for this
    # config: idio_vol's rolling std of OLS residuals needs ~2*window
    # trading days, so a default day writes no idio_vol and no portfolio,
    # and its EWM outputs differ from the backfill's by more than 100 %
    WARM_DAYS = 10_000

    def setup(self) -> None:
        c = self.ctx
        with self.phase("market"):
            self.pdfs, fx, cal = market(self.spark, self.N_TICKERS, self.CALENDAR_DAYS, c.seed)
        self.fx = fx
        self.days = cal[self.HISTORY:]
        # the expected rows: one backfill over every day a run may ingest
        self.ref = Lakehouse(self.spark, os.path.join(c.work, "reference_lake"))
        with self.phase("reference_backfill"):
            flows.run_backfill(self.ref, fx, self.CFG)
        cut = {k: fx[k].filter(F.col("date") < F.lit(self.days[0])) for k in MARKET_INPUTS}
        self.lake = Lakehouse(self.spark, os.path.join(c.work, "lake"))
        with self.phase("lake_backfill"):
            flows.run_backfill(self.lake, cut, self.CFG)

    def prepare(self, i: int):
        if i >= len(self.days):
            return None
        d = self.days[i]
        day = {k: self.fx[k].filter(F.col("date") == F.lit(d)) for k in MARKET_INPUTS}
        return {"date": d, "inputs": day, "stages": {}}

    def run(self, p) -> dict:
        day = p["inputs"]
        ran = flows.run_daily(
            self.lake,
            self.CFG,
            run_date=p["date"] + dt.timedelta(days=1),
            new_stock_bars=day["stock_bars"],
            new_etf_bars=day["etf_bars"],
            new_calendar=day["calendar"],
            new_universe=day["universe"],
            warm_days=self.WARM_DAYS,
            stage_times=p["stages"],
        )
        return {"ran": ran, "work": 1}

    def check(self, p, out) -> bool | None:
        return None if out["ran"] else False

    def check_all(self, ops: list[dict]) -> None:
        """Each day against the reference backfill, table by table.

        Tables that depend only on the past must equal the reference's rows
        for that date. ``scores`` (and the ``alphas`` built on them) are
        z-scores over all signals up to the day, so a backfill over a longer
        horizon differs; they are recomputed from the reference signals cut
        at the day. The QP's ``portfolio_*`` rows are checked for being a
        long-only, fully invested portfolio over the investable tickers."""
        todo = [o for o in ops if o["ok"] is None]
        if not todo:
            return
        dates = [o["prep"]["date"] for o in todo]

        def rows(lake, name):
            return lake.query(lake.table(name).filter(F.col("date").isin(dates)))

        got = {name: rows(self.lake, name) for name, _, _ in DAILY_TABLES}
        want = {name: rows(self.ref, name) for name, _, _ in DAILY_TABLES}
        signals = self.ref.query(self.ref.table("signals").filter(F.col("date") <= F.lit(max(dates))))
        for o in todo:
            d = o["prep"]["date"]
            g = {k: v[v["date"] == d] for k, v in got.items()}
            wd = {k: v[v["date"] == d] for k, v in want.items()}
            sig = signals[signals["date"] <= d]["value"]
            score = wd["signals"][["ticker", "date", "signal", "year"]].assign(
                score=(wd["signals"]["value"] - sig.mean()) / sig.std(ddof=1)
            )
            alpha = score.merge(wd["idio_vol"][["ticker", "date", "idio_vol"]], on=["ticker", "date"], how="left")
            alpha = alpha.assign(alpha=self.CFG.ic * alpha["score"] * alpha["idio_vol"])
            wd["scores"] = score
            wd["alphas"] = alpha[["ticker", "date", "signal", "year", "alpha"]]
            ok = all(
                len(wd[name]) > 0 and frames_match(g[name], wd[name], keys)
                for name, keys, _ in DAILY_TABLES
                if not name.startswith("portfolio_")
            )
            o["ok"] = ok and self._portfolio_ok(g, wd)

    def _portfolio_ok(self, got: dict, want: dict) -> bool:
        pw, pm = got["portfolio_weights"], got["portfolio_metrics"]
        investable = (
            set(want["alphas"].dropna(subset=["alpha"])["ticker"])
            & set(want["factor_loadings"]["ticker"])
            & set(want["idio_vol"]["ticker"])
            & set(want["benchmark_weights"]["ticker"])
        )
        return (
            set(pw["ticker"]) == investable
            and len(investable) >= 2
            and bool((pw["weight"] >= -1e-9).all())
            and abs(pw["weight"].sum() - 1.0) <= 1e-9
            and len(pm) == 1
            and bool(np.isfinite(pm[["lambda", "active_risk"]].to_numpy()).all())
        )

    def user_bytes(self, ops: list[dict]) -> int:
        last = max([o["prep"]["date"] for o in ops], default=self.days[0])
        return parquet_bytes([p[p["date"] <= last] for p in self.pdfs.values()])


class ResearchReads(Workload):
    """Seeded analyst reads over a lake with history and corrections."""

    name = "research_reads"
    work_unit = "reads"
    N_TICKERS = 16
    HISTORY = 60
    DAILY_DAYS = 2
    CALENDAR_DAYS = 95
    CFG = DailyChain.CFG
    ACCESSORS = [
        "get_universe_returns", "get_alphas", "get_benchmark_weights",
        "get_factor_loadings", "get_idio_vol", "get_prices", "get_factor_covariances",
    ]
    SCANS = ["stock_prices", "alphas"]
    SNAPSHOT = [
        "universe", "stock_returns", "alphas", "benchmark_weights",
        "factor_loadings", "idio_vol", "stock_prices", "factor_covariances",
    ]

    def setup(self) -> None:
        c = self.ctx
        rng = random.Random(c.seed)
        self.pdfs, fx, cal = market(self.spark, self.N_TICKERS, self.CALENDAR_DAYS, c.seed)
        n_days = self.HISTORY + self.DAILY_DAYS
        self.cal = cal[:n_days]
        self.lake = lake = Lakehouse(self.spark, os.path.join(c.work, "lake"))
        cut = {k: fx[k].filter(F.col("date") < F.lit(cal[self.HISTORY])) for k in MARKET_INPUTS}
        with self.phase("lake_backfill"):
            flows.run_backfill(lake, cut, self.CFG)
        with self.phase("dailies"):
            for d in cal[self.HISTORY:n_days]:
                day = {k: fx[k].filter(F.col("date") == F.lit(d)) for k in MARKET_INPUTS}
                flows.run_daily(
                    lake, self.CFG, run_date=d + dt.timedelta(days=1),
                    new_stock_bars=day["stock_bars"], new_etf_bars=day["etf_bars"],
                    new_calendar=day["calendar"], new_universe=day["universe"],
                )
        # expected state: the tables as committed, then the corrections
        # applied in pandas alongside the lake's own update/delete paths
        snap = {t: lake.query(lake.table(t)) for t in self.SNAPSHOT}
        tickers = sorted(snap["universe"]["ticker"].unique())
        recent = self.cal[-20:]

        def picks(k):
            return sorted({(rng.choice(tickers), rng.choice(recent)) for _ in range(k)})

        def pred(pairs):
            return reduce(
                lambda a, b: a | b,
                [(F.col("ticker") == t) & (F.col("date") == F.lit(d)) for t, d in pairs],
            )

        def mask(pdf, pairs):
            return pd.Series(
                [(t, d) in set(pairs) for t, d in zip(pdf["ticker"], pdf["date"])], index=pdf.index
            )

        # vendor withdrew some bars and some alphas: metadata-only deletes
        for t in ("stock_prices", "alphas"):
            pairs = picks(6)
            lake.delete_where(t, pred(pairs), mode="auto")
            snap[t] = snap[t][~mask(snap[t], pairs)]
        # restated loadings: an update through the primary key
        pairs = picks(4)
        lake.update_where("factor_loadings", pred(pairs), {"loading": F.col("loading") * 1.01})
        m = mask(snap["factor_loadings"], pairs)
        snap["factor_loadings"].loc[m, "loading"] = snap["factor_loadings"].loc[m, "loading"] * 1.01
        # late idio-vol restatements appended, not yet compacted: reads see
        # the shadowed copies until the next optimize()
        iv = snap["idio_vol"]
        late = iv[mask(iv, picks(5))].assign(idio_vol=lambda x: x["idio_vol"] * 1.05)
        lake.insert("idio_vol", self.spark.createDataFrame(late, schema=lake.table("idio_vol").schema))
        snap["idio_vol"] = pd.concat([iv, late], ignore_index=True)
        self.snap = snap
        self.tickers = tickers
        self.schedule = self._schedule(rng, 5000)
        self._expected: dict[tuple, pd.DataFrame] = {}

    def _schedule(self, rng: random.Random, n: int) -> list[tuple]:
        """Reads favouring recent dates; half repeat an earlier read, so
        the catalog's memo caches both hit and miss."""
        kinds = self.ACCESSORS + [f"scan:{t}" for t in self.SCANS]
        last = len(self.cal) - 1
        out: list[tuple] = []
        for _ in range(n):
            if out and rng.random() < 0.5:
                out.append(rng.choice(out))
                continue
            end = max(0, last - int(rng.expovariate(1 / 8)))
            start = max(0, end - rng.randint(0, 14))
            kind = rng.choice(kinds)
            ticker = rng.choice(self.tickers) if kind.startswith("scan:") else None
            out.append((kind, self.cal[start], self.cal[end], ticker))
        return out

    def prepare(self, i: int):
        return self.schedule[i] if i < len(self.schedule) else None

    def run(self, read) -> dict:
        kind, start, end, ticker = read
        if kind.startswith("scan:"):
            df = self.lake.scan(kind[5:], where={"ticker": ticker, "date": (start, end)})
        else:
            df = getattr(accessors, kind)(self.lake, start, end)
        pdf = self.lake.query(df)
        return {"rows": len(pdf), "result": pdf, "work": 1}

    def expected(self, read) -> tuple[pd.DataFrame, list[str]]:
        """The read computed in pandas from the expected table state,
        following each accessor's documented join/filter/projection."""
        kind, start, end, ticker = read
        s = self.snap

        def between(pdf):
            return pdf[(pdf["date"] >= start) & (pdf["date"] <= end)]

        if kind.startswith("scan:"):
            t = s[kind[5:]]
            return between(t[t["ticker"] == ticker]), [c for c in ("ticker", "date") if c in t]
        if kind == "get_factor_covariances":
            return between(s["factor_covariances"]), ["date", "factor_1", "factor_2"]
        uni = between(s["universe"])
        right, value, keys = {
            "get_universe_returns": ("stock_returns", ["return"], ["date", "ticker"]),
            "get_alphas": ("alphas", ["alpha"], ["date", "ticker"]),
            "get_benchmark_weights": ("benchmark_weights", ["weight"], ["date", "ticker"]),
            "get_factor_loadings": ("factor_loadings", ["factor", "loading"], ["date", "ticker", "factor"]),
            "get_idio_vol": ("idio_vol", ["idio_vol"], ["date", "ticker"]),
            "get_prices": ("stock_prices", None, ["date", "ticker"]),
        }[kind]
        if value is None:
            r = s[right].drop(columns=["year"])
            out = uni.merge(r, on=["date", "ticker"], how="left")
        else:
            r = s[right][["date", "ticker"] + value]
            out = uni[["date", "ticker"]].merge(r, on=["date", "ticker"], how="left")
            if kind in ("get_alphas", "get_factor_loadings", "get_idio_vol"):
                out = out[out[value[-1]].notna()]
        return out, keys

    def check(self, read, out) -> bool:
        if read not in self._expected:
            self._expected[read] = self.expected(read)
        want, keys = self._expected[read]
        got = out.pop("result")
        return frames_match(got, want, keys)

    def user_bytes(self, ops: list[dict]) -> int:
        last = self.cal[-1]
        return parquet_bytes([p[p["date"] <= last] for p in self.pdfs.values()])


class QuerySuite(Workload):
    """The 16 headline and 7 extra registered queries over the sf0.001
    fixture tables, each forced with ``.count()``."""

    name = "query_suite"
    work_unit = "queries"
    # the sf0.001 tables the package's smoke tests read, copied unchanged
    FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.001")

    def setup(self) -> None:
        import bench
        from at_data_pipelines_spark.queries import ORACLES, QUERIES
        from tests.oracle_harness import compare, run_oracle

        c = self.ctx
        self.queries = QUERIES
        self.data = os.path.join(c.work, "tables")
        shutil.copytree(self.FIXTURES, self.data)
        self.input_bytes = tree_bytes(self.data)[0]
        # fixed tables in a fixed order: the seed changes nothing here, as
        # a pass's latencies depend on the order of its queries
        self.names = bench.HEADLINE + bench.EXTRAS

        def first(q):
            want = run_oracle(self.data, ORACLES[q])
            got = QUERIES[q](self.spark, self.data).toPandas()
            return len(want), bool(compare(got, want)["close"])

        # the first execution of each query (codegen, JIT) is set-up, and
        # the one whose full result is compared with its DuckDB oracle. It
        # runs on nproc driver threads (14 s instead of 30 s one by one on
        # a 4-CPU host)
        with self.phase("first_executions"):
            with ThreadPoolExecutor(c.cpus) as pool:
                results = dict(zip(self.names, pool.map(first, self.names)))
        self.rows = {q: n for q, (n, _) in results.items()}
        self.content_ok = {q: ok for q, (_, ok) in results.items()}

    def done(self, elapsed: float, n_ops: int) -> bool:
        return elapsed >= self.ctx.seconds and n_ops > 0 and n_ops % len(self.names) == 0

    def prepare(self, i: int):
        return self.names[i % len(self.names)]

    def run(self, q) -> dict:
        tr = self.ctx.tracer
        if tr is None:
            n = self.queries[q](self.spark, self.data).count()
        else:
            with tr.span("queries.build"):
                df = self.queries[q](self.spark, self.data)
            with tr.span("queries.action"):
                n = df.count()
        return {"rows": n, "work": 1}

    def check(self, q, out) -> bool:
        return self.content_ok[q] and out["rows"] == self.rows[q]

    def user_bytes(self, ops: list[dict]) -> int:
        return self.input_bytes

    def storage_root(self) -> str:
        return self.data

    def finish(self) -> None:
        from at_data_pipelines_spark.llmops.dedup import release_shingle_caches

        release_shingle_caches()


class BackfillHistory(Workload):
    """``run_backfill`` into a fresh lake, one backfill per operation."""

    name = "backfill_history"
    work_unit = "stock-day rows"
    flow_stage_spans = True
    TICKERS_PER_CPU = 25
    CALENDAR_DAYS = 730
    CFG = PipelineConfig(window=60, ewm_half_life=20.0, reversal_window=21)

    def setup(self) -> None:
        c = self.ctx
        # untimed-warm-up backfill on a tiny market pays first codegen
        _, tiny, _ = market(self.spark, 4, 90, c.seed)
        flows.run_backfill(Lakehouse(self.spark, os.path.join(c.work, "warmup")), tiny, DailyChain.CFG)
        n = self.TICKERS_PER_CPU * c.cpus
        self.pdfs, self.fx, cal = market(self.spark, n, self.CALENDAR_DAYS, c.seed)
        self.rows = len(self.pdfs["stock_bars"])
        self.digest = None

    def prepare(self, i: int):
        return os.path.join(self.ctx.work, f"lake{i}")

    def run(self, root) -> dict:
        self.lake = Lakehouse(self.spark, root)
        flows.run_backfill(self.lake, self.fx, self.CFG)
        return {"root": root, "work": self.rows}

    def check(self, root, out) -> bool:
        """Weights are long-only and sum to one per date, the benchmark is
        equal-weight, every table is filled, and repeated backfills agree."""
        lake = self.lake
        if any(lake.query(lake.table(t).limit(1)).empty for t, _, _ in DAILY_TABLES):
            return False
        pw = lake.query(lake.table("portfolio_weights"))
        bw = lake.query(lake.table("benchmark_weights"))
        sums = pw.groupby("date")["weight"].sum()
        ok = bool(np.allclose(sums, 1.0, atol=1e-6) and (pw["weight"] >= -1e-9).all())
        n = bw.groupby("date")["weight"].transform("size")
        ok = ok and bool(np.allclose(bw["weight"], 1.0 / n, rtol=1e-12))
        digest = pd.util.hash_pandas_object(
            pw.sort_values(["date", "ticker"], ignore_index=True).round(9)
        ).sum()
        if self.digest is None:
            self.digest = digest
        return ok and digest == self.digest

    def user_bytes(self, ops: list[dict]) -> int:
        return parquet_bytes(list(self.pdfs.values()))


WORKLOADS = {w.name: w for w in (DailyChain, ResearchReads, QuerySuite, BackfillHistory)}
