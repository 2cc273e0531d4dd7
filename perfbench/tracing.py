"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

Nothing here edits the package. ``Tracer.install`` wraps the package's
public layer entry points, from the benchmark's side, in spans:

- ``catalog.<method>`` around the public ``Lakehouse`` methods,
- ``accessors.<get_*>``, ``io.load_table``,
- ``kernels.rolling_ols`` / ``kernels.rolling_cov`` / ``kernels.portfolio_qp``
  and ``ts.ewm_mean`` around the calls that build the grouped-map UDFs,
- ``pipelines.stage.<stage>`` around the public ``*_flow`` functions
  (only when a workload asks for it: ``run_daily`` reports its stages
  through ``stage_times`` instead).

Each span sets the Spark job group of its calling thread, so the event
log (enabled only in traced runs) ties jobs to spans. Grouped-map UDFs
built inside a kernel span get their Python function wrapped in a timer
that reports, through a Spark accumulator, each call's interval on the
worker, the job group of the task that ran it (the span whose action
executed the kernel) and the pandas bytes handed to it.

Spans are kept in memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import glob
import inspect
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

import pandas as pd  # noqa: F401  (resolves string type hints of wrapped UDFs)
from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam

JOB_GROUP = "spark.jobGroup.id"

CATALOG_METHODS = [
    "upsert", "insert", "optimize", "table", "scan",
    "update_where", "delete_where", "create", "query",
]
KERNEL_LABELS = ["kernels.rolling_ols", "kernels.rolling_cov", "kernels.portfolio_qp", "ts.ewm_mean"]
FLOW_STAGES = {
    "calendar_flow": "ingest",
    "universe_flow": "ingest",
    "stock_prices_flow": "ingest",
    "etf_prices_flow": "ingest",
    "returns_flow": "returns",
    "factor_model_flow": "factor_model",
    "factor_covariances_flow": "factor_cov",
    "benchmark_flow": "benchmark",
    "reversal_flow": "reversal",
    "betas_flow": "betas",
    "portfolio_weights_flow": "portfolio",
}


def _replace_everywhere(orig, repl) -> None:
    """Point every package-module attribute bound to ``orig`` at ``repl``
    (modules import these functions by name)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("at_data_pipelines_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, repl)


class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _timed_udf(func, label, acc):
    """Wrap a grouped-map function, keeping its arity and type hints
    (``applyInPandas`` dispatches on both). Each call adds
    ``(label, job group, start, end, bytes in)`` to ``acc``."""
    params = list(inspect.signature(func).parameters)
    ann = getattr(func, "__annotations__", {})

    def _measure(pdf, call):
        t0 = time.time()
        out = call()
        t1 = time.time()
        ctx = TaskContext.get()
        group = ctx.getLocalProperty(JOB_GROUP) if ctx is not None else None
        acc.add([(label, group, t0, t1, int(pdf.memory_usage(index=False, deep=True).sum()))])
        return out

    if len(params) == 1:
        def timed(pdf):
            return _measure(pdf, lambda: func(pdf))
        mine = ["pdf"]
    else:
        def timed(key, pdf):
            return _measure(pdf, lambda: func(key, pdf))
        mine = ["key", "pdf"]
    timed.__annotations__ = {m: ann[p] for m, p in zip(mine, params) if p in ann}
    if "return" in ann:
        timed.__annotations__["return"] = ann["return"]
    return timed


class Tracer:
    """Span recorder. One operation runs at a time (closed loop, one
    caller); stages inside it may run on pool threads, whose spans hang
    off the operation's root span."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._mu = threading.Lock()
        self._local = threading.local()
        self.op: int | None = None
        self._op_span: int | None = None
        self.udf_calls = self.sc.accumulator([], _ListParam())

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[tuple[int, str]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1][0] if stack else self._op_span
        sid = next(self._ids)
        prev = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, f"pb-{sid}")
        stack.append((sid, name))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev)
            rec = {
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "op": self.op, "thread": threading.get_ident(),
            }
            with self._mu:
                self.spans.append(rec)

    @contextmanager
    def operation(self, op: int, name: str = "op"):
        """Root span of one measured operation."""
        self.op = op
        with self.span(name) as sid:
            self._op_span = sid
            try:
                yield sid
            finally:
                self._op_span = None
        self.op = None

    def _label(self) -> str | None:
        for _, name in reversed(self._stack()):
            if name in KERNEL_LABELS:
                return name
        return None

    # -- patching ------------------------------------------------------------
    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, flow_stages: bool = False) -> None:
        import at_data_pipelines_spark.io as io_mod
        from at_data_pipelines_spark.catalog import Lakehouse
        from at_data_pipelines_spark.kernels import rolling_ols_grouped, rolling_pairwise_cov
        from at_data_pipelines_spark.pipelines import accessors, flows
        from at_data_pipelines_spark.ts import ewm_mean
        from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

        for m in CATALOG_METHODS:
            setattr(Lakehouse, m, self._wrap(getattr(Lakehouse, m), f"catalog.{m}"))
        for name in [n for n in vars(accessors) if n.startswith("get_")]:
            setattr(accessors, name, self._wrap(getattr(accessors, name), f"accessors.{name}"))
        for orig, name in [
            (io_mod.load_table, "io.load_table"),
            (rolling_ols_grouped, "kernels.rolling_ols"),
            (rolling_pairwise_cov, "kernels.rolling_cov"),
            (ewm_mean, "ts.ewm_mean"),
        ]:
            _replace_everywhere(orig, self._wrap(orig, name))
        # the per-date QP is a closure inside portfolio_weights_flow
        flows.portfolio_weights_flow = self._wrap(
            flows.portfolio_weights_flow, "kernels.portfolio_qp"
        )
        if flow_stages:
            for fn_name, stage in FLOW_STAGES.items():
                setattr(flows, fn_name, self._wrap(getattr(flows, fn_name), f"pipelines.stage.{stage}"))

        orig_apply = PandasGroupedOpsMixin.applyInPandas
        tracer = self

        def apply_in_pandas(grouped, func, schema):
            label = tracer._label()
            if label is not None:
                func = _timed_udf(func, label, tracer.udf_calls)
            return orig_apply(grouped, func, schema)

        PandasGroupedOpsMixin.applyInPandas = apply_in_pandas

    def udf_spans(self) -> list[dict]:
        """Each grouped-map call as a span on the worker, named
        ``<kernel>.python``, child of the span whose job ran it. Worker
        spans have negative ids and no thread."""
        op_of = {s["id"]: s["op"] for s in self.spans}
        out = []
        for i, (label, group, start, end, nbytes) in enumerate(sorted(self.udf_calls.value, key=lambda c: c[2])):
            parent = int(group[3:]) if group and group.startswith("pb-") else None
            out.append({
                "id": -1 - i, "name": f"{label}.python", "start": start, "end": end,
                "parent": parent, "op": op_of.get(parent), "thread": None, "bytes": nbytes,
            })
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans + self.udf_spans(), key=lambda r: (r["start"], r["id"])):
                f.write(json.dumps(s) + "\n")


# -- analysis ------------------------------------------------------------------
def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_len(covered)
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from a Spark JSON event log."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[tuple[int, int]] = set()
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": (ev.get("Properties") or {}).get(JOB_GROUP),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages_done.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "input_bytes": im.get("Bytes Read", 0),
                            "input_records": im.get("Records Read", 0),
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    for jid, j in jobs.items():
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": jobs, "stage_job": stage_job, "stages_done": stages_done, "tasks": tasks}
