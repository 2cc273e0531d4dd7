"""Benchmark harness: one workload, one seed, one measured phase.

    python3 perfbench/run.py --workload daily_chain --seed 1 --seconds 10 --trace 0

Prints every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``) by name with its unit, then, as the last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Run from the
root of a checkout of the repository; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("op_cpu_s", "s"),
    ("work_per_s", "1/s"),
    ("lake_bytes_per_user_byte", "ratio"),
    ("peak_rss_mb", "MB"),
]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree() -> list[int]:
    """This process and every descendant (JVM, Python workers)."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb() -> float:
    """Summed RSS of the process tree."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used, with those
    of the children each process has reaped (short-lived workers)."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb())


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples). Under 11 samples: the slowest one."""
    xs = sorted(latencies)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def cpu_steal_s() -> float:
    """Seconds the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


class Ctx:
    def __init__(self, args, work, spark, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.cpus = len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    args = parse_args(argv)
    t_setup = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "at_data_pipelines_spark")):
        print(f"perfbench: no at_data_pipelines_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout;
    # workers import the package from it
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    )
    try:
        return _run(args, WORKLOADS[args.workload], work, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload_cls, work, t_setup) -> int:
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    from workloads import lake_state, tree_bytes
    import at_data_pipelines_spark.queries  # noqa: F401  (loaded before tracing patches)
    from at_data_pipelines_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload_cls.name}", cpus=cpus, extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    proc = spark.sparkContext._gateway.proc
    tracer = None
    try:
        spark.range(1).count()
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install(flow_stages=workload_cls.flow_stage_spans)
        w = workload_cls(Ctx(args, work, spark, tracer))
        w.setup()
        setup_s = time.perf_counter() - t_setup

        ops: list[dict] = []
        steal0 = cpu_steal_s()
        with RssSampler() as rss:
            loop_start = time.perf_counter()
            while not w.done(time.perf_counter() - loop_start, len(ops)):
                prep = w.prepare(len(ops))
                if prep is None:
                    break
                op = {"prep": prep, "ok": None, "work": 0}
                cpu0 = tree_cpu_s()
                op["t0"] = time.time()
                t = time.perf_counter()
                try:
                    if tracer:
                        with tracer.operation(len(ops)):
                            out = w.run(prep)
                    else:
                        out = w.run(prep)
                except Exception as e:  # one failed operation, not a failed run
                    out = None
                    op["ok"] = False
                    op["error"] = f"{type(e).__name__}: {e}"
                op["latency"] = time.perf_counter() - t
                op["t1"] = time.time()
                op["cpu_s"] = tree_cpu_s() - cpu0
                if out is not None:
                    op["work"] = out["work"]
                    op["rows"] = out.get("rows", 0)
                    op["ok"] = w.check(prep, out)
                ops.append(op)
                if len(ops) == 1:
                    # what the system stores after one operation: a fixed
                    # point, so the ratio does not depend on how many
                    # operations the host let the run finish
                    stored = tree_bytes(w.storage_root())[0]
            loop_s = time.perf_counter() - loop_start
        w.check_all(ops)
        w.finish()

        attempted = len(ops)
        failed = sum(1 for o in ops if not o["ok"])
        lats = [o["latency"] for o in ops]
        p50 = statistics.median(lats)
        tail_v, tail_pct, n = tail(lats)
        state = lake_state(w.lake) if w.lake is not None else None
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_cpu_s": statistics.median(o["cpu_s"] for o in ops),
            "work_per_s": sum(o["work"] for o in ops) / loop_s,
            "lake_bytes_per_user_byte": stored / w.user_bytes(ops[:1]),
            "peak_rss_mb": rss.peak,
        }
        info = {
            "workload": w.name,
            "seed": args.seed,
            "work_unit": w.work_unit,
            # a tail over a run's few operations is too unsteady to bound:
            # printed, not carried in the result
            "op_tail_s": f"{tail_v:.6g}",
            "op_tail_percentile": round(tail_pct, 1),
            "op_samples": n,
            "failed_op_ratio": failed / attempted if attempted else 0.0,
            "cpu_steal_s": round(cpu_steal_s() - steal0, 2),
            "setup_phases": {"session": round(session_start_s, 2), **w.setup_phases},
            "errors": sorted({o["error"] for o in ops if "error" in o})[:5],
        }
        if tracer:
            spark.stop()
            from layers import per_layer

            metrics, extra = per_layer(w, ops, tracer, event_dir, state, session_start_s, p50)
            info.update(extra)
            spans_path = os.path.join(ROOT, ".perfbench", "spans", f"{w.name}-seed{args.seed}.jsonl")
            tracer.write(spans_path)
            info["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    finally:
        _stop(spark, proc)

    for k, v in info.items():
        print(f"# {k}: {v}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    if args.trace:
        # the result carries the per-layer metrics BENCHMARK.json lists;
        # the ones that read 0 on its workloads are printed above only
        metrics = {k: metrics[k] for k in listed_per_layer()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def listed_per_layer() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def _stop(spark, proc) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    try:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
    finally:
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
