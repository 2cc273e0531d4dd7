"""Per-layer metrics of a traced run, from its spans, its UDF accumulators
and the Spark event log. Per-operation values are means over the
measured operations ("/op" units)."""

from __future__ import annotations

import statistics

from tracing import CATALOG_METHODS, KERNEL_LABELS, read_event_log, self_times, union_len

STAGES = ["ingest", "returns", "factor_model", "factor_cov", "benchmark", "reversal", "betas", "portfolio"]
LAYERS = ["pipelines", "catalog", "accessors", "io", "queries", "kernels", "ts"]
SPARK_SUMS = [
    ("executor_run_s", "run_s", "s/op"),
    ("executor_cpu_s", "cpu_s", "s/op"),
    ("gc_s", "gc_s", "s/op"),
    ("input_bytes", "input_bytes", "B/op"),
    ("input_records", "input_records", "count/op"),
    ("shuffle_read_bytes", "shuffle_read_bytes", "B/op"),
    ("shuffle_write_bytes", "shuffle_write_bytes", "B/op"),
    ("spill_bytes", "spill_bytes", "B/op"),
]


def query_names() -> list[str]:
    import bench

    return bench.HEADLINE + bench.EXTRAS


def per_layer(w, ops, tracer, event_dir, state, session_start_s, p50):
    n_ops = len(ops)
    udf = [s for s in tracer.udf_spans() if s["op"] is not None]
    spans = [s for s in tracer.spans if s["op"] is not None]
    by_id = {s["id"]: s for s in spans}
    # worker-side kernel calls are children of the span whose job ran
    # them, so that span's self time excludes them
    selft = self_times(spans + udf)
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def per_op(x):
        return x / n_ops if n_ops else 0.0

    def named(prefix):
        return [s for s in spans if s["name"] == prefix]

    put("session.start_s", session_start_s, "s")

    # pipeline stages: run_daily's stage_times, or *_flow spans
    for st in STAGES:
        if w.name == "daily_chain":
            v = sum(o["prep"]["stages"].get(st, 0.0) for o in ops if isinstance(o["prep"], dict))
        else:
            v = sum(s["end"] - s["start"] for s in named(f"pipelines.stage.{st}"))
        put(f"pipelines.stage.{st}.s", per_op(v), "s/op")

    # catalog: calls entering the layer, self time of every span
    def outer(s):
        p = by_id.get(s["parent"])
        return p is None or not p["name"].startswith("catalog.")

    for meth in CATALOG_METHODS:
        ss = named(f"catalog.{meth}")
        put(f"catalog.{meth}.calls", per_op(sum(1 for s in ss if outer(s))), "count/op")
        put(f"catalog.{meth}.s", per_op(sum(selft[s["id"]] for s in ss)), "s/op")

    log = read_event_log(event_dir)
    jobs = log["jobs"]
    children: dict[int, list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(f"pb-{x}")
            todo.extend(children.get(x, []))
        return out

    ups = [s for s in named("catalog.upsert") if outer(s)]
    up_jobs = sum(sum(1 for j in jobs.values() if j["group"] in subtree(s["id"])) for s in ups)
    put("catalog.upsert.jobs_per_call", up_jobs / len(ups) if ups else 0.0, "count")
    st = state or {}
    put("catalog.files_on_disk", st.get("files", 0), "count")
    put("catalog.manifest_bytes", st.get("manifest_bytes", 0), "B")
    put("catalog.pending_deltas", st.get("pending_deltas", 0), "count")

    # attribute jobs (and their tasks) to operations by submission time
    op_jobs: dict[int, list[int]] = {i: [] for i in range(n_ops)}
    for jid, j in jobs.items():
        for i, o in enumerate(ops):
            if o["t0"] - 0.001 <= j["start"] <= o["t1"] + 0.001:
                op_jobs[i].append(jid)
                break
    job_of_stage = log["stage_job"]
    op_of_job = {jid: i for i, js in op_jobs.items() for jid in js}
    tasks = [t for t in log["tasks"] if job_of_stage.get(t["stage"]) in op_of_job]

    rows_returned = sum(o.get("rows", 0) for o in ops)
    read_records = sum(t["input_records"] for t in tasks)
    put(
        "catalog.read.rows_scanned_per_row_returned",
        read_records / rows_returned if w.name == "research_reads" and rows_returned else 0.0,
        "ratio",
    )

    # Python-worker seconds inside the grouped-map UDFs (summed over
    # tasks), by the kernel that built them, and the wall time during
    # which the calling spans waited on them
    py_s = {k: sum(u["end"] - u["start"] for u in udf if u["name"] == f"{k}.python") for k in KERNEL_LABELS}
    for k in KERNEL_LABELS:
        put(f"{k}.python_s", per_op(py_s[k]), "s/op")
    put("kernels.bytes_to_python", per_op(sum(u["bytes"] for u in udf)), "B/op")

    def udf_wall(prefix):
        by_parent: dict = {}
        for u in udf:
            if u["name"].startswith(prefix):
                by_parent.setdefault(u["parent"], []).append((u["start"], u["end"]))
        return sum(union_len(iv) for iv in by_parent.values())

    lt = named("io.load_table")
    put("io.load_table.calls", per_op(len(lt)), "count/op")
    put("io.load_table.s", per_op(sum(selft[s["id"]] for s in lt)), "s/op")
    put("queries.build_s", per_op(sum(s["end"] - s["start"] for s in named("queries.build"))), "s/op")
    put("queries.action_s", per_op(sum(s["end"] - s["start"] for s in named("queries.action"))), "s/op")
    for q in query_names():
        lats = [o["latency"] for o in ops if o["prep"] == q]
        put(f"query.{q}.s", statistics.median(lats) if lats else 0.0, "s")

    # Spark work per operation, and the part of each operation's wall
    # during which no Spark job was running
    stages_done = {sid for sid, _ in log["stages_done"]}
    put("spark.jobs", per_op(len(op_of_job)), "count/op")
    put(
        "spark.stages",
        per_op(sum(1 for sid in stages_done if job_of_stage.get(sid) in op_of_job)),
        "count/op",
    )
    put("spark.tasks", per_op(len(tasks)), "count/op")
    put("spark.tasks_failed", per_op(sum(1 for t in tasks if t["failed"])), "count/op")
    for name, key, unit in SPARK_SUMS:
        put(f"spark.{name}", per_op(sum(t[key] for t in tasks)), unit)
    no_job = 0.0
    for i, o in enumerate(ops):
        iv = [
            (max(jobs[j]["start"], o["t0"]), min(jobs[j]["end"], o["t1"]))
            for j in op_jobs[i]
        ]
        no_job += (o["t1"] - o["t0"]) - union_len([x for x in iv if x[1] > x[0]])
    put("driver.no_job_s", per_op(no_job), "s/op")

    # one self time per layer, all wall seconds: kernels and ts add the
    # wall their worker-side calls held up the calling spans
    layer = {
        "pipelines": sum(selft[s["id"]] for s in spans if s["name"] == "op" or s["name"].startswith("pipelines."))
        if w.name in ("daily_chain", "backfill_history") else 0.0,
        "catalog": sum(selft[s["id"]] for s in spans if s["name"].startswith("catalog.")),
        "accessors": sum(selft[s["id"]] for s in spans if s["name"].startswith("accessors.")),
        "io": sum(selft[s["id"]] for s in lt),
        "queries": sum(selft[s["id"]] for s in spans if s["name"].startswith("queries.")),
        "kernels": udf_wall("kernels.") + sum(selft[s["id"]] for s in spans if s["name"].startswith("kernels.")),
        "ts": udf_wall("ts.") + sum(selft[s["id"]] for s in spans if s["name"].startswith("ts.")),
    }
    for k in LAYERS:
        put(f"layer.{k}.s", per_op(layer[k]), "s/op")
    put("trace.op_p50_s", p50, "s")

    top = max(LAYERS, key=lambda k: layer[k])
    extra = {"dominant_layer": top, "spark_jobs_seen": len(jobs)}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, extra
