"""Scale-ladder harness: measure how the dedup/ANN queries grow with
corpus size (the 100 TB extrapolation evidence SCALING.md cites).

Generates sf0.5 and sf1.0 corpora from the driver's sf0.1
documents/embeddings by STRUCTURE-PRESERVING replication:

- documents: replica ``r`` remaps ``doc_id += r·10⁷`` and prefixes every
  token with ``r{r}·`` — a bijection on tokens, so every within-replica
  shingle/Jaccard/SimHash relationship is preserved EXACTLY, while
  replicas share zero shingles with each other. Near-dup pair counts
  therefore scale linearly with corpus size (k·pairs at k× docs), which
  is what makes the measured growth attributable to the algorithm, not
  to artificial cross-replica duplicate structure (naive copying would
  add k² near-dup pairs and measure the wrong thing).
- embeddings: replica ``r`` remaps ``vec_id`` and applies a seeded
  dimension permutation — orthogonal, so all within-replica cosines are
  exact; cross-replica vectors land at background similarity.

Usage: ``python scale_ladder.py [--runs 2]`` → one JSON line with
per-query wall times at each SF and fitted growth exponents
(log-log slope between successive SFs). Writes generated corpora under
$SPARK_GRAFT_SCALE_DIR (default /tmp/scale).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

LADDER_QUERIES = [
    "q40_exact_dedup",
    "q45_minhash_lsh_candidates",
    "q46_jaccard_near_dups",
    "q47_simhash32",
    "q48_cosine_top5",
    # r10: exact substring dedup — the replicated ladder corpus is the
    # worst case (every 8-gram duplicated k times), so this rung bounds
    # the operator's cost when dup density -> 100%
    "q73_dup_ngram_spans",
]

BASE_SF = 0.1
REPLICA_STRIDE = 10_000_000

# the SAME pinned control job bench.py interleaves (r12 verdict task:
# the r12 ladder's q48 sf0.5 rung read 34.6 s vs 2.01 s isolated — a GC
# spike min-of-2 couldn't absorb, and without an in-JSON control the
# ladder couldn't self-adjudicate the way bench.py now can). One import,
# one definition — the control's code must never drift between harnesses.
from bench import _control_stats, _pinned_control  # noqa: E402


def _section_control(spark, out: dict, section: str, n: int = 3) -> None:
    """Record a per-section pinned-control reading into the ladder JSON.
    Reading rung drift against it: a rung that grew round-over-round
    while its section control grew the same way is session noise; a
    rung that grew against a flat control is a real regression. The
    first call pays the control's own codegen warm-up (discarded)."""
    if "section_controls" not in out:
        _pinned_control(spark)  # one-time warm-up, not recorded
    out.setdefault("section_controls", {})[section] = _control_stats(
        [_pinned_control(spark) for _ in range(n)]
    )


def generate_scaled(base_dir: str, out_dir: str, k: int) -> None:
    """Write documents.parquet / embeddings.parquet with k replicas."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)

    docs = pq.read_table(f"{base_dir}/documents.parquet")
    parts = []
    for r in range(k):
        t = docs
        ids = pc.add(t.column("doc_id"), r * REPLICA_STRIDE)
        # prefix every token: bijection on the vocabulary per replica
        text = pc.replace_substring_regex(t.column("text"), r"(\S+)", rf"r{r}·\1")
        t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", ids)
        t = t.set_column(t.schema.get_field_index("text"), "text", text)
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/documents.parquet")

    emb = pq.read_table(f"{base_dir}/embeddings.parquet")
    vec = np.stack([np.asarray(v, dtype=np.float32) for v in emb.column("embedding").to_pylist()])
    ids = np.asarray(emb.column("vec_id").to_pylist(), dtype=np.int64)
    labels = np.asarray(emb.column("label").to_pylist())
    out_ids, out_vecs, out_labels = [], [], []
    for r in range(k):
        perm = np.random.default_rng(1000 + r).permutation(vec.shape[1])
        out_ids.append(ids + r * REPLICA_STRIDE)
        out_vecs.append(vec[:, perm])
        out_labels.append(labels)
    allv = np.concatenate(out_vecs)
    table = pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_ids)),
            "embedding": pa.array(list(allv), type=pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(out_labels)),
        }
    )
    pq.write_table(table, f"{out_dir}/embeddings.parquet")


def measure_zone_scan(spark, gens: int, rows_per_gen: int = 20_000) -> dict:
    """Zone-map file-skipping at a growing table: ``gens`` generations of
    ``rows_per_gen`` rows with strictly increasing keys (so generations
    are disjoint in key space — the shape of any append-mostly fact
    table), then ONE selective 5k-key range probed two ways: the
    zone-map ``scan`` (manifest prunes to the matching generation) vs
    the full ``table().filter`` (reads everything, filters in tasks).
    The claim under test: scan cost stays ~flat as the table grows,
    full-filter cost grows with the table."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    lake = Lakehouse(spark, tempfile.mkdtemp(prefix=f"zonescale_{gens}_"))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], ["k", "part"], stats_columns=["k"])
    for g in range(gens):
        df = spark.range(g * rows_per_gen, (g + 1) * rows_per_gen).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("part"),
            (F.col("id") * 0.5).alias("v"),
        )
        lake.insert("t", df)
    mid = gens * rows_per_gen // 2
    where = {"k": (mid, mid + 5_000)}
    out: dict = {"gens": gens, "rows": gens * rows_per_gen}
    for tag, make in (
        ("scan", lambda: lake.scan("t", where=where)),
        (
            "full_filter",
            lambda: lake.table("t").filter(
                (F.col("k") >= where["k"][0]) & (F.col("k") <= where["k"][1])
            ),
        ),
    ):
        samples, n = [], 0
        for _ in range(3):
            t0 = time.perf_counter()
            n = make().count()
            samples.append(time.perf_counter() - t0)
        out[f"{tag}_s"] = round(min(samples), 3)
        out[f"{tag}_files"] = len(make().inputFiles())
        out[f"{tag}_rows"] = n
    return out


def measure_bloom_skip(spark, gens: int, rows_per_gen: int = 20_000) -> dict:
    """Bloom data skipping (r10) at a growing table: ``gens`` generations
    of hash-like string ids — the shape where min/max zone maps are
    USELESS (every generation's [min, max] box spans the whole id
    space), which is exactly the high-cardinality point-lookup gap the
    per-leaf membership filters close. One point lookup probed three
    ways: bloom ``scan`` (manifest prunes to ~FPR of the leaves), a
    zone-map-only scan on the same predicate (prunes nothing — the
    control), and the full ``table().filter``. Claim: bloom files
    opened stays ~flat (≈1 + FPR·gens) as the table grows; both
    controls read everything."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    lake = Lakehouse(spark, tempfile.mkdtemp(prefix=f"bloomskip_{gens}_"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    # r11: no hand-sized m — the production path auto-sizes each leaf
    # from its actual value count at the default ~1% FPR target (r10
    # rungs passed an explicit m ≈ 9.6·n; a user who forgot that knob
    # got a saturated 4096-bit filter and no pruning). The rung now
    # exercises exactly what a default create gives.
    lake.create("t", schema, [], [], bloom_columns=["doc_id"])
    lake.create("ctrl", schema, [], [], stats_columns=["doc_id"])
    for g in range(gens):
        df = spark.range(g * rows_per_gen, (g + 1) * rows_per_gen).select(
            F.md5(F.col("id").cast("string")).alias("doc_id"),
            (F.col("id") * 0.5).alias("v"),
        )
        lake.insert("t", df, mode="append")
        lake.insert("ctrl", df, mode="append")
    import hashlib

    probe = hashlib.md5(str(gens * rows_per_gen // 2).encode()).hexdigest()
    auto_ms = sorted(
        {
            int(s["doc_id#bloom"][0])
            for s in lake._load_meta("t").zone_maps.values()
            if "doc_id#bloom" in s
        }
    )
    out: dict = {
        "gens": gens,
        "rows": gens * rows_per_gen,
        "auto_m_bits": auto_ms,
    }
    for tag, make in (
        ("bloom_scan", lambda: lake.scan("t", where={"doc_id": probe})),
        ("zone_scan_ctrl", lambda: lake.scan("ctrl", where={"doc_id": probe})),
        (
            "full_filter",
            lambda: lake.table("t").filter(F.col("doc_id") == probe),
        ),
    ):
        samples, n = [], 0
        for _ in range(3):
            t0 = time.perf_counter()
            n = make().count()
            samples.append(time.perf_counter() - t0)
        out[f"{tag}_s"] = round(min(samples), 3)
        out[f"{tag}_files"] = len(make().inputFiles())
        out[f"{tag}_rows"] = n
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--only",
        default="",
        help="comma list restricting the queries section to these LADDER_QUERIES names",
    )
    ap.add_argument(
        "--sections",
        default="all",
        help=(
            "comma list of {queries,persist,ann_stream,zone,bloomskip,"
            "manifest,coldparse,objstore,dvdelete,dvrange,"
            "inventory,contention,contention_wide,compaction} (default all)"
        ),
    )
    args = ap.parse_args()
    sections = (
        {
            "queries",
            "persist",
            "ann_stream",
            "zone",
            "bloomskip",
            "manifest",
            "coldparse",
            "objstore",
            "dvdelete",
            "dvrange",
            "inventory",
            "contention",
            "contention_wide",
            "compaction",
        }
        if args.sections == "all"
        else set(args.sections.split(","))
    )

    from at_data_pipelines_spark.llmops.dedup import release_shingle_caches
    from at_data_pipelines_spark.queries import QUERIES
    from at_data_pipelines_spark.session import get_spark

    scale_root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scale")
    ladder = [(0.1, 1), (0.5, 5), (1.0, 10)]
    dirs = {}
    if sections & {"queries", "persist", "ann_stream"}:
        for sf, k in ladder:
            if k == 1:
                dirs[sf] = args.base
                continue
            d = f"{scale_root}/sf{sf}"
            if not (
                os.path.exists(f"{d}/documents.parquet")
                and os.path.exists(f"{d}/embeddings.parquet")
            ):
                generate_scaled(args.base, d, k)
            dirs[sf] = d

    spark = get_spark(app_name="scale_ladder")
    out: dict = {}

    def q46_persist(spark_, sf_dir):
        """q46 under the persist_shingles strategy (the documented
        large-corpus opt-in): one cached ranked-shingle materialization
        feeds candidate generation and both verify sides."""
        from at_data_pipelines_spark.io import load_table
        from at_data_pipelines_spark.llmops.dedup import jaccard_pairs

        d = load_table(spark_, sf_dir, "documents")
        return jaccard_pairs(
            d, "text", "doc_id", threshold=0.6, shingle_n=3, persist_shingles=True
        )

    import math

    results: dict[str, dict[str, float]] = {}
    exponents: dict[str, dict[str, float]] = {}

    def _measure_rungs(q: str, fn, rungs) -> None:
        """ONE measurement + exponent protocol for every ladder entry
        (the per-query copy of this loop had started to drift — r6
        review): min-of-runs per rung, shingle caches released between,
        log-log segment slopes recorded. r13: heavy rungs (sf >= 0.5)
        run at least 3 samples — min-of-2 failed to absorb a GC/codegen
        spike at r12 — and every rung records an interleaved pinned-
        control reading so a spiked rung self-adjudicates in-JSON."""
        results[q] = {}
        for sf, _k in rungs:
            results[q].setdefault("control", {})[str(sf)] = round(
                _pinned_control(spark), 3
            )
            n_runs = args.runs if sf < 0.5 else max(args.runs, 3)
            samples = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                n = fn(spark, dirs[sf]).count()
                samples.append(time.perf_counter() - t0)
            release_shingle_caches()
            results[q][str(sf)] = round(min(samples), 3)
            results[q].setdefault("rows", {})[str(sf)] = n  # type: ignore[arg-type]
        segs = {}
        for (sf_a, _), (sf_b, _) in zip(rungs, rungs[1:]):
            ta, tb = results[q][str(sf_a)], results[q][str(sf_b)]
            segs[f"{sf_a}->{sf_b}"] = round(
                math.log(tb / ta) / math.log(sf_b / sf_a), 2
            )
        exponents[q] = segs

    if "queries" in sections:
        _section_control(spark, out, "queries")
        callables = {q: QUERIES[q] for q in LADDER_QUERIES}
        if args.only:
            keep = set(args.only.split(","))
            unknown = keep - set(callables)
            if unknown:  # a typo must error, not silently measure nothing
                ap.error(
                    f"--only names not in the ladder: {sorted(unknown)} "
                    f"(known: {sorted(callables)})"
                )
            callables = {q: fn for q, fn in callables.items() if q in keep}
        for q, fn in callables.items():
            _measure_rungs(q, fn, ladder)

    if "persist" in sections:
        # q46-persist rides one rung HIGHER (sf2.0) than the main ladder:
        # the persist strategy is the documented large-corpus opt-in, so
        # its exponent at the top of the ladder is the number that matters
        ladder_p = ladder + [(2.0, 20)]
        d2 = f"{scale_root}/sf2.0"
        if not (
            os.path.exists(f"{d2}/documents.parquet")
            and os.path.exists(f"{d2}/embeddings.parquet")
        ):
            generate_scaled(args.base, d2, 20)
        dirs[2.0] = d2
        _section_control(spark, out, "persist")
        _measure_rungs("q46_jaccard_persist", q46_persist, ladder_p)

    if results:
        out["times_s"] = results
        out["growth_exponents"] = exponents

    if "ann_stream" in sections:
        _section_control(spark, out, "ann_stream")
        out["ann_maintenance_stream"] = {
            f"index_{tag}": measure_ann_stream(spark, dirs[sf], compact_every)
            for tag, sf, compact_every in [
                ("2k_upsert", 0.1, 1),
                ("20k_upsert", 1.0, 1),
                ("2k_lsm10", 0.1, 10),
                ("20k_lsm10", 1.0, 10),
            ]
        }

    if "zone" in sections:
        _section_control(spark, out, "zone")
        out["zone_scan"] = {
            str(g): measure_zone_scan(spark, g) for g in (5, 25, 50)
        }

    if "bloomskip" in sections:
        _section_control(spark, out, "bloomskip")
        out["bloom_skip"] = {
            str(g): measure_bloom_skip(spark, g) for g in (10, 50)
        }

    if "manifest" in sections:
        _section_control(spark, out, "manifest")
        out["manifest_loads"] = {
            tag: measure_manifest_loads(spark, n)
            for tag, n in [("200_commits", 200), ("20k_commits", 20_000)]
        }

    if "coldparse" in sections:
        _section_control(spark, out, "coldparse")
        out["cold_parse"] = {
            tag: measure_cold_parse(spark, n)
            for tag, n in [("100k_entries", 100_000), ("1M_entries", 1_000_000)]
        }

    if "objstore" in sections:
        _section_control(spark, out, "objstore")
        out["checkpoint_objstore"] = {
            tag: measure_checkpoint_objstore(spark, n)
            for tag, n in [("100k_entries", 100_000), ("1M_entries", 1_000_000)]
        }

    if "dvdelete" in sections:
        _section_control(spark, out, "dvdelete")
        out["dv_delete"] = {
            f"{n}_rows": measure_dv_delete(spark, n)
            for n in (500_000, 4_000_000)
        }
        out["dv_sidecar_read"] = {
            f"{n}_rows": measure_dv_sidecar_read(spark, n, 1_000_000)
            for n in (4_000_000, 16_000_000)
        }

    if "dvrange" in sections:
        _section_control(spark, out, "dvrange")
        out["dv_range_consolidated"] = {
            f"{n}_files": measure_dv_range_consolidated(spark, n)
            for n in (32, 128)
        }
        # 512 single-file dirs — 2x the LIST budget. r15 needed
        # stats_columns (z-order per-file zone keys) for the manifest
        # inventory; r16 records the inventory at write time for EVERY
        # table, so the PLAIN arm must now also split with zero
        # list_dir calls (each rung reports cold_plan_list_dir_calls)
        out["dv_range_consolidated"]["512_files_inventory"] = (
            measure_dv_range_consolidated(spark, 512, stats=True)
        )
        out["dv_range_consolidated"]["512_files_nostats"] = (
            measure_dv_range_consolidated(spark, 512)
        )
        # r16 (r15 verdict task #3): 64 encoding-UNSAFE rels — r15
        # would give 32 of them single-file scans and anti-join the
        # rest; now all 64 ride the consolidated tree via per-file
        # qualified_uri literals
        out["dv_range_consolidated"]["64_files_hostile"] = (
            measure_dv_range_consolidated(spark, 64, hostile=True)
        )
        out["pruned_plan_memo"] = measure_plan_memo_pruned(spark)
        # r16: the runs-cap boundary re-mapped under the consolidated
        # scan — at the cap (16 runs/file) the budgeted scan must be
        # at-or-below the r15 fixed-32-leaf plan; past the cap
        # (256 runs/file, cap lifted by monkeypatch) the join must win,
        # which is the measurement that keeps _DV_RANGE_MAX_RUNS at 16
        out["dv_runs_crossover"] = {
            "at_cap_16": measure_dv_runs_crossover(spark, 16),
            "past_cap_256": measure_dv_runs_crossover(
                spark, 256, past_cap=True
            ),
        }

    if "inventory" in sections:
        _section_control(spark, out, "inventory")
        out["inventory_overhead"] = measure_inventory_overhead(spark)

    if "contention" in sections:
        _section_control(spark, out, "contention")
        out["commit_contention"] = {
            f"{w}_writers": measure_commit_contention(spark, w)
            for w in (1, 2, 8)
        }

    if "contention_wide" in sections:
        _section_control(spark, out, "contention_wide")
        # r11 rung (verdict task #5): burst widths plausible when many
        # tasks of a 1000-executor job commit to one table. Fewer commits
        # per writer keeps total commits comparable to the 8-writer rung.
        out["commit_contention_wide"] = {
            f"{w}_writers": measure_commit_contention(spark, w, commits_each=5)
            for w in (16, 32)
        }

    if "compaction" in sections:
        _section_control(spark, out, "compaction")
        out["compact"] = {
            f"{b}_base_parts": measure_compact(spark, b)
            for b in (64, 512)
        }
        out["compact_under_ingest"] = measure_compact_under_ingest(spark)

    print(json.dumps(out))
    spark.stop()


def measure_manifest_loads(spark, n_commits: int) -> dict:
    """r9 ladder rung (the r8 task-#3 'done' criterion): manifest-load
    wall must be FLAT vs TOTAL historical commits on a log-mode table.
    The design claims: ``_log/`` stays O(checkpoint window) because
    segments relocate to ``_history/segments/`` past each checkpoint,
    a cold load is one checkpoint parse + O(window) segment folds, and
    a warm (per-handle cached) load is one LIST + one fence-segment
    life check — none of which grow with commit count. Protocol: drive
    n metadata-only commits (each one a full log-protocol commit:
    segment write, cadence checkpoint, relocation) over a table with a
    realistic 64-partition fold, then time cold-handle and warm-handle
    ``_load_meta`` and the LIST length."""
    import tempfile
    import time as _time

    import pyspark.sql.functions as F

    from at_data_pipelines_spark.catalog import Lakehouse
    from pyspark.sql import types as T

    work = tempfile.mkdtemp(prefix=f"manifest_{n_commits}_")
    orig = Lakehouse._LOG_SEGMENT_THRESHOLD
    Lakehouse._LOG_SEGMENT_THRESHOLD = 0  # log mode from the first commit
    try:
        lake = Lakehouse(spark, f"{work}/lake")
        schema = T.StructType(
            [T.StructField("k", T.LongType()), T.StructField("p", T.LongType())]
        )
        lake.create("t", schema, ["p"], ["k"])
        lake.insert(
            "t",
            spark.range(20_000).select(
                F.col("id").alias("k"), (F.col("id") % 64).alias("p")
            ),
        )
        t0 = _time.perf_counter()
        for i in range(n_commits):
            meta = lake._load_meta("t")
            meta.properties["tick"] = str(i)
            lake._commit_meta(meta, None, action="tick")
        commit_wall = _time.perf_counter() - t0
        warm = []
        for _ in range(7):
            t0 = _time.perf_counter()
            lake._load_meta("t")
            warm.append(_time.perf_counter() - t0)
        cold = []
        for _ in range(5):
            t0 = _time.perf_counter()
            Lakehouse(spark, lake.root)._load_meta("t")
            cold.append(_time.perf_counter() - t0)
        return {
            "total_commits": n_commits,
            "live_log_segments": len(lake._log_segments("t")),
            "per_commit_s": round(commit_wall / n_commits, 5),
            "warm_load_s_min": round(min(warm), 5),
            "warm_load_s_median": round(sorted(warm)[len(warm) // 2], 5),
            "cold_load_s_min": round(min(cold), 5),
            "cold_load_s_median": round(sorted(cold)[len(cold) // 2], 5),
        }
    finally:
        Lakehouse._LOG_SEGMENT_THRESHOLD = orig


def measure_cold_parse(spark, n_entries: int) -> dict:
    """r10 rung (the carried r8-task-#6 cold-parse boundary): a fresh
    handle's first load of a huge checkpoint. The inline shape parses
    one JSON blob single-threaded (r8 measured ~0.3 s/16 MB at 100k
    entries, ~9 s/156 MB at 1M); the r10 columnar shape reads a small
    JSON pointer plus a zstd parquet sidecar decoded by Arrow's
    multithreaded reader. Protocol: synthesize a manifest with
    n_entries/2 committed pointers + n_entries/2 zone-map entries
    (realistic key shapes, two stat columns), _save_meta it under each
    format, and time fresh-handle _load_meta."""
    import tempfile
    import time as _time

    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    work = tempfile.mkdtemp(prefix=f"coldparse_{n_entries}_")
    lake = Lakehouse(spark, f"{work}/lake")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t", schema, [], [])
    meta = lake._load_meta("t")
    half = n_entries // 2
    meta.committed = {f"p={i // 4}/q={i % 4}": i for i in range(half)}
    meta.zone_maps = {
        f"_seq={i}/p={i // 4}/q={i % 4}": {
            "k": [i * 10, i * 10 + 9],
            "v": [float(i), float(i) + 0.5],
        }
        for i in range(half)
    }
    out: dict = {"entries": n_entries}
    orig = Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES
    try:
        for shape, threshold in (("inline_json", 0), ("columnar", 1)):
            Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = threshold
            t0 = _time.perf_counter()
            lake._save_meta(meta)
            save_s = _time.perf_counter() - t0
            files = dict(lake.fs.list_files(lake._dir("t")))
            size = files.get("_bl_meta.json", 0) + sum(
                s for n, s in files.items() if n.startswith("_bl_meta.entries-")
            )
            walls = []
            for _ in range(5):
                fresh = Lakehouse(spark, lake.root)
                t0 = _time.perf_counter()
                fresh._load_meta("t")
                walls.append(_time.perf_counter() - t0)
            out[shape] = {
                "checkpoint_bytes": size,
                "save_s": round(save_s, 3),
                "cold_load_s_min": round(min(walls), 3),
                "cold_load_s_median": round(sorted(walls)[len(walls) // 2], 3),
            }
    finally:
        Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = orig
    return out


class _SimStoreFS:
    """Object-store simulator (r10 verdict task #4): wraps a Lakehouse
    handle's ``_HadoopFS``, charging every metadata request a fixed
    round-trip latency plus transferred-bytes/bandwidth — the cost model
    of an S3-style store, without needing a real bucket. Only the ops the
    checkpoint path touches are intercepted; everything else delegates."""

    def __init__(self, inner, per_op_s: float, bytes_per_s: float):
        self._inner = inner
        self._per_op_s = per_op_s
        self._bytes_per_s = bytes_per_s
        self.charged_s = 0.0  # simulated store time (also slept)

    def _pay(self, nbytes: int = 0) -> None:
        import time as _time

        cost = self._per_op_s + nbytes / self._bytes_per_s
        self.charged_s += cost
        _time.sleep(cost)

    def read_bytes(self, p: str) -> bytes:
        data = self._inner.read_bytes(p)
        self._pay(len(data))
        return data

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def write_bytes(self, p: str, data: bytes) -> None:
        self._pay(len(data))
        self._inner.write_bytes(p, data)

    def write_text(self, p: str, text: str) -> None:
        self.write_bytes(p, text.encode("utf-8"))

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        self._pay(len(data))
        self._inner.write_bytes_atomic(p, data)

    def write_text_atomic(self, p: str, text: str) -> None:
        self.write_bytes_atomic(p, text.encode("utf-8"))

    def list_files(self, p: str):
        self._pay()
        return self._inner.list_files(p)

    def exists(self, p: str) -> bool:
        self._pay()
        return self._inner.exists(p)

    def delete(self, p: str) -> None:
        self._pay()
        self._inner.delete(p)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def measure_checkpoint_objstore(
    spark, n_entries: int, per_op_ms: float = 50.0
) -> dict:
    """r11 rung (verdict task #4): the columnar-checkpoint flag's stated
    use case — byte-bound object stores — measured instead of argued.
    Same synthetic manifest as measure_cold_parse; each shape's save and
    fresh-handle cold load run with the handle's fs wrapped in
    _SimStoreFS at several bandwidths (per-request RTT fixed at
    ``per_op_ms``). The crossover bandwidth below which columnar's 13×
    smaller GET beats inline JSON's faster decode is the decision
    input."""
    import tempfile
    import time as _time

    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    work = tempfile.mkdtemp(prefix=f"objstore_{n_entries}_")
    lake = Lakehouse(spark, f"{work}/lake")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t", schema, [], [])
    meta = lake._load_meta("t")
    half = n_entries // 2
    meta.committed = {f"p={i // 4}/q={i % 4}": i for i in range(half)}
    meta.zone_maps = {
        f"_seq={i}/p={i // 4}/q={i % 4}": {
            "k": [i * 10, i * 10 + 9],
            "v": [float(i), float(i) + 0.5],
        }
        for i in range(half)
    }
    out: dict = {"entries": n_entries, "per_op_ms": per_op_ms}
    orig = Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES
    real_fs = lake.fs
    try:
        for mbps in (25, 50, 100):
            bw = mbps * 1_000_000.0
            row: dict = {}
            for shape, threshold in (("inline_json", 0), ("columnar", 1)):
                Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = threshold
                lake.fs = _SimStoreFS(real_fs, per_op_ms / 1000.0, bw)
                t0 = _time.perf_counter()
                lake._save_meta(meta)
                save_s = _time.perf_counter() - t0
                lake.fs = real_fs
                walls = []
                for _ in range(3):
                    fresh = Lakehouse(spark, lake.root)
                    fresh.fs = _SimStoreFS(fresh.fs, per_op_ms / 1000.0, bw)
                    t0 = _time.perf_counter()
                    fresh._load_meta("t")
                    walls.append(_time.perf_counter() - t0)
                row[shape] = {
                    "save_s": round(save_s, 3),
                    "cold_load_s_min": round(min(walls), 3),
                }
            out[f"{mbps}_MBps"] = row
    finally:
        Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = orig
        lake.fs = real_fs
    return out


def measure_dv_delete(spark, rows: int, n_delete: int = 100) -> dict:
    """r11 rung: deletion vectors vs partition rewrite for a small
    targeted delete (the GDPR-erasure shape: ~100 rows out of millions).
    Build two identical partitioned tables, delete the same scattered
    keys from each — mode='dv' (one metadata PUT) vs mode='rewrite'
    (rewrites every affected partition) — and read both back. Claims:
    dv-delete wall is ~flat in table size, rewrite wall grows with the
    affected partitions; the post-delete read pays only a broadcast
    anti-join."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    work = tempfile.mkdtemp(prefix=f"dvdel_{rows}_")
    out: dict = {"rows": rows, "n_delete": n_delete}
    # scattered keys: one hit in every partition, spread across the range
    step = rows // n_delete
    keys = [i * step + 7 for i in range(n_delete)]
    for mode in ("dv", "rewrite"):
        lake = Lakehouse(spark, f"{work}/{mode}")
        lake.create("t", schema, ["part"], [])
        lake.insert(
            "t",
            spark.range(rows).select(
                F.col("id").alias("k"),
                (F.col("id") % 8).cast("int").alias("part"),
                (F.col("id") * 0.5).alias("v"),
            ),
        )
        lake.table("t").count()  # warm the scan
        t0 = _time.perf_counter()
        lake.delete_where("t", F.col("k").isin(keys), mode=mode)
        delete_s = _time.perf_counter() - t0
        reads = []
        for _ in range(3):
            t0 = _time.perf_counter()
            n = lake.table("t").count()
            reads.append(_time.perf_counter() - t0)
        assert n == rows - n_delete, (mode, n)
        out[mode] = {
            "delete_s": round(delete_s, 3),
            "read_s_min": round(min(reads), 3),
        }
    return out


def measure_dv_sidecar_read(spark, rows: int, n_delete: int) -> dict:
    """r12 rung (r11 verdict task #3): with the 100k manifest-inline cap
    lifted by parquet SIDECARS, a table can carry ~1M vectored positions
    — the claim under test is that the read overhead is a FIXED
    per-query cost (building + broadcasting the ≤1M-position build
    side, bounded by the cap by construction), NOT a cost that grows
    with the table: the section runs this at two table sizes and the
    absolute overhead (masked read − unmasked read) must stay ~equal
    while the table quadruples. Protocol per size: one partitioned
    table, read it warm, vector-delete n_delete scattered rows in ONE
    call (forced through the sidecar path: n_delete >> inline cap),
    read again — report the delete wall, both read walls, and the
    absolute/relative overhead. Also asserts the positions really
    landed in a sidecar (the inline dict must stay empty)."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    work = tempfile.mkdtemp(prefix=f"dvside_{rows}_")
    out: dict = {"rows": rows}
    n_parts = 32
    # two delete shapes per size: CONCENTRATED (all positions in 4 of
    # 32 partitions — the realistic GDPR/correction footprint; the
    # confined read masks 1/8 of the table and the rest keeps plain
    # codegen) and SCATTERED (positions in every partition — the honest
    # worst case where confinement cannot help and every probe row pays
    # the join). A real aggregate (sum/avg) is the workload, not
    # count() — parquet count() reads only footers and would overstate
    # the relative overhead ~10x.
    # hash-based row picks: a modulo on k would correlate with the
    # partition key (part = k % 32) and silently concentrate the
    # "scattered" shape into a few partitions (first-run bug, caught by
    # the masked_partitions field this rung reports)
    # moduli aim ~10% UNDER the target so binomial noise can never trip
    # the 1M total-vector cap (a delete landing at 1,000,4xx would raise)
    conc_target = min(n_delete, rows // 8 // 2)
    conc_mod = max(-(-(rows // 8) // int(conc_target * 0.9)), 2)
    scat_mod = max(-(-rows // int(n_delete * 0.9)), 2)
    shapes = {
        "concentrated": (
            (F.col("part") < 4) & (F.xxhash64("k") % F.lit(conc_mod) == 0),
            False,
        ),
        "scattered": (F.xxhash64("k") % F.lit(scat_mod) == 0, False),
        # r13 FILE-split shape: a contiguous-range delete on a Z-ordered
        # (k-clustered, several files per partition dir) table — the
        # workload that layout exists for. Vectors land in ~1/zorder_files
        # of each dir's files, so file-level confinement keeps the other
        # files' rows on plain codegen; also measured with the entries'
        # file lists stripped (the r12 dir-level behavior) for an honest
        # same-session A/B.
        "pinpoint_zorder": (F.col("k") < rows // 20, 8),
        # r14 RANGE shape: same contiguous delete, ONE file per
        # partition dir (500k rows/file at 16M). Every dir's single
        # k-sorted file contains its partition's full k range, so the
        # delete touches ALL files as one prefix run each and the
        # codegen NOT-BETWEEN routing carries the entire read — the
        # geometry where the join alternative must probe every row of
        # the table. (r15: the consolidated range scan removed the
        # per-file operator cost and with it the 256k-row size gate,
        # so the 4M rung's 125k-row files now route too — the
        # dv_range_consolidated section holds the crossover A/Bs)
        "pinpoint_bigfile": (F.col("k") < rows // 20, 1),
        # r14 DEAD-FILE shape: delete one partition's every row — all
        # its files become provably 100%-deleted (cumulative positions
        # == recorded row counts) and the reader drops them at LISTING
        # time; the claim under test is that the warm masked read lands
        # at unmasked speed (the r13 verdict's "skip fully-deleted
        # files" tier). rows/32 positions, under the 1M budget at both
        # rung sizes.
        "whole_files": (F.col("part") == 0, False),
    }
    for shape, (pred, zorder) in shapes.items():
        lake = Lakehouse(spark, f"{work}/{shape}")
        lake.create("t", schema, ["part"], [])
        lake.insert(
            "t",
            spark.range(rows).select(
                F.col("id").alias("k"),
                (F.col("id") % n_parts).cast("int").alias("part"),
                (F.col("id") * 0.5).alias("v"),
            ),
        )
        # compacted = the steady state the DV contract names ("vectors
        # are for bounded delete traffic BETWEEN compactions"): with the
        # batch still a live delta, every row of the delta would probe
        # the join (vectors name the delta's generation, so generation-
        # level confinement can't split it) and the concentrated shape
        # would measure the same as the scattered one (r13 find)
        if zorder:
            lake.compact("t", zorder_by=["k"], zorder_files=zorder, full=True)
        else:
            lake.compact("t", full=True)
        agg = lambda df: df.agg(  # noqa: E731
            F.sum("v").alias("s"), F.avg("k").alias("a")
        ).collect()
        agg(lake.table("t"))  # warm
        before = []
        for _ in range(3):
            t0 = _time.perf_counter()
            agg(lake.table("t"))
            before.append(_time.perf_counter() - t0)
        t0 = _time.perf_counter()
        lake.delete_where("t", pred, mode="dv")
        delete_s = _time.perf_counter() - t0
        meta = lake._load_meta("t")
        assert meta.deletion_vectors == {}, "must not inline at this size"
        side_total = sum(int(e[1]) for e in meta.dv_sidecars)
        affected = lake._dv_affected_rels(meta)
        # r13: the FIRST masked read pays the build-side construction
        # (sidecar parquet scan + rel materialization + persist) ONCE per
        # manifest version; later reads of the same version scan the
        # persisted blocks. Report both so the amortization claim —
        # warm masked read within ~10% of the unmasked read — is the
        # measured number, not the min-of-3 accident it used to be.
        after = []
        for _ in range(4):
            t0 = _time.perf_counter()
            agg(lake.table("t"))
            after.append(_time.perf_counter() - t0)
        n = lake.table("t").count()
        assert n == rows - side_total, (shape, n)
        out[shape] = {
            "control_s": round(_pinned_control(spark), 3),
            "sidecar_positions": side_total,
            "masked_partitions": len(affected) if affected is not None else n_parts,
            "delete_s": round(delete_s, 3),
            "read_s_min_before": round(min(before), 3),
            "read_s_cold_after": round(after[0], 3),
            "read_s_warm_after": round(min(after[1:]), 3),
            "warm_overhead_abs_s": round(min(after[1:]) - min(before), 3),
        }
        touched = lake._dv_touched_files(meta)
        if touched is not None:
            total_files = len(
                {p for p in lake._read_raw_unmasked("t", meta).inputFiles()}
            )
            out[shape]["touched_files"] = len(touched)
            out[shape]["total_files"] = total_files
            # r14 routing evidence straight from the reader's OWN
            # classifier (shared single source — the published counts
            # cannot drift from the executed plan; 'range' = eligible,
            # the reader additionally applies the plan-width cap)
            routing = lake._dv_file_routing(meta)
            if routing is not None:
                out[shape]["dead_files"] = sum(
                    1 for v in routing.values() if v[0] == "dead"
                )
                out[shape]["range_files"] = sum(
                    1 for v in routing.values() if v[0] == "range"
                )
        if touched is not None and (
            out[shape].get("dead_files") or out[shape].get("range_files")
        ):
            # r14 A/B #1: the EXACT r13 baseline — per-file routing
            # disabled wholesale by stripping the recorded row counts
            # (no dead prune, no range path; file lists intact so the
            # r13 file split still engages). Rebinding a meta field and
            # reading through _read_raw is the same content-addressed-
            # miss technique the dir-level A/B below uses. Run for any
            # shape that actually routed — on whole_files it is the
            # dead-prune headline comparison.
            r13meta = lake._load_meta("t")
            r13meta.dv_file_rows = {}
            agg(lake._read_raw("t", r13meta))  # warm
            r13_runs = []
            for _ in range(3):
                t0 = _time.perf_counter()
                agg(lake._read_raw("t", r13meta))
                r13_runs.append(_time.perf_counter() - t0)
            out[shape]["read_s_warm_r13_baseline"] = round(min(r13_runs), 3)
        if touched is not None and out[shape].get("range_files"):
            # r14 A/B #2: range-vs-join ISOLATED — runs cap 0 sends the
            # range-eligible files back to the anti-join while the dead
            # prune stays active in BOTH runs, so this pair attributes
            # the residual delta to the filter-vs-join choice alone.
            # Meaningless (identical plans) when nothing routed to
            # range, so skipped then.
            old_cap = Lakehouse._DV_RANGE_MAX_RUNS
            Lakehouse._DV_RANGE_MAX_RUNS = 0
            try:
                lake._dv_cache_purge("t")
                agg(lake.table("t"))  # warm (pays the build once)
                join_runs = []
                for _ in range(3):
                    t0 = _time.perf_counter()
                    agg(lake.table("t"))
                    join_runs.append(_time.perf_counter() - t0)
                out[shape]["read_s_warm_join_path"] = round(min(join_runs), 3)
            finally:
                Lakehouse._DV_RANGE_MAX_RUNS = old_cap
                lake._dv_cache_purge("t")
        if zorder and touched is not None:
            # same-session A/B: the identical read with the sidecar
            # entries' file lists REBOUND away (never mutated in place —
            # _meta_from_raw shares nested lists with the raw-meta cache)
            # = the r12 dir-level confinement this shape's number is
            # claimed against. The capped entry shape (files = finfo =
            # None, rels and format marker kept) confines exactly there.
            dirmeta = lake._load_meta("t")
            dirmeta.dv_sidecars = [
                [*e[:4], None, None, e[6]] for e in dirmeta.dv_sidecars
            ]
            agg(lake._read_raw("t", dirmeta))  # warm
            dir_runs = []
            for _ in range(3):
                t0 = _time.perf_counter()
                agg(lake._read_raw("t", dirmeta))
                dir_runs.append(_time.perf_counter() - t0)
            out[shape]["read_s_warm_dir_level"] = round(min(dir_runs), 3)
    return out


def measure_dv_range_consolidated(
    spark,
    nfiles: int,
    rows: int = 16_000_000,
    stats: bool = False,
    hostile: bool = False,
) -> dict:
    """r15 rung (r14 verdict task #1): the range branch CONSOLIDATED
    into one scan node — a balanced tree of full-URI equality compares
    dispatches each row to its own file's NOT-BETWEEN runs — against
    two same-session arms on an identical fixture: (a) the exact r14
    per-file plan (one FileScan operator + raw run filter per routed
    file, reconstructed by monkeypatching _dv_range_scan), and (b) the
    broadcast anti-join (runs cap 0). Geometry: ``nfiles`` partitions,
    one k-z-ordered file each, one contiguous delete touching every
    file as a prefix run. At 32 files the consolidated plan must be
    at-or-below the per-file plan; at 128 (4× the old plan-width cap,
    125k rows/file — below the old 256k size gate) it must beat both
    arms, which is the measurement that killed the gate.

    r16: the per-generation file inventory is recorded at WRITE time
    for EVERY table, so the 512-single-file-dir geometry splits (and
    range-routes) with ZERO listing calls on a PLAIN table too — the
    rung spies `fs.list_dir` during the cold plan build and reports
    the count (r15 needed ``stats=True`` + z-order for the inventory;
    the stats arm is kept for continuity). ``hostile=True`` makes
    every partition value encoding-UNSAFE (space + %/unicode/'='
    classes): r16 folds those into the same consolidated scan via
    per-file qualified_uri literals, where r15 capped them at 32
    single-file scans and sent the rest to the anti-join."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType() if hostile else T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def per_file_r14(self, name, meta, range_routed):
        parts = []
        for fpath, runs in range_routed:
            ri = F.col("_metadata.row_index")
            cond = F.lit(False)
            for s, e in runs:
                cond = cond | ri.between(F.lit(s), F.lit(e))
            parts.append(
                self._read_raw_unmasked(name, meta, [fpath]).filter(~cond)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def agg(df):
        return df.agg(F.sum("v").alias("s"), F.avg("k").alias("a")).collect()

    def timed(df, n=3):
        agg(df)  # warm
        runs = []
        for _ in range(n):
            t0 = _time.perf_counter()
            agg(df)
            runs.append(_time.perf_counter() - t0)
        return round(min(runs), 3)

    work = tempfile.mkdtemp(prefix=f"dvrange_{nfiles}_")
    lake = Lakehouse(spark, work)
    lake.create(
        "t", schema, ["part"], [], stats_columns=["k"] if stats else None
    )
    part = (F.col("id") % nfiles).cast("int")
    if hostile:
        part = F.concat(
            F.lit("p "),
            part.cast("string"),
            F.element_at(
                F.array(F.lit("%"), F.lit("+"), F.lit("é"), F.lit("=")),
                ((F.col("id") % 4) + 1).cast("int"),
            ),
        )
    lake.insert(
        "t",
        spark.range(rows).select(
            F.col("id").alias("k"),
            part.alias("part"),
            (F.col("id") * 0.5).alias("v"),
        ),
    )
    lake.compact("t", zorder_by=["k"], zorder_files=1, full=True)
    lake.delete_where("t", F.col("k") < rows // 20, mode="dv")
    m = lake._load_meta("t")
    routing = lake._dv_file_routing(m)
    sec: dict = {
        "control_s": round(_pinned_control(spark), 3),
        "rows": rows,
        "files": nfiles,
        "rows_per_file": rows // nfiles,
        "range_files": sum(1 for v in routing.values() if v[0] == "range"),
    }
    expect = rows - rows // 20
    # spy the COLD plan build: the write-time inventory must keep the
    # file split LIST-free at any dir count, stats columns or not
    lake._dv_cache_purge("t")
    calls = []
    orig_ld = lake.fs.list_dir
    lake.fs.list_dir = lambda p: (calls.append(p), orig_ld(p))[1]
    try:
        df = lake.table("t")
        assert df.count() == expect
    finally:
        lake.fs.list_dir = orig_ld
    sec["cold_plan_list_dir_calls"] = len(calls)
    sec["consolidated_s"] = timed(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sec["consolidated_join_free"] = "Join" not in plan
    orig = Lakehouse._dv_range_scan
    Lakehouse._dv_range_scan = per_file_r14
    try:
        lake._dv_cache_purge("t")
        df = lake.table("t")
        assert df.count() == expect
        sec["per_file_r14_s"] = timed(df)
    finally:
        Lakehouse._dv_range_scan = orig
        lake._dv_cache_purge("t")
    old_cap = Lakehouse._DV_RANGE_MAX_RUNS
    Lakehouse._DV_RANGE_MAX_RUNS = 0
    try:
        lake._dv_cache_purge("t")
        df = lake.table("t")
        assert df.count() == expect
        sec["join_s"] = timed(df)
    finally:
        Lakehouse._DV_RANGE_MAX_RUNS = old_cap
        lake._dv_cache_purge("t")
    lake.drop("t")
    return sec


def measure_plan_memo_pruned(spark, nparts: int = 64, rows: int = 4_000_000) -> dict:
    """r15 rung (r14 verdict task #2): the PRUNED readers (scan()'s
    kept-set build and _read_rels — the CDC poll loop's backbone) join
    the content-addressed plan memo, so repeated reads of an unchanged
    manifest stop re-paying Spark's eager InMemoryFileIndex listing per
    call. Protocol: one DV-carrying zone-mapped table; time (a) a warm
    repeated point lookup with the memo ON (shipped) vs the same calls
    with the plan cache cleared before each (the r14 per-call rebuild),
    and (b) the same A/B for a fixed-rel _read_rels poll. min-of-5 per
    arm; the delta is pure plan-construction cost."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake = Lakehouse(spark, tempfile.mkdtemp(prefix="planmemo_"))
    lake.create("t", schema, ["part"], [], stats_columns=["k"])
    lake.insert(
        "t",
        spark.range(rows).select(
            F.col("id").alias("k"),
            (F.col("id") % nparts).cast("int").alias("part"),
            (F.col("id") * 0.5).alias("v"),
        ),
    )
    lake.compact("t", zorder_by=["k"], zorder_files=4, full=True)
    # scattered vectors so the masked branch + file split engage (the
    # expensive construct the memo amortizes)
    lake.delete_where("t", F.xxhash64("k") % 37 == 0, mode="dv")
    out: dict = {
        "control_s": round(_pinned_control(spark), 3),
        "rows": rows,
        "parts": nparts,
    }
    mid = rows // 2

    def point_lookup():
        return lake.scan("t", where={"k": (mid, mid + 50_000)}).count()

    rel_poll_rels = [f"part={i}" for i in range(4)]

    def rel_poll():
        m = lake._load_meta("t")
        return lake._read_rels("t", m, rel_poll_rels).count()

    for tag, fn in (("point_lookup", point_lookup), ("rel_poll", rel_poll)):
        fn()  # warm (pays the one construct + exec)
        memo = []
        for _ in range(5):
            t0 = _time.perf_counter()
            fn()
            memo.append(_time.perf_counter() - t0)
        rebuild = []
        for _ in range(5):
            with lake._dv_cache_mu:
                lake._plan_cache.clear()
            t0 = _time.perf_counter()
            fn()
            rebuild.append(_time.perf_counter() - t0)
        out[f"{tag}_warm_memo_s"] = round(min(memo), 3)
        out[f"{tag}_warm_rebuild_s"] = round(min(rebuild), 3)
        out[f"{tag}_construct_saved_s"] = round(min(rebuild) - min(memo), 3)
    lake.drop("t")
    return out


def measure_commit_contention(spark, writers: int, commits_each: int = 10) -> dict:
    """r9 ladder rung (verdict task #6): the commit-lock wait now backs
    off exponentially to a 250 ms cap (S3-throttling civility); the
    guarded section is ~10 ms, so the worst single wait is ~25× the
    section and the worry is healthy contention SERIALIZING. Protocol:
    N threads (one Lakehouse handle each) upsert DISJOINT partitions of
    one table concurrently, under both the capped backoff and the r8
    3 ms bare spin (cap pinned to the initial delay). The two shapes'
    reps are INTERLEAVED in one session — a first run with the shapes
    in separate blocks showed the 1-writer control (identical code
    path: an uncontended lock never sleeps) differing 87% on JVM
    warmup drift alone, swamping the effect under test."""
    import tempfile
    import threading
    import time as _time

    import pyspark.sql.functions as F

    from at_data_pipelines_spark.catalog import Lakehouse
    from pyspark.sql import types as T

    work = tempfile.mkdtemp(prefix=f"contention_{writers}_")
    root = f"{work}/lake"
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("p", T.LongType())]
    )
    warm = Lakehouse(spark, root)
    warm.create("t", schema, ["p"], ["k"])
    for i in range(3):  # JIT/codepath warmup outside the measured window
        warm.upsert(
            "t",
            spark.range(10).select(F.col("id").alias("k"), F.lit(-1 - i).alias("p")),
        )
    errs: list = []

    def one_rep() -> float:
        barrier = threading.Barrier(writers + 1)

        def run(w: int) -> None:
            try:
                lk = Lakehouse(spark, root)
                batches = [
                    spark.range(w * 10_000 + i * 10, w * 10_000 + i * 10 + 10).select(
                        F.col("id").alias("k"), F.lit(w).alias("p")
                    )
                    for i in range(commits_each)
                ]
                barrier.wait()
                for b in batches:
                    lk.upsert("t", b)
            except Exception as e:  # a stall here is the finding
                errs.append(repr(e))

        threads = [threading.Thread(target=run, args=(w,)) for w in range(writers)]
        for t in threads:
            t.start()
        barrier.wait()
        t0 = _time.perf_counter()
        for t in threads:
            t.join()
        return _time.perf_counter() - t0

    shapes = {"backoff_250ms": 0.25, "spin_3ms_r8": Lakehouse._LOCK_BACKOFF_INITIAL_S}
    walls: dict = {s: [] for s in shapes}
    orig_cap = Lakehouse._LOCK_BACKOFF_CAP_S
    try:
        for _rep in range(3):
            for shape, cap in shapes.items():
                Lakehouse._LOCK_BACKOFF_CAP_S = cap
                walls[shape].append(one_rep())
    finally:
        Lakehouse._LOCK_BACKOFF_CAP_S = orig_cap
    total = writers * commits_each
    return {
        "writers": writers,
        "commits_each": commits_each,
        "errors": errs,
        **{
            shape: {
                "wall_s_min": round(min(w), 3),
                "agg_commits_per_s": round(total / min(w), 2),
            }
            for shape, w in walls.items()
        },
    }


def measure_compact(spark, base_parts: int, dirty_parts: int = 8) -> dict:
    """r10 rung: ``compact()`` (PK-less small-file merge) must cost
    O(ingest), not O(table) — the wall tracks the DIRTY partition
    count and stays flat as the clean base grows. Protocol: commit a
    clean ``base_parts``-partition base (one generation), append one
    tiny delta to each of ``dirty_parts`` partitions, time compact();
    also count parquet files absorbed vs produced in the dirty set."""
    import tempfile
    import time as _time

    import pyspark.sql.functions as F

    from at_data_pipelines_spark.catalog import Lakehouse
    from pyspark.sql import types as T

    work = tempfile.mkdtemp(prefix=f"compact_{base_parts}_")
    lake = Lakehouse(spark, f"{work}/lake")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("p", T.LongType())]
    )
    lake.create("t", schema, ["p"], [])  # PK-less: the streaming-sink shape
    rows_per_part = 20_000
    lake.insert(
        "t",
        spark.range(base_parts * rows_per_part).select(
            F.col("id").alias("k"), (F.col("id") % base_parts).alias("p")
        ),
    )
    lake.compact("t")  # clean base: one generation, nothing dirty
    for d in range(dirty_parts):  # tiny per-partition appends (the ingest)
        lake.insert(
            "t",
            spark.range(5).select(
                (F.col("id") + 10_000_000 + d).alias("k"), F.lit(d).alias("p")
            ),
        )
    import glob as _glob

    files_before = len(_glob.glob(f"{work}/lake/t/data/_seq=*/p=*/*.parquet"))
    t0 = _time.perf_counter()
    lake.compact("t")
    wall = _time.perf_counter() - t0
    meta = lake._load_meta("t")
    return {
        "base_partitions": base_parts,
        "dirty_partitions": dirty_parts,
        "rows_per_base_partition": rows_per_part,
        "compact_wall_s": round(wall, 3),
        "parquet_files_before": files_before,
        "parquet_files_after": len(
            _glob.glob(f"{work}/lake/t/data/_seq=*/p=*/*.parquet")
        ),
        "live_deltas_after": len(meta.live_deltas),
        "rows": lake.table("t").count(),
    }


def measure_compact_under_ingest(spark, n_appends: int = 16) -> dict:
    """r10 rung: out-of-band compaction concurrent with live ingest.
    Pre-r10 the rmw rebase refused on ANY rival delta, so every
    maintenance pass lost the race to the next micro-batch (0 compacts
    land). With the disjoint-append carry-through, a writer appending
    fresh partitions and a looping compactor must both make progress:
    report appends completed, compactions landed mid-ingest, rebase
    conflicts surfaced, and the final row count (must equal appended)."""
    import tempfile
    import threading
    import time as _time

    import pyspark.sql.functions as F

    from at_data_pipelines_spark.catalog import ConcurrentWriteError, Lakehouse
    from pyspark.sql import types as T

    work = tempfile.mkdtemp(prefix="compact_ingest_")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("p", T.LongType())]
    )
    lake = Lakehouse(spark, f"{work}/lake")
    lake.create("t", schema, ["p"], [])
    lake.insert("t", spark.range(10).select(F.col("id").alias("k"), F.lit(-1).alias("p")))
    lake.compact("t")
    done = threading.Event()
    landed, conflicts, errs = [], [], []

    def writer():
        try:
            for i in range(n_appends):
                lake.insert(
                    "t",
                    spark.range(100).select(
                        (F.col("id") + i * 1000).alias("k"), F.lit(i).alias("p")
                    ),
                )
        except Exception as e:
            errs.append(repr(e))
        finally:
            done.set()

    def compactor():
        rival = Lakehouse(spark, lake.root)
        while not done.is_set():
            try:
                if rival.pending_deltas("t"):
                    rival.compact("t")
                    landed.append(1)
                else:
                    _time.sleep(0.01)
            except ConcurrentWriteError as e:
                conflicts.append(repr(e))
            except Exception as e:
                errs.append(repr(e))
                return

    t0 = _time.perf_counter()
    tw, tc = threading.Thread(target=writer), threading.Thread(target=compactor)
    tw.start(), tc.start()
    tw.join(), tc.join()
    wall = _time.perf_counter() - t0
    return {
        "appends": n_appends,
        "wall_s": round(wall, 3),
        "appends_per_s": round(n_appends / wall, 2),
        "compactions_landed_mid_ingest": len(landed),
        "rebase_conflicts": len(conflicts),
        "errors": errs,
        "rows": lake.table("t").count(),
        "rows_expected": 10 + 100 * n_appends,
    }


def measure_ann_stream(spark, base_dir: str, compact_every: int) -> dict:
    """Build + persist an IVF+PQ index over the given corpus, then stream
    10 batches of 500 FRESH vectors through ``ann_index_maintenance_stream``
    and report the per-batch wall time. Run at two index sizes (2k / 20k
    vectors), a flat per-batch time is the O(batch) evidence for the
    encode path; the upsert-vs-LSM(compact_every=10) pair separates the
    encode cost from the commit/compaction policy."""
    import tempfile
    import time as _time

    import pyspark.sql.functions as F

    from at_data_pipelines_spark.catalog import Lakehouse
    from at_data_pipelines_spark.io import load_table
    from at_data_pipelines_spark.llmops import ann_index
    from at_data_pipelines_spark.streaming import ann_index_maintenance_stream

    work = tempfile.mkdtemp(prefix=f"annstream_{compact_every}_")
    lake = Lakehouse(spark, f"{work}/lake")
    emb = load_table(spark, base_dir, "embeddings")
    idx = ann_index.train_index(emb, n_centroids=16, m=8, k=16)
    ann_index.save_index(lake, "corpus", idx, encoded=ann_index.encode_corpus(emb, idx))
    n_index = lake.table("corpus_codes").count()

    feed = f"{work}/feed"
    base = emb.select("vec_id", "embedding").limit(500)
    n_batches, batch_rows = 10, base.count()
    for b in range(n_batches):
        base.select(
            (F.col("vec_id") + 100_000_000 + b * 100_000).alias("vec_id"), "embedding"
        ).coalesce(1).write.mode("append").parquet(feed)

    stream = (
        spark.readStream.schema(base.schema).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    t0 = _time.perf_counter()
    q = ann_index_maintenance_stream(
        stream, lake, "corpus", f"{work}/ckpt", compact_every=compact_every
    )
    q.awaitTermination(600)
    wall = _time.perf_counter() - t0
    if compact_every > 1:  # final compaction so the table ends deduped
        lake.optimize("corpus_codes")
    final_rows = lake.table("corpus_codes").count()
    assert final_rows == n_index + n_batches * batch_rows, (final_rows, n_index)
    return {
        "index_rows": n_index,
        "batches": n_batches,
        "batch_rows": batch_rows,
        "compact_every": compact_every,
        "wall_s": round(wall, 3),
        "per_batch_s": round(wall / n_batches, 3),
    }


def measure_dv_runs_crossover(spark, kruns: int, past_cap: bool = False) -> dict:
    """r16 rung: the ``_DV_RANGE_MAX_RUNS`` boundary re-mapped under
    the CONSOLIDATED scan (its 16 was an r14 per-file-architecture
    measurement), and the group-chunking fix it exposed: r15 chunked
    dispatch groups by a fixed 32 LEAVES — sized on thin one-run
    leaves — so a 16-run-per-file delete packed ~550 predicate units
    into one generated method and silently degraded past the JVM
    compile limits. r16 budgets groups by TOTAL predicate size
    (``_DV_RANGE_GROUP_UNITS`` = 96: one-run shapes keep the exact
    r15 grouping, fat-run groups shrink to ~5 files).

    Geometry: 32 partitions x 500k rows, one z-ordered file each, a
    periodic scattered delete collapsing to exactly ``kruns`` runs per
    file (~5% of rows). Arms on the one fixture: (a) shipped budgeted
    scan, (b) exact r15 fixed-32-leaf reconstruction by monkeypatch,
    (c) forced anti-join (runs cap 0). ``past_cap=True`` raises the
    runs cap to 512 for the fixture + range arms — the reconstruction
    of what ROUTING scatter-shaped deletes would cost, i.e. the
    measurement that keeps the cap at 16 (at 256 runs/file the join
    wins ~3x over every range variant tried, including an O(log k)
    balanced interval tree over the runs — see SCALING.md r16)."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    nfiles, rows = 32, 16_000_000
    rpf = rows // nfiles
    period = rpf // kruns
    runlen = max(1, period // 20)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def agg(df):
        return df.agg(F.sum("v").alias("s"), F.avg("k").alias("a")).collect()

    def timed(df, n=3):
        agg(df)
        samples = []
        for _ in range(n):
            t0 = _time.perf_counter()
            agg(df)
            samples.append(_time.perf_counter() - t0)
        return round(min(samples), 3)

    work = tempfile.mkdtemp(prefix=f"runsx_{kruns}_")
    orig_cap = Lakehouse._DV_RANGE_MAX_RUNS
    if past_cap:
        Lakehouse._DV_RANGE_MAX_RUNS = 512
    try:
        lake = Lakehouse(spark, work)
        lake.create("t", schema, ["part"], [])
        lake.insert(
            "t",
            spark.range(rows).select(
                F.col("id").alias("k"),
                (F.col("id") % nfiles).cast("int").alias("part"),
                (F.col("id") * 0.5).alias("v"),
            ),
        )
        lake.compact("t", zorder_by=["k"], zorder_files=1, full=True)
        # within partition p the z-ordered file holds k = p + r*nfiles
        # at row_index r, so this predicate deletes `runlen`-long runs
        # every `period` row indexes in EVERY file
        pred = ((F.col("k") / nfiles).cast("long") % period) < runlen
        lake.delete_where("t", pred, mode="dv")
        m = lake._load_meta("t")
        routing = lake._dv_file_routing(m)
        nr = [len(v[1]) for v in routing.values() if v[0] == "range"]
        expect = rows - spark.range(rows).filter(
            ((F.col("id") / nfiles).cast("long") % period) < runlen
        ).count()
        sec: dict = {
            "control_s": round(_pinned_control(spark), 3),
            "kruns": kruns,
            "past_cap": past_cap,
            "range_files": len(nr),
            "runs_total": sum(nr),
        }

        lake._dv_cache_purge("t")
        df = lake.table("t")
        assert df.count() == expect
        sec["budgeted_s"] = timed(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        sec["budgeted_join_free"] = "Join" not in plan

        def fixed32(self, name, meta, range_routed):
            items_groups = [
                range_routed[i : i + 32]
                for i in range(0, len(range_routed), 32)
            ]
            orig_units = Lakehouse._DV_RANGE_GROUP_UNITS
            out = None
            # reconstruct r15 exactly: same scan body, but chunked by
            # file count — achieved by lifting the unit budget so one
            # budgeted call per 32-file slice emits one group
            Lakehouse._DV_RANGE_GROUP_UNITS = 10**9
            try:
                for grp in items_groups:
                    part = orig_scan(self, name, meta, grp)
                    out = part if out is None else out.unionByName(part)
            finally:
                Lakehouse._DV_RANGE_GROUP_UNITS = orig_units
            return out

        orig_scan = Lakehouse._dv_range_scan
        Lakehouse._dv_range_scan = fixed32
        try:
            lake._dv_cache_purge("t")
            df = lake.table("t")
            assert df.count() == expect
            sec["fixed32_r15_s"] = timed(df)
        finally:
            Lakehouse._dv_range_scan = orig_scan

        Lakehouse._DV_RANGE_MAX_RUNS = 0
        try:
            lake._dv_cache_purge("t")
            df = lake.table("t")
            assert df.count() == expect
            sec["join_s"] = timed(df)
        finally:
            Lakehouse._DV_RANGE_MAX_RUNS = 512 if past_cap else orig_cap
            lake._dv_cache_purge("t")
        lake.drop("t")
        return sec
    finally:
        Lakehouse._DV_RANGE_MAX_RUNS = orig_cap


def measure_inventory_overhead(
    spark, nparts: int = 128, ngens: int = 32
) -> dict:
    """r16 rung: what the WRITE-TIME per-file inventory costs — the
    flip side of the zero-LIST read path. Every commit now records its
    generation's file list as empty-stats zone keys
    (``_collect_file_inventory``: one driver LIST per freshly written
    leaf, cost ∝ the batch), and those keys live in the manifest until
    compaction re-shrinks them. Protocol: ``ngens`` partitioned
    inserts of ``nparts`` leaves each (one file per leaf per gen —
    the small-batch streaming-ingest shape that accumulates keys
    fastest, nparts x ngens keys total), measured twice on identical
    fixtures: inventory ON (shipped) vs OFF (``_FILE_INVENTORY_CAP``
    monkeypatched to 0 — the r15 write path). Reports per-commit wall,
    cold/warm ``_load_meta``, checkpoint + live-manifest bytes, and
    the key count, so the claimed bound (~60 B/key absorbed by the
    segmented log + columnar checkpoint) is measured, not asserted."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import Lakehouse

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("p", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def _meta_bytes(tdir: str) -> int:
        """Bytes of table METADATA on disk: the manifest json plus the
        segmented log and relocated history (skips data/ and dv/)."""
        import os as _os

        total = 0
        for sub in ("_bl_meta.json", "_log", "_history"):
            p = _os.path.join(tdir, sub)
            if _os.path.isfile(p):
                total += _os.path.getsize(p)
            elif _os.path.isdir(p):
                for dp, _, fns in _os.walk(p):
                    for fn in fns:
                        total += _os.path.getsize(_os.path.join(dp, fn))
        return total

    def one_arm(cap: int) -> dict:
        work = tempfile.mkdtemp(prefix=f"invcost_{cap}_")
        orig = Lakehouse._FILE_INVENTORY_CAP
        Lakehouse._FILE_INVENTORY_CAP = cap
        try:
            lake = Lakehouse(spark, work)
            lake.create("t", schema, ["p"], [])
            batch = spark.range(nparts * 100).select(
                F.col("id").alias("k"),
                (F.col("id") % nparts).cast("int").alias("p"),
                (F.col("id") * 0.5).alias("v"),
            )
            t0 = _time.perf_counter()
            for _ in range(ngens):
                lake.insert("t", batch)
            commit_wall = _time.perf_counter() - t0
            meta = lake._load_meta("t")
            nkeys = sum(
                1 for zk in meta.zone_maps if not meta.zone_maps[zk]
            )
            warm = []
            for _ in range(7):
                t0 = _time.perf_counter()
                lake._load_meta("t")
                warm.append(_time.perf_counter() - t0)
            cold = []
            for _ in range(5):
                t0 = _time.perf_counter()
                Lakehouse(spark, lake.root)._load_meta("t")
                cold.append(_time.perf_counter() - t0)
            return {
                "inventory_keys": nkeys,
                "per_commit_s": round(commit_wall / ngens, 4),
                "warm_load_s_min": round(min(warm), 5),
                "cold_load_s_min": round(min(cold), 5),
                "meta_bytes": _meta_bytes(f"{work}/t"),
            }
        finally:
            Lakehouse._FILE_INVENTORY_CAP = orig

    return {
        "parts": nparts,
        "gens": ngens,
        "control_s": round(_pinned_control(spark), 3),
        "inventory_on": one_arm(65536),
        "inventory_off": one_arm(0),
    }


if __name__ == "__main__":
    main()
