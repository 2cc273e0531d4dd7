"""Deletion vectors (r11): ``delete_where(mode='dv')`` records matched
rows as (file, row position) pairs in the manifest instead of rewriting
partitions — the Delta/Iceberg-v2 metadata-only row delete. Every
reader (table/scan/_read_rels, and therefore CDC, analyze, optimize)
anti-joins them out; the next rewrite of a partition materializes the
deletes and drops its files' vectors.

Soundness contract under test: table() after a DV delete ≡ the rewrite
delete's result EXACTLY, with zero data files touched; vectors merge
across successive deletes; PK tables with pending shadows refuse (a
vector delete of the newest copy would resurrect the shadowed row);
rival commits under a rewrite's footprint conflict honestly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from at_data_pipelines_spark.catalog import (
    ConcurrentWriteError,
    Lakehouse,
    _dv_decode,
    _dv_encode,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@pytest.fixture
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "lake"))


def _batch(spark, lo, hi, part):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(part).alias("part"), (F.col("id") * 1.0).alias("v")
    )


def test_dv_codec_round_trip():
    for pos in ([0], [5], [0, 1, 2], [7, 3, 3, 7, 100], list(range(1000)),
                [0, 10**12], [2**40, 2**40 + 1]):
        ent = _dv_encode(pos)
        assert _dv_decode(ent) == sorted(set(pos))
        assert ent[0] == len(set(pos))
    # clustered runs encode ~1 byte/position
    import base64
    run = _dv_encode(list(range(10_000)))
    assert len(base64.b64decode(run[1])) <= 10_001


def test_dv_delete_exact_and_rewrites_nothing(lake, spark):
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(3):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    files = set(lake.table("t").inputFiles())
    lake.delete_where("t", F.col("k").between(110, 119), mode="dv")
    assert set(lake.table("t").inputFiles()) == files, "dv delete rewrote data"
    got = sorted(r.k for r in lake.table("t").collect())
    assert got == [k for k in range(300) if not 110 <= k <= 119]
    assert lake.history("t")[-1]["action"] == "delete_where(dv)"
    # scan (zone/bloom path) applies the vectors too
    assert lake.scan("t").count() == 290
    # the generation file layout carries exactly one vector
    m = lake._load_meta("t")
    assert len(m.deletion_vectors) == 1
    (ent,) = m.deletion_vectors.values()
    assert ent[0] == 10


def test_dv_deletes_merge_and_redelete_is_noop(lake, spark):
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    v1 = lake._load_meta("t").version
    # re-deleting already-vectored rows: provably nothing to do, no commit
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    assert lake._load_meta("t").version == v1
    lake.delete_where("t", F.col("k").between(8, 12), mode="dv")  # overlap
    m = lake._load_meta("t")
    assert sum(e[0] for e in m.deletion_vectors.values()) == 13
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(13, 100))


def test_dv_materializes_on_compact_and_optimize(lake, spark):
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    lake.delete_where("t", F.col("k") == 50, mode="dv")
    lake.compact("t", full=True)
    m = lake._load_meta("t")
    assert m.deletion_vectors == {}, "rewrite must drop the absorbed vectors"
    assert lake.table("t").count() == 199
    # PK table via optimize
    lake.create("p", SCHEMA, ["part"], ["k", "part"])
    lake.upsert("p", _batch(spark, 0, 100, 0))
    lake.optimize("p")
    lake.delete_where("p", F.col("k") < 5, mode="dv")
    lake.optimize("p", full=True)
    assert lake._load_meta("p").deletion_vectors == {}
    assert lake.table("p").count() == 95


def test_dv_refuses_pk_shadows_and_auto_falls_back(lake, spark):
    lake.create("p", SCHEMA, ["part"], ["k", "part"])
    lake.upsert("p", _batch(spark, 0, 50, 0))
    lake.optimize("p")
    lake.delete_where("p", F.col("k") == 1, mode="dv")  # compacted: fine
    lake.insert("p", _batch(spark, 100, 110, 0), mode="append")  # pending delta
    with pytest.raises(ValueError, match="pending deltas"):
        lake.delete_where("p", F.col("k") == 2, mode="dv")
    lake.delete_where("p", F.col("k") == 2, mode="auto")  # falls back to rewrite
    assert sorted(r.k for r in lake.table("p").collect()) == (
        [k for k in range(50) if k not in (1, 2)] + list(range(100, 110))
    )


def test_dv_upsert_reinserts_deleted_key(lake, spark):
    lake.create("p", SCHEMA, [], ["k"])
    lake.upsert("p", _batch(spark, 0, 20, 0))
    lake.delete_where("p", F.col("k") == 3, mode="dv")
    assert lake.table("p").filter(F.col("k") == 3).count() == 0
    lake.upsert("p", spark.createDataFrame([(3, 0, 9.9)], SCHEMA))
    got = lake.table("p").filter(F.col("k") == 3).collect()
    # raw table may show shadows; logical read must show exactly the new row
    rows = {(r.k, r.v) for r in got}
    assert (3, 9.9) in rows
    lake.optimize("p")
    got = lake.table("p").filter(F.col("k") == 3).collect()
    assert [(r.k, r.v) for r in got] == [(3, 9.9)]


def test_dv_auto_cap_falls_back_to_rewrite(lake, spark, monkeypatch):
    monkeypatch.setattr(Lakehouse, "_DV_AUTO_MAX_ROWS", 5)
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    files = set(lake.table("t").inputFiles())
    lake.delete_where("t", F.col("k") < 50, mode="auto")  # 50 > cap
    assert lake.table("t").count() == 50
    assert set(lake.table("t").inputFiles()) != files, "auto should have rewritten"
    assert lake._load_meta("t").deletion_vectors == {}
    with pytest.raises(ValueError, match="matched more than"):
        lake.delete_where("t", F.col("k") >= 50, mode="dv")


def test_dv_time_travel_and_restore(lake, spark):
    lake.create("t", SCHEMA, [], [], retain_versions=10)
    lake.insert("t", _batch(spark, 0, 50, 0))
    v_full = lake._load_meta("t").version
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    v_del = lake._load_meta("t").version
    assert lake.table("t", version=v_full).count() == 50
    assert lake.table("t", version=v_del).count() == 40
    lake.restore("t", v_full)
    assert lake.table("t").count() == 50
    lake.restore("t", v_del)
    assert lake.table("t").count() == 40


def test_dv_cdc_emits_deletes(lake, spark):
    lake.create("p", SCHEMA, [], ["k"], retain_versions=10)
    lake.upsert("p", _batch(spark, 0, 30, 0))
    lake.optimize("p")
    v0 = lake._load_meta("p").version
    lake.delete_where("p", F.col("k").isin([5, 7]), mode="dv")
    ch = lake.table_changes("p", v0).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [
        (5, "delete"), (7, "delete"),
    ]


def test_dv_rival_rewrite_under_footprint_conflicts(lake, spark):
    """A rewrite derived from a snapshot WITHOUT a rival's vectors must
    refuse to commit over them (it would resurrect the deleted rows)."""
    lake.create("t", SCHEMA, ["part"], ["k", "part"])
    lake.upsert("t", _batch(spark, 0, 50, 0))
    lake.upsert("t", _batch(spark, 50, 100, 1))
    lake.optimize("t")
    meta0 = lake._load_meta("t")
    before0 = lake._snapshot_meta(meta0)
    # rival DV delete lands first (part=0)
    rival = Lakehouse(lake.spark, lake.root)
    rival.delete_where("t", F.col("k") == 3, mode="dv")
    # our stale whole-table rewrite must now conflict
    raw = lake._read_raw("t", before0)
    seq = lake._reserve_seq("t", meta0)
    token = lake._write_seq("t", meta0, raw.drop("_seq"), seq)
    depth = 1
    written = lake.fs.glob_dir_leaves(f"{lake._seq_dir('t', seq)}/*=*", depth)
    for rel in written:
        meta0.committed[rel] = seq
    meta0.live_deltas = []
    meta0.dirty_partitions = []
    rebase = lake._make_rebase(before0, meta0, "rmw", base_rels=None)
    with pytest.raises(ConcurrentWriteError):
        lake._commit_meta(meta0, token, action="stale-rewrite", rebase=rebase)
    # and the rival's delete survives
    assert Lakehouse(lake.spark, lake.root).table("t").filter(F.col("k") == 3).count() == 0


def test_dv_rival_append_elsewhere_rebases(lake, spark):
    """A DV commit racing an append to a DIFFERENT partition rebases
    cleanly — both land, serial result."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 50, 0))
    lake.insert("t", _batch(spark, 50, 100, 1))
    meta = lake._load_meta("t")
    before = lake._snapshot_meta(meta)
    # rival append to part=1 lands while our DV delete on part=0 is in flight
    rival = Lakehouse(lake.spark, lake.root)
    rival.insert("t", _batch(spark, 100, 110, 1), mode="append")
    # drive the DV path against the STALE meta: the commit must rebase
    pred = F.coalesce(F.col("k") < 5, F.lit(False))
    assert lake._write_vectors("t", meta, before, pred, "dv", "delete_where") is True
    fresh = Lakehouse(lake.spark, lake.root)
    assert fresh.table("t").count() == 110 - 5
    assert sorted(r.k for r in fresh.table("t").filter("part = 0").collect()) == list(range(5, 50))


def test_dv_survives_segmented_log_fold_and_columnar_checkpoint(spark, tmp_path):
    """deletion_vectors is a _LOG_DELTA_FIELDS member (segments carry
    diffs) and rides INLINE in the columnar checkpoint (only
    committed/zone_maps move to the sidecar): a fresh handle folding
    segments over a checkpoint must reconstruct the vectors exactly."""
    orig_seg = Lakehouse._LOG_SEGMENT_THRESHOLD
    orig_col = Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES
    Lakehouse._LOG_SEGMENT_THRESHOLD = 0  # every commit a segment
    Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = 1  # checkpoints columnar
    try:
        lake = Lakehouse(spark, str(tmp_path / "lake"))
        lake.create("t", SCHEMA, ["part"], [])
        lake.insert("t", _batch(spark, 0, 100, 0))
        lake.insert("t", _batch(spark, 100, 200, 1))
        # several DV commits so at least one lands mid-segment-window
        for k in (1, 3, 5, 101, 103):
            lake.delete_where("t", F.col("k") == k, mode="dv")
        want = lake._load_meta("t").deletion_vectors
        assert sum(e[0] for e in want.values()) == 5
        want_rows = lake._load_meta("t").dv_file_rows
        assert want_rows, "DV commits must record per-file row counts"
        fresh = Lakehouse(spark, lake.root)
        got = fresh._load_meta("t").deletion_vectors
        assert got == want
        # dv_file_rows is a _LOG_DELTA_FIELDS member too (r14)
        assert fresh._load_meta("t").dv_file_rows == want_rows
        assert fresh.table("t").count() == 195
        assert sorted(r.k for r in fresh.table("t").filter("part = 0").collect()) == [
            k for k in range(100) if k not in (1, 3, 5)
        ]
    finally:
        Lakehouse._LOG_SEGMENT_THRESHOLD = orig_seg
        Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = orig_col


def test_dv_files_not_vacuumed(spark, tmp_path):
    """A file with a deletion vector is still LIVE (the vector masks
    rows, it does not supersede the generation): vacuum must not
    reclaim it, and the table must read identically afterward."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    before = sorted(r.k for r in lake.table("t").collect())
    lake.vacuum("t")
    assert sorted(r.k for r in lake.table("t").collect()) == before == list(range(10, 100))


def test_dv_cdc_emits_deletes_on_partitioned_table(spark, tmp_path):
    """r11 review find: the pruned CDC path diffs committed POINTERS,
    which a DV-only commit never moves — on a partitioned table the
    change feed came back empty while the table shrank. The changed-rel
    set must include partitions whose vectors differ."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("p", SCHEMA, ["part"], ["k", "part"], retain_versions=10)
    lake.upsert("p", _batch(spark, 0, 15, 0))
    lake.upsert("p", _batch(spark, 15, 30, 1))
    lake.optimize("p")
    v0 = lake._load_meta("p").version
    lake.delete_where("p", F.col("k").isin([5, 20]), mode="dv")
    assert lake.table("p").count() == 28
    ch = lake.table_changes("p", v0).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [
        (5, "delete"), (20, "delete"),
    ]


def test_dv_cumulative_bound_forces_materialization(spark, tmp_path, monkeypatch):
    """r11 review find: the per-call cap alone lets nightly under-cap
    deletes accumulate unbounded vectors. The TABLE total is bounded:
    auto falls back to the rewrite, dv refuses with compact guidance."""
    monkeypatch.setattr(Lakehouse, "_DV_AUTO_MAX_ROWS", 30)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 20, mode="dv")   # 20 accumulated
    lake.delete_where("t", F.col("k") < 25, mode="dv")   # 25 total, under
    with pytest.raises(ValueError, match="optimize\\(\\)/compact\\(\\)"):
        lake.delete_where("t", F.col("k") < 35, mode="dv")  # would be 35
    files = set(lake.table("t").inputFiles())
    lake.delete_where("t", F.col("k") < 35, mode="auto")  # materializes
    assert set(lake.table("t").inputFiles()) != files
    assert lake._load_meta("t").deletion_vectors == {}
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(35, 100))


# ---------------------------------------------------------------------------
# update_where (merge-on-read UPDATE riding the same vectors)
# ---------------------------------------------------------------------------

def test_update_where_dv_exact_and_atomic(lake, spark):
    """PK-less dv update: originals vector-deleted + transformed copies
    appended in ONE commit — exact result, no base file rewritten, row
    count preserved."""
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 50, (p + 1) * 50, p))
    files = set(lake.table("t").inputFiles())
    v0 = lake._load_meta("t").version
    lake.update_where("t", F.col("k") < 5, {"v": F.lit(-1.0)}, mode="dv")
    assert lake._load_meta("t").version == v0 + 1, "must be ONE commit"
    got = {r.k: r.v for r in lake.table("t").collect()}
    assert len(got) == 100
    assert all(got[k] == -1.0 for k in range(5))
    assert all(got[k] == float(k) for k in range(5, 100))
    assert files <= set(lake.table("t").inputFiles()), "base files rewritten"
    assert lake.history("t")[-1]["action"] == "update_where(dv)"


def test_update_where_dv_moves_rows_across_partitions(lake, spark):
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 50, (p + 1) * 50, p))
    lake.update_where("t", F.col("k") == 60, {"part": F.lit(0)}, mode="dv")
    assert [r.part for r in lake.table("t").filter("k = 60").collect()] == [0]
    assert lake.table("t").count() == 100
    # the moved row must survive a later compaction of both partitions
    lake.compact("t", full=True)
    assert [r.part for r in lake.table("t").filter("k = 60").collect()] == [0]
    assert lake.table("t").count() == 100
    assert lake._load_meta("t").deletion_vectors == {}


def test_update_where_rewrite_mode_and_sql_assignments(lake, spark):
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 50, 0))
    lake.update_where("t", "k >= 40", {"v": "v * 10"}, mode="rewrite")
    got = {r.k: r.v for r in lake.table("t").collect()}
    assert len(got) == 50
    assert all(got[k] == k * 10.0 for k in range(40, 50))
    assert all(got[k] == float(k) for k in range(40))


def test_update_where_pk_table_is_upsert(lake, spark):
    lake.create("p", SCHEMA, ["part"], ["k", "part"])
    lake.upsert("p", _batch(spark, 0, 20, 0))
    lake.update_where("p", F.col("k") < 3, {"v": F.lit(7.0)})
    lake.optimize("p")
    got = {r.k: r.v for r in lake.table("p").collect()}
    assert len(got) == 20 and all(got[k] == 7.0 for k in range(3))
    assert lake._load_meta("p").deletion_vectors == {}, "PK path needs no vectors"
    with pytest.raises(ValueError, match="primary-key columns"):
        lake.update_where("p", F.col("k") == 1, {"k": F.lit(99)})


def test_update_where_guards_and_auto_fallback(lake, spark, monkeypatch):
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    with pytest.raises(ValueError, match="unknown column"):
        lake.update_where("t", "k < 5", {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="at least one"):
        lake.update_where("t", "k < 5", {})
    monkeypatch.setattr(Lakehouse, "_DV_AUTO_MAX_ROWS", 10)
    files = set(lake.table("t").inputFiles())
    lake.update_where("t", F.col("k") < 50, {"v": F.lit(0.0)}, mode="auto")
    assert set(lake.table("t").inputFiles()) != files, "auto should rewrite past cap"
    assert lake._load_meta("t").deletion_vectors == {}
    assert lake.table("t").filter("v = 0.0").count() == 50
    with pytest.raises(ValueError, match="vector bound"):
        lake.update_where("t", F.col("k") < 50, {"v": F.lit(1.0)}, mode="dv")
    # NULL predicate results mean "keep", not update
    lake.update_where("t", F.expr("CASE WHEN k = 99 THEN true END"), {"v": F.lit(42.0)}, mode="dv")
    assert lake.table("t").filter("v = 42.0").count() == 1


def test_update_where_rewrite_partition_move_keeps_target_rows(lake, spark):
    """r11 review find: a partition-key assignment in rewrite mode MOVES
    rows; the target partition must be read into the rewrite or its
    pre-existing rows are silently replaced by a leaf holding only the
    moved row."""
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 50, (p + 1) * 50, p))
    lake.update_where("t", F.col("k") == 60, {"part": F.lit(0)}, mode="rewrite")
    assert lake.table("t").count() == 100, "target partition rows lost"
    assert [r.part for r in lake.table("t").filter("k = 60").collect()] == [0]
    assert lake.table("t").filter("part = 0").count() == 51
    assert sorted(r.k for r in lake.table("t").filter("part = 0").collect()) == (
        list(range(50)) + [60]
    )


def test_dv_analyze_sees_masked_rows(lake, spark):
    """ANALYZE reads through _read_raw, so it must see the post-delete
    rows: its counts exclude a vector-deleted row."""
    lake.create("p", SCHEMA, [], ["k"])
    lake.upsert("p", _batch(spark, 0, 10, 0))
    lake.delete_where("p", F.col("k") == 4, mode="dv")
    stats = lake.analyze("p")
    assert stats["rows"] == 9


def test_dv_free_tables_pay_zero_plan_nodes(lake, spark, monkeypatch):
    """The bench-critical invariant: a table WITHOUT deletion vectors
    must read through the exact same plan as before the feature existed
    — no metadata columns, no join, no filter. With vectors, a
    run-shaped delete reads JOIN-FREE through the consolidated range
    scan (r16: even on a partitioned live delta, via the inventory
    marker expansion — this pin asserted the anti-join until the
    expansion made the better plan reachable); a shape the run codec
    can't prove still pays exactly one broadcast left-anti join."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    plan = lake.table("t")._jdf.queryExecution().executedPlan().toString()
    assert "__dv" not in plan and "LeftAnti" not in plan, (
        "DV-free read grew plan nodes"
    )
    lake.delete_where("t", F.col("k") == 1, mode="dv")
    df = lake.table("t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan and "row_index" in plan, plan
    assert df.count() == 99
    # pruning still reaches the parquet scan through the range filter
    got = lake.table("t").filter(F.col("k") == 50)
    p2 = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,50)" in p2
    # with range routing disabled the same vectors take the one
    # broadcast anti-join — the pre-r14 shape
    monkeypatch.setattr(Lakehouse, "_DV_RANGE_MAX_RUNS", 0)
    lake._dv_cache_purge("t")
    df = lake.table("t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert df.count() == 99


# ---------------------------------------------------------------------------
# sidecar vectors (r12): past _DV_INLINE_MAX_POSITIONS the positions move
# to immutable parquet files under <table>/dv/, built and applied
# executor-side; the manifest keeps [relpath, count, [seqs]] pointers
# ---------------------------------------------------------------------------

def _sidecar_files(lake, name):
    return set(lake.fs.list_subdirs(f"{lake._dir(name)}/dv")) if lake.fs.exists(
        f"{lake._dir(name)}/dv"
    ) else set()


def test_dv_sidecar_round_trip_exact_and_rewrites_nothing(lake, spark, monkeypatch):
    """A delete past the inline tier lands as a parquet sidecar: the
    manifest carries only a pointer, no data file is rewritten, the read
    is exact, and a FRESH handle (cold manifest load) sees it too."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 10)
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    files = {f for f in lake.table("t").inputFiles() if "/data/" in f}
    lake.delete_where("t", F.col("k").between(20, 59), mode="dv")  # 40 > 10
    # data files untouched; the only addition is the sidecar's parquet
    assert {f for f in lake.table("t").inputFiles() if "/data/" in f} == files, (
        "sidecar delete rewrote data"
    )
    # the masked read's plan no longer surfaces the sidecar parquet in
    # inputFiles() (r13: the build side is the persisted per-version
    # cache, whose InMemoryRelation hides its lineage) — assert the
    # sidecar parquet is where the positions actually live instead
    m = lake._load_meta("t")
    assert any(
        "/dv/" in f for f in lake._sidecar_fp_df("t", m.dv_sidecars).inputFiles()
    )
    assert lake._sidecar_fp_df("t", m.dv_sidecars).count() == 40
    assert m.deletion_vectors == {}, "big delete must not grow the inline dict"
    assert len(m.dv_sidecars) == 1
    rel, n, seqs, rels, files, finfo, fmt = m.dv_sidecars[0]
    assert fmt == Lakehouse._DV_SIDECAR_FORMAT
    assert n == 40 and rel.startswith("dv/") and seqs
    # per-file stats (r14): counts must sum to the entry total, every
    # listed file must have an entry
    assert finfo is not None and set(finfo) == set(files)
    assert sum(v[0] for v in finfo.values()) == n
    # the entry records the affected partitions so readers confine the
    # anti-join to them (k 20-59 spans only part=0)
    assert rels == ["part=0"]
    # ... and the exact touched files (r13) so the file split can rescue
    # untouched part-files within those partitions
    assert files and all(f.rsplit("/", 1)[0].endswith("part=0") for f in files)
    assert sorted(r.k for r in lake.table("t").collect()) == [
        k for k in range(200) if not 20 <= k <= 59
    ]
    assert lake.scan("t").count() == 160
    fresh = Lakehouse(spark, lake.root)
    assert fresh.table("t").count() == 160


def test_dv_inline_overflow_spills_to_sidecar(lake, spark, monkeypatch):
    """Successive small deletes crossing the inline tier spill to a
    sidecar instead of growing the manifest unboundedly; both tiers
    apply together and merge-correctly on re-delete."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 15)
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")   # inline (10)
    m = lake._load_meta("t")
    assert sum(e[0] for e in m.deletion_vectors.values()) == 10
    assert m.dv_sidecars == []
    lake.delete_where("t", F.col("k") < 22, mode="dv")   # +12 would be 22 > 15
    m = lake._load_meta("t")
    assert sum(e[0] for e in m.deletion_vectors.values()) == 10, "inline unchanged"
    assert len(m.dv_sidecars) == 1 and m.dv_sidecars[0][1] == 12
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(22, 100))
    # re-delete of already-vectored rows (both tiers) is a no-op
    v = m.version
    lake.delete_where("t", F.col("k") < 22, mode="dv")
    assert lake._load_meta("t").version == v


def test_dv_sidecar_materializes_on_compact_and_is_vacuumed(spark, tmp_path, monkeypatch):
    """compact() absorbs sidecar deletes exactly like inline ones and the
    pruned sidecar FILE is reclaimed by vacuum — while a referenced
    sidecar survives vacuum untouched."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 5)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 30, mode="dv")
    assert len(_sidecar_files(lake, "t")) == 1
    lake.vacuum("t", grace_s=0)
    assert len(_sidecar_files(lake, "t")) == 1, "live sidecar vacuumed"
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(30, 100))
    lake.compact("t", full=True)
    m = lake._load_meta("t")
    assert m.dv_sidecars == [] and m.deletion_vectors == {}
    assert lake.table("t").count() == 70
    lake.vacuum("t", grace_s=0)
    assert _sidecar_files(lake, "t") == set(), "dead sidecar must be reclaimed"
    assert lake.table("t").count() == 70


def test_update_where_dv_sidecar_path_atomic(lake, spark, monkeypatch):
    """update_where past the inline tier: originals to a sidecar
    (executor-side), transformed copies as one delta generation, ONE
    commit; row count preserved and values exact."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 10)
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 50, (p + 1) * 50, p))
    v0 = lake._load_meta("t").version
    lake.update_where("t", F.col("k") < 30, {"v": F.lit(-1.0)}, mode="dv")
    m = lake._load_meta("t")
    assert m.version == v0 + 1, "must be ONE commit"
    assert m.deletion_vectors == {} and len(m.dv_sidecars) == 1
    assert m.dv_sidecars[0][1] == 30
    got = {r.k: r.v for r in lake.table("t").collect()}
    assert len(got) == 100
    assert all(got[k] == -1.0 for k in range(30))
    assert all(got[k] == float(k) for k in range(30, 100))


def test_dv_cumulative_bound_counts_sidecars(spark, tmp_path, monkeypatch):
    """The total-vector budget spans BOTH tiers: sidecar positions count
    toward the cumulative cap, so auto materializes once inline+sidecar
    would exceed it."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 10)
    monkeypatch.setattr(Lakehouse, "_DV_AUTO_MAX_ROWS", 40)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 25, mode="dv")  # sidecar, 25
    m = lake._load_meta("t")
    assert len(m.dv_sidecars) == 1 and m.dv_sidecars[0][1] == 25
    with pytest.raises(ValueError, match="optimize\\(\\)/compact\\(\\)"):
        lake.delete_where("t", F.col("k") < 45, mode="dv")  # +20 > 40
    files = set(lake.table("t").inputFiles())
    lake.delete_where("t", F.col("k") < 45, mode="auto")  # materializes
    assert set(lake.table("t").inputFiles()) != files
    m = lake._load_meta("t")
    assert m.dv_sidecars == [] and m.deletion_vectors == {}
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(45, 100))


def test_dv_sidecar_time_travel_restore_and_cdc(spark, tmp_path, monkeypatch):
    """Sidecar pointers ride the archived manifests: time travel sees
    the pre/post-delete states, restore round-trips, and the pruned CDC
    path on a partitioned PK table emits the sidecar deletes."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 3)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("p", SCHEMA, ["part"], ["k", "part"], retain_versions=10)
    lake.upsert("p", _batch(spark, 0, 15, 0))
    lake.upsert("p", _batch(spark, 15, 30, 1))
    lake.optimize("p")
    v0 = lake._load_meta("p").version
    lake.delete_where("p", F.col("k").isin([5, 6, 7, 20]), mode="dv")
    v1 = lake._load_meta("p").version
    assert len(lake._load_meta("p").dv_sidecars) == 1
    assert lake.table("p", version=v0).count() == 30
    assert lake.table("p", version=v1).count() == 26
    ch = lake.table_changes("p", v0).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [
        (5, "delete"), (6, "delete"), (7, "delete"), (20, "delete"),
    ]
    lake.restore("p", v0)
    assert lake.table("p").count() == 30
    lake.restore("p", v1)
    assert lake.table("p").count() == 26
    # the restored sidecar must also survive vacuum (referenced again)
    lake.vacuum("p", grace_s=0)
    assert lake.table("p").count() == 26


def test_dv_sidecar_rival_rewrite_conflicts(lake, spark, monkeypatch):
    """A stale rewrite racing a rival SIDECAR delete under its footprint
    must refuse — committing would resurrect the rival's deletes."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 3)
    lake.create("t", SCHEMA, ["part"], ["k", "part"])
    lake.upsert("t", _batch(spark, 0, 50, 0))
    lake.optimize("t")
    meta0 = lake._load_meta("t")
    before0 = lake._snapshot_meta(meta0)
    rival = Lakehouse(lake.spark, lake.root)
    rival.delete_where("t", F.col("k") < 10, mode="dv")  # sidecar (10 > 3)
    assert len(rival._load_meta("t").dv_sidecars) == 1
    raw = lake._read_raw("t", before0)
    seq = lake._reserve_seq("t", meta0)
    token = lake._write_seq("t", meta0, raw.drop("_seq"), seq)
    for rel in lake.fs.glob_dir_leaves(f"{lake._seq_dir('t', seq)}/*=*", 1):
        meta0.committed[rel] = seq
    meta0.live_deltas = []
    meta0.dirty_partitions = []
    rebase = lake._make_rebase(before0, meta0, "rmw", base_rels=None)
    with pytest.raises(ConcurrentWriteError):
        lake._commit_meta(meta0, token, action="stale-rewrite", rebase=rebase)
    assert Lakehouse(lake.spark, lake.root).table("t").count() == 40


def test_dv_prune_fail_closed_on_malformed_entries():
    """r12 advice: _prune_deletion_vectors must KEEP entries it cannot
    parse — on a delete-masking structure, dropping a malformed key
    would silently resurrect deleted rows."""
    from at_data_pipelines_spark.catalog import TableMeta
    import json as _json
    from pyspark.sql import types as T2

    meta = TableMeta(
        name="t",
        schema_json=_json.dumps(T2.StructType([T2.StructField("k", T2.LongType())]).jsonValue()),
    )
    meta.live_deltas = [3]
    meta.deletion_vectors = {
        "_seq=3/part-a.parquet": [1, "AQ=="],      # live: kept
        "_seq=9/part-b.parquet": [1, "AQ=="],      # dead generation: pruned
        "garbage-no-seq/part-c.parquet": [1, "AQ=="],  # unparseable: KEPT
    }
    meta.dv_sidecars = [
        ["dv/dv-live", 5, [3]],        # references live gen: kept
        ["dv/dv-dead", 5, [9]],        # dead gen: pruned
        ["dv/dv-bad", 5, "not-a-list"],  # malformed: KEPT (fail closed)
    ]
    Lakehouse._prune_deletion_vectors(meta)
    assert set(meta.deletion_vectors) == {
        "_seq=3/part-a.parquet", "garbage-no-seq/part-c.parquet",
    }
    assert [e[0] for e in meta.dv_sidecars] == ["dv/dv-live", "dv/dv-bad"]


def test_update_where_pk_cross_partition_shadow_never_resurfaces(lake, spark):
    """r11 verdict task #6 regression pin — the suspicion was RIGHT: on
    a PK table whose partition key is NOT part of the PK, routing a
    partition-key update through plain upsert strands the stale copy in
    the source partition's base (a pruned optimize never reads it), so
    the duplicate PK survived forever. update_where now appends the
    moved copies WITH the source partitions marked dirty in the same
    commit, and the optimize it runs absorbs source and target
    together — every read path must show exactly one copy from the
    moment update_where returns."""
    lake.create("p", SCHEMA, ["part"], ["k"], retain_versions=10)
    lake.upsert("p", _batch(spark, 0, 20, 0))
    lake.optimize("p")
    v0 = lake._load_meta("p").version
    lake.update_where("p", F.col("k") == 3, {"part": F.lit(1), "v": F.lit(-3.0)})
    # scan + table: exactly one k=3, in the new partition (update_where
    # already ran the absorbing optimize — no deltas left to mask shadows)
    assert lake._load_meta("p").live_deltas == []
    for df in (lake.table("p"), lake.scan("p")):
        got = [(r.part, r.v) for r in df.filter("k = 3").collect()]
        assert got == [(1, -3.0)], got
    assert lake.table("p").count() == 20
    # CDC between the snapshots: an update pre/post pair, no phantom delete
    ch = lake.table_changes("p", v0).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [
        (3, "update_postimage"), (3, "update_preimage"),
    ]
    # a later full optimize must not resurrect anything either
    lake.optimize("p", full=True)
    for df in (lake.table("p"), lake.scan("p")):
        got = [(r.part, r.v) for r in df.filter("k = 3").collect()]
        assert got == [(1, -3.0)], got
    assert lake.table("p").count() == 20
    # and time travel still shows the pre-update state
    assert [
        (r.part, r.v) for r in lake.table("p", version=v0).filter("k = 3").collect()
    ] == [(0, 3.0)]


def test_analyze_reports_cross_partition_pk_shadows(lake, spark):
    """analyze()['pk_duplicates'] surfaces the one remaining door to a
    stranded shadow — a caller driving upsert() directly with an
    UNSTABLE partition value for an existing key — and optimize(full)
    repairs it."""
    lake.create("p", SCHEMA, ["part"], ["k"])
    lake.upsert("p", _batch(spark, 0, 10, 0))
    lake.optimize("p")
    assert lake.analyze("p")["pk_duplicates"] == 0
    # while a delta is PENDING the diagnostic stays LIVE but counts
    # duplicates among COMMITTED generations only (r13 — the r12 cut
    # withheld it entirely, so a continuously-upserted table never ran
    # the shadow check again): the legitimate delta-vs-base copy is
    # excluded from the count, not the check from the table
    lake.insert("p", spark.createDataFrame([(4, 0, 44.0)], SCHEMA), mode="append")
    stats = lake.analyze("p")
    assert stats["pk_duplicates"] == 0
    assert stats["pending_deltas"] == 1
    lake.optimize("p")
    # contract violation: same key re-landed under a different partition
    # (the small-batch fast path absorbs immediately — no pending delta —
    # so the stale part=0 copy is a STRANDED shadow the moment it lands)
    lake.upsert("p", spark.createDataFrame([(3, 1, -3.0)], SCHEMA))
    stats = lake.analyze("p")
    assert stats["pending_deltas"] == 0
    assert stats["pk_duplicates"] == 1, "stranded shadow must be visible"
    # ... and an unrelated pending delta must NOT hide it (the r13
    # review's scenario: under continuous ingest the r12 gate would
    # never have surfaced the shadow again)
    lake.insert("p", spark.createDataFrame([(100, 0, 1.0)], SCHEMA), mode="append")
    stats = lake.analyze("p")
    assert stats["pending_deltas"] == 1
    assert stats["pk_duplicates"] == 1, "shadow hidden by unrelated delta"
    lake.optimize("p", full=True)
    assert lake.analyze("p")["pk_duplicates"] == 0
    assert [(r.part, r.v) for r in lake.table("p").filter("k = 3").collect()] == [
        (1, -3.0)
    ]


def test_dv_confined_read_masks_only_affected_partitions(lake, spark, monkeypatch):
    """r12: the anti-join costs ~100ns per PROBE row (it breaks
    whole-stage codegen), so _read_raw confines it to the partitions
    the manifest says carry vectors — clean partitions scan on the
    plain codegen path via a union. Exactness across mixed
    inline+sidecar vectors, a clean partition, and a later delta.
    Range routing is disabled so the pin keeps exercising the join
    confinement itself (r16: these run/2-position shapes otherwise
    route join-free through the consolidated range scan)."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 10)
    monkeypatch.setattr(Lakehouse, "_DV_RANGE_MAX_RUNS", 0)
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(3):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    lake.delete_where("t", F.col("k").isin([5, 7]), mode="dv")          # inline, part=0
    lake.delete_where("t", F.col("k").between(120, 150), mode="dv")    # sidecar, part=1
    m = lake._load_meta("t")
    assert m.deletion_vectors and m.dv_sidecars
    assert lake._dv_affected_rels(m) == {"part=0", "part=1"}
    plan = lake.table("t")._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan and "LeftAnti" in plan
    # the clean partition's base never enters the join branch: every
    # scan under the join reads only affected-partition or dv paths
    want = sorted(k for k in range(300) if k not in (5, 7) and not 120 <= k <= 150)
    assert sorted(r.k for r in lake.table("t").collect()) == want
    assert sorted(r.k for r in lake.table("t").filter("part = 2").collect()) == list(range(200, 300))
    # a later delta lands in the masked branch (its files CAN carry
    # future vectors) and its rows survive unmasked
    lake.insert("t", _batch(spark, 300, 310, 2), mode="append")
    assert lake.table("t").count() == len(want) + 10
    assert sorted(r.k for r in lake.table("t").filter("part = 2").collect()) == (
        list(range(200, 300)) + list(range(300, 310))
    )
    # unpartitioned tables cannot confine: affected is None
    lake.create("u", SCHEMA, [], [])
    lake.insert("u", _batch(spark, 0, 50, 0))
    lake.delete_where("u", F.col("k") == 1, mode="dv")
    assert lake._dv_affected_rels(lake._load_meta("u")) is None
    assert lake.table("u").count() == 49


def test_dv_sidecars_survive_segmented_log_fold(spark, tmp_path, monkeypatch):
    """dv_sidecars is carried WHOLE per segment (it is pointer-sized,
    unlike the delta-folded deletion_vectors dict): a fresh handle
    folding segments over a columnar checkpoint must reconstruct the
    pointers and read the sidecar-masked table exactly."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 5)
    orig_seg = Lakehouse._LOG_SEGMENT_THRESHOLD
    orig_col = Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES
    Lakehouse._LOG_SEGMENT_THRESHOLD = 0
    Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = 1
    try:
        lake = Lakehouse(spark, str(tmp_path / "lake"))
        lake.create("t", SCHEMA, ["part"], [])
        lake.insert("t", _batch(spark, 0, 100, 0))
        lake.insert("t", _batch(spark, 100, 200, 1))
        lake.delete_where("t", F.col("k") < 20, mode="dv")            # sidecar
        lake.delete_where("t", F.col("k").between(150, 180), mode="dv")  # second
        want = lake._load_meta("t").dv_sidecars
        assert len(want) == 2 and sum(e[1] for e in want) == 51
        fresh = Lakehouse(spark, lake.root)
        got = fresh._load_meta("t").dv_sidecars
        assert got == want
        assert sorted(r.k for r in fresh.table("t").collect()) == [
            k for k in range(200) if k >= 20 and not 150 <= k <= 180
        ]
    finally:
        Lakehouse._LOG_SEGMENT_THRESHOLD = orig_seg
        Lakehouse._COLUMNAR_CHECKPOINT_MIN_ENTRIES = orig_col


def test_fast_upsert_does_not_resurrect_vector_deleted_rows(lake, spark):
    """r12 review find — a REAL r11 wrong answer: the driver-side fast
    upsert merged the committed base files RAW (pyarrow, no DV mask),
    concatenating vector-deleted rows into the new generation; the
    commit then pruned the vectors (old generation invisible) and the
    deleted rows silently came back. A table carrying vectors must take
    the distributed path (which reads DV-masked) until a rewrite
    materializes them."""
    import pandas as pd

    lake.create("p", SCHEMA, [], ["k"])
    lake.upsert("p", _batch(spark, 0, 20, 0))
    lake.optimize("p")
    lake.delete_where("p", F.col("k") == 4, mode="dv")
    assert lake.table("p").filter("k = 4").count() == 0
    # tiny single-row upsert of a DIFFERENT key: exactly the shape the
    # driver-side fast path exists for
    lake.upsert("p", spark.createDataFrame(pd.DataFrame({"k": [3], "part": [0], "v": [9.9]}), SCHEMA))
    assert lake.table("p").filter("k = 4").count() == 0, "deleted row resurrected"
    got = {r.k: r.v for r in lake.table("p").collect()}
    assert got[3] == 9.9 and 4 not in got and len(got) == 19
    # same shape on a PARTITIONED table: vectors in one rel, upsert to it
    lake.create("q", SCHEMA, ["part"], ["k", "part"])
    lake.upsert("q", _batch(spark, 0, 20, 0))
    lake.optimize("q")
    lake.delete_where("q", F.col("k") == 7, mode="dv")
    lake.upsert("q", spark.createDataFrame(pd.DataFrame({"k": [2], "part": [0], "v": [5.5]}), SCHEMA))
    assert lake.table("q").filter("k = 7").count() == 0, "deleted row resurrected"
    assert lake.table("q").count() == 19


def test_dv_confined_read_keeps_vector_free_deltas_clean(lake, spark):
    """A live delta appended AFTER the vectors exist belongs to a
    generation no vector names — it must scan on the clean branch, and
    the read stays exact (base vectors applied, delta rows intact)."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    lake.insert("t", _batch(spark, 100, 120, 1), mode="append")
    m = lake._load_meta("t")
    vseqs = lake._dv_vector_seqs(m)
    assert vseqs is not None and vseqs
    assert any(s not in vseqs for s in m.live_deltas), "fresh delta mis-tagged"
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(10, 120))
    # the vectors still apply after a compaction of only the delta's rel
    lake.compact("t")
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(10, 120))


def test_dv_sidecars_consolidate_past_count_bound(spark, tmp_path, monkeypatch):
    """Every over-inline delete lands a NEW sidecar file; past
    _DV_SIDECAR_MERGE_AT the write path consolidates them into one in
    the same commit, so a reader's build side opens O(1) files no
    matter how many under-cap deletes accumulate between compactions."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 2)
    monkeypatch.setattr(Lakehouse, "_DV_SIDECAR_MERGE_AT", 3)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    for i in range(5):  # each deletes 3 rows -> sidecar (inline cap 2)
        lake.delete_where("t", F.col("k").between(i * 10, i * 10 + 2), mode="dv")
    m = lake._load_meta("t")
    assert len(m.dv_sidecars) <= 4, [e[:2] for e in m.dv_sidecars]
    assert sum(e[1] for e in m.dv_sidecars) == 15
    deleted = {k for i in range(5) for k in range(i * 10, i * 10 + 3)}
    assert sorted(r.k for r in lake.table("t").collect()) == sorted(
        set(range(100)) - deleted
    )
    # superseded sidecar files are vacuumable (retain_versions=0 here)
    n_before = len(lake.fs.list_subdirs(f"{lake._dir('t')}/dv"))
    lake.vacuum("t", grace_s=0)
    n_after = len(lake.fs.list_subdirs(f"{lake._dir('t')}/dv"))
    assert n_after <= len(m.dv_sidecars) < n_before
    assert sorted(r.k for r in lake.table("t").collect()) == sorted(
        set(range(100)) - deleted
    )
    # re-delete of already-vectored rows across the MERGED sidecar: no-op
    v = lake._load_meta("t").version
    lake.delete_where("t", F.col("k") < 3, mode="dv")
    assert lake._load_meta("t").version == v


def test_pruned_scan_and_cdc_prune_the_vector_build_side(lake, spark, monkeypatch):
    """A zone-pruned scan() confined to one partition must not broadcast
    the whole table's vectors: the build side prunes to the scanned
    rels (inline by key rel, sidecars by recorded rel list + row-level
    filter) while results remain EXACTLY table().filter(...)."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 4)
    lake.create(
        "t", SCHEMA, ["part"], [], stats_columns=["k"], retain_versions=10
    )
    for p in range(3):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    lake.delete_where("t", F.col("k").isin([5, 7]), mode="dv")       # inline part=0
    lake.delete_where("t", F.col("k").between(120, 140), mode="dv")  # sidecar part=1
    # scan confined to part=2's key range: no vectors there at all
    got = lake.scan("t", where={"k": (200, 299)})
    assert sorted(r.k for r in got.collect()) == list(range(200, 300))
    # its input must not touch the dv sidecar parquet (build side pruned away)
    assert not any("/dv/" in f for f in got.inputFiles()), "unpruned build side"
    # scan over part=1's range: sidecar applies, inline (part=0) pruned out
    got = lake.scan("t", where={"k": (100, 199)})
    assert sorted(r.k for r in got.collect()) == [
        k for k in range(100, 200) if not 120 <= k <= 140
    ]
    # CDC-style rel read applies the same confinement and stays exact
    m = lake._load_meta("t")
    rows = lake._read_rels("t", m, {"part=0"})
    assert sorted(r.k for r in rows.collect()) == [
        k for k in range(100) if k not in (5, 7)
    ]
    assert not any("/dv/" in f for f in rows.inputFiles())


def test_update_where_moving_entire_partition_pops_emptied_base(lake, spark):
    """r12 review find (a real wrong answer): when EVERY row of a source
    partition moves, the absorbing optimize's keep-latest empties it —
    the shared rewrite never popped the emptied rel's committed pointer,
    so the stale base stayed visible and the moved rows read back
    duplicated forever."""
    lake.create("p", SCHEMA, ["part"], ["k"])
    for p in range(2):
        lake.upsert("p", _batch(spark, p * 10, (p + 1) * 10, p))
    lake.optimize("p")
    lake.update_where("p", F.col("part") == 0, {"part": F.lit(1)})
    assert lake.table("p").count() == 20
    assert sorted({r.part for r in lake.table("p").collect()}) == [1]
    m = lake._load_meta("p")
    assert "part=0" not in m.committed, "emptied partition pointer kept"
    # and the PK-less analogue through update_where's own rewrite path
    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 10, (p + 1) * 10, p))
    lake.update_where("t", F.col("part") == 0, {"part": F.lit(1)}, mode="rewrite")
    assert lake.table("t").count() == 20
    assert sorted({r.part for r in lake.table("t").collect()}) == [1]


def test_time_travel_to_vacuumed_sidecar_raises_snapshot_expired(spark, tmp_path, monkeypatch):
    """r12 review find: _version_meta validated only data generations —
    time travel to a version whose SIDECAR was reclaimed surfaced as a
    raw Spark path error mid-read (and restore would commit the broken
    state). Both must refuse with SnapshotExpiredError up front."""
    from at_data_pipelines_spark.catalog import SnapshotExpiredError

    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 2)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, [], [], retain_versions=10)
    lake.insert("t", _batch(spark, 0, 50, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")  # sidecar
    v_side = lake._load_meta("t").version
    m = lake._load_meta("t")
    assert m.dv_sidecars
    # simulate expiry of just the sidecar (a pruned+vacuumed dv file
    # whose data generations are still referenced by the current state)
    lake.fs.delete(f"{lake._dir('t')}/{m.dv_sidecars[0][0]}")
    with pytest.raises(SnapshotExpiredError):
        lake.table("t", version=v_side)
    with pytest.raises(SnapshotExpiredError):
        lake.restore("t", v_side)


def test_rewrite_pruning_sidecar_still_rebases_over_disjoint_rival_dv(lake, spark):
    """r12 review find: keying the consolidation rebase guard on popped
    entries ALONE cost every rewrite that absorbs a sidecar its commit
    whenever an unrelated dv delete raced it. A rewrite that PRUNES a
    sidecar (popped, nothing added) must still rebase over a rival
    sidecar whose generations are provably outside its footprint —
    while an actual consolidation (popped AND added) must refuse."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 10, 0))
    lake.compact("t", full=True)  # commit the base pointer
    meta = lake._load_meta("t")
    before = lake._snapshot_meta(meta)
    base_seq = before.committed["part=0"]
    # part=9 exists with its own committed generation (the rival's
    # sidecar must reference a VISIBLE generation or the replay's
    # prune drops it)
    before.committed["part=9"] = base_seq + 99
    meta.committed["part=9"] = base_seq + 99
    # our rewrite of part=0: prunes its sidecar S, repoints the base
    after = lake._snapshot_meta(meta)
    before.dv_sidecars = [["dv/dv-S", 5, [base_seq], ["part=0"]]]
    after.dv_sidecars = []
    after.committed = dict(before.committed)
    after.committed["part=0"] = base_seq + 7
    rebase = lake._make_rebase(before, after, "rmw", base_rels={"part=0"})
    # rival dv delete landed on part=9 meanwhile (disjoint generation)
    fresh = lake._snapshot_meta(meta)
    fresh.dv_sidecars = [
        ["dv/dv-S", 5, [base_seq], ["part=0"]],
        ["dv/dv-R", 3, [base_seq + 99], ["part=9"]],
    ]
    fresh.committed = dict(before.committed)
    out = rebase(fresh)
    assert out is not None, "prune-only rewrite must rebase over disjoint rival dv"
    assert [e[0] for e in out.dv_sidecars] == ["dv/dv-R"]
    assert out.committed["part=0"] == base_seq + 7
    # a CONSOLIDATION (popped AND added) over the same rival refuses
    after2 = lake._snapshot_meta(meta)
    after2.dv_sidecars = [["dv/dv-M", 5, [base_seq], ["part=0"]]]
    before2 = lake._snapshot_meta(meta)
    before2.dv_sidecars = [["dv/dv-S", 5, [base_seq], ["part=0"]]]
    after2.committed = dict(before2.committed)
    rebase2 = lake._make_rebase(before2, after2, "rmw", base_rels={"part=0"})
    fresh2 = lake._snapshot_meta(meta)
    fresh2.dv_sidecars = [
        ["dv/dv-S", 5, [base_seq], ["part=0"]],
        ["dv/dv-R", 3, [base_seq + 99], ["part=9"]],
    ]
    fresh2.committed = dict(before2.committed)
    assert rebase2(fresh2) is None, "consolidation must not rebase over rival dv"


# --- r13: the persisted build-side cache (masked-read floor amortization) ---


def test_dv_build_cache_hit_same_version_fresh_after_every_commit(lake, spark, monkeypatch):
    """The verdict's invalidation contract: delete -> read -> delete ->
    read sees BOTH deletes (a commit bumps the manifest version, which
    changes the cache key), while two reads of the SAME version share
    one persisted build side."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 4)
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    m1 = lake._load_meta("t")
    b1 = lake._dv_build_df("t", m1)
    assert lake._dv_build_df("t", m1) is b1, "same version must hit the cache"
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(10, 100))
    lake.delete_where("t", F.col("k").between(50, 59), mode="dv")
    m2 = lake._load_meta("t")
    assert m2.version > m1.version
    b2 = lake._dv_build_df("t", m2)
    assert b2 is not b1, "new version must rebuild"
    assert b2.count() == 20
    assert sorted(r.k for r in lake.table("t").collect()) == [
        k for k in range(10, 100) if not 50 <= k <= 59
    ]
    # the build side carries the materialized rel column (no per-query
    # regexp) and the precomputed join-key hashes
    assert set(b2.columns) == {
        "__dvd_f", "__dvd_p", "__dvd_rel", "__dvd_h1", "__dvd_h2"
    }
    assert {r["__dvd_rel"] for r in b2.select("__dvd_rel").distinct().collect()} == {"part=0"}


def test_dv_build_cache_lru_bound_and_drop_purge(lake, spark, monkeypatch):
    """The cache never holds more than _DV_CACHE_MAX persisted entries
    (oldest unpersisted on eviction) and drop() purges a table's
    entries so a recreate can never read a dead life's positions."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 4)
    monkeypatch.setattr(Lakehouse, "_DV_CACHE_MAX", 2)
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    builds = []
    for lo in (0, 10, 20):
        lake.delete_where("t", F.col("k").between(lo, lo + 4), mode="dv")
        m = lake._load_meta("t")
        builds.append(lake._dv_build_df("t", m))
        assert len(lake._dv_cache) <= 2
    assert builds[0].storageLevel.useMemory is False, "evicted entry must unpersist"
    assert builds[-1].storageLevel.useMemory is True
    lake.drop("t")
    assert lake._dv_cache == {}
    assert builds[-1].storageLevel.useMemory is False
    # recreate under the same name: a masked read sees ONLY the new life
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 50, 0))
    lake.delete_where("t", F.col("k") < 5, mode="dv")
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(5, 50))


def test_dv_vector_free_pruned_scan_still_never_touches_cache(lake, spark, monkeypatch):
    """Entry-level rel pruning still decides WHETHER the join happens at
    all: a pruned scan confined to vector-free partitions must neither
    open the dv parquet nor populate the build cache (cold or warm)."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 4)
    lake.create("t", SCHEMA, ["part"], [], stats_columns=["k"])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    lake.delete_where("t", F.col("k").between(20, 40), mode="dv")  # part=0 only
    got = lake.scan("t", where={"k": (100, 199)})
    assert got.count() == 100
    assert lake._dv_cache == {}, "vector-free pruned scan populated the cache"
    assert not any("/dv/" in f for f in got.inputFiles())


def test_dv_hash_key_join_never_cross_masks_same_positions(lake, spark, monkeypatch):
    """r13 join-key pin: the anti-join keys are (xxhash64(rel path),
    xxhash64(rel path + salt), position). Two files holding the SAME row
    positions must never mask each other — delete rows 0..4 of part=0's
    file and part=1's rows 0..4 (same positions, different file) must
    all survive. Also pins that the two hashes are genuinely different
    functions (the salt is live)."""
    from pyspark.sql import functions as FF

    lake.create("t", SCHEMA, ["part"], [])
    for p in range(2):
        lake.insert("t", _batch(spark, p * 100, (p + 1) * 100, p))
    # positions 0-4 of part=0 (k depends on write order; use predicate
    # on k<5 which lives in part=0's file at positions 0-4 by range write)
    lake.delete_where("t", (F.col("part") == 0) & (F.col("k") < 5), mode="dv")
    assert lake.table("t").filter("part = 1").count() == 100, (
        "same positions in a different file were cross-masked"
    )
    assert lake.table("t").count() == 195
    m = lake._load_meta("t")
    b = lake._dv_build_df("t", m)
    r = b.select(
        (FF.col("__dvd_h1") == FF.col("__dvd_h2")).alias("same")
    ).collect()
    assert r and not any(x.same for x in r), "salt must differentiate h2 from h1"


def _drift_update_pk(lake, spark):
    lake.update_where(
        "p", (F.col("part") == 0) & (F.col("k") < 5), {"part": F.lit(2)}
    )


def _drift_delete(lake, spark):
    lake.delete_where("p", (F.col("part") == 0) & (F.col("k") < 5))


def _drift_update_rewrite(lake, spark):
    lake.update_where(
        "p",
        (F.col("part") == 0) & (F.col("k") < 5),
        {"part": F.lit(2)},
        mode="rewrite",
    )


@pytest.mark.parametrize(
    "op, pk",
    [
        pytest.param(_drift_update_pk, ["k"], id="update_where_pk"),
        pytest.param(_drift_delete, ["k"], id="delete_where"),
        pytest.param(_drift_update_rewrite, [], id="update_where_rewrite"),
    ],
)
def test_emptied_partition_pop_requires_read_evidence(lake, spark, monkeypatch, op, pk):
    """r12 advice pin: the emptied-partition pointer pop must only fire
    with EVIDENCE the rewrite actually read the rel's rows, on every
    write path that replaces a partition scope (they share one commit).
    Simulate _rel_filter encoding drift (it silently under-selects
    part=0) and delete or move SOME of part=0's keys: without the guard
    the rewrite would pop part=0's pointer — losing the untouched k5..9
    forever. With it, the pointer is kept: the failure mode is a
    partition left unrewritten (for a PK move, a duplicate-visible
    uncompacted partition, detectable via analyze()['pk_duplicates']),
    never silent data loss."""
    lake.create("p", SCHEMA, ["part"], pk)
    if pk:
        lake.upsert("p", _batch(spark, 0, 10, 0))
        lake.upsert("p", _batch(spark, 10, 20, 1))
        lake.optimize("p")
    else:
        lake.insert("p", _batch(spark, 0, 10, 0))
        lake.insert("p", _batch(spark, 10, 20, 1))
        lake.compact("p")

    orig = Lakehouse._rel_filter

    def drifted(self, meta, rels):
        cond = orig(self, meta, rels)
        return cond if cond is None else (cond & (F.col("part") != 0))

    monkeypatch.setattr(Lakehouse, "_rel_filter", drifted)
    op(lake, spark)
    m = lake._load_meta("p")
    assert "part=0" in m.committed, (
        "pointer popped without read evidence — silent data loss"
    )
    ks = sorted(r.k for r in lake.table("p").collect())
    assert set(range(5, 20)) <= set(ks) <= set(range(20)), f"rows lost: {ks}"
    # the untouched k5..9 still in part=0
    assert {5, 6, 7, 8, 9} <= {r.k for r in lake.table("p").filter("part = 0").collect()}
    if op is _drift_update_pk:
        # the PK move itself landed: moved keys now live in part=2
        assert sorted(set(ks)) == list(range(20))
        assert sorted(
            r.k for r in lake.table("p").filter("part = 2").collect()
        ) == [0, 1, 2, 3, 4]


# ---------------------------------------------------------------------------
# FILE-level DV confinement (r13): only part-files that actually carry
# vectors pay the anti-join; untouched files within vector-carrying
# partitions scan on the clean codegen branch.
# ---------------------------------------------------------------------------


def _dir_files(lake, name, seq, rel):
    d = f"{lake._dir(name)}/data/_seq={seq}" + (f"/{rel}" if rel else "")
    names, _sub = lake.fs.list_dir(d)
    return [f"{d}/{n}" for n in names if not n.startswith(("_", "."))]


def test_dv_file_split_confines_probe_to_touched_files(lake, spark):
    """Z-ordered layout (several range-clustered files per partition dir)
    + a narrow SCATTERED DV delete (run-shaped deletes take the r14
    range-filter path and never reach the join — pinned separately):
    the join's probe side must be exactly the touched files' rows, every
    other file scanning clean — and the result must equal the full
    mask's."""
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(4):
        lake.insert("t", _batch(spark, i * 1000, (i + 1) * 1000, i % 2))
    lake.compact("t", zorder_by=["k"], zorder_files=4, full=True)
    m = lake._load_meta("t")
    per_dir = {rel: _dir_files(lake, "t", s, rel) for rel, s in m.committed.items()}
    assert all(len(fs) >= 2 for fs in per_dir.values()), (
        "layout precondition: zorder_files must yield multi-file dirs, got "
        f"{ {r: len(fs) for r, fs in per_dir.items()} }"
    )
    total_files = sum(len(fs) for fs in per_dir.values())
    # every 7th key below 700: z-order clusters k, so the positions are
    # isolated (100 runs of length 1 — far past _DV_RANGE_MAX_RUNS) and
    # the vectors stay on the anti-join path this test pins
    deleted = set(range(0, 700, 7))
    lake.delete_where("t", (F.col("k") % 7 == 0) & (F.col("k") < 700), mode="dv")
    m = lake._load_meta("t")
    touched = lake._dv_touched_files(m)
    assert touched is not None
    assert len(touched) < total_files, "narrow delete should leave files untouched"
    # expected probe = rows physically in the touched files
    expected_probe = (
        spark.read.parquet(
            *[f"{lake._dir('t')}/data/{f}" for f in sorted(touched)]
        ).count()
    )
    probe = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        probe.append(df.count())
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        got = sorted(r.k for r in lake.table("t").collect())
    finally:
        Lakehouse._apply_dvs = orig
    assert got == [k for k in range(4000) if k not in deleted]
    assert probe == [expected_probe], f"probe {probe} != touched rows {expected_probe}"
    assert expected_probe < 4000, "file split must keep untouched rows out of the join"


def test_dv_file_split_capped_entries_fall_back(lake, spark, monkeypatch):
    """A capped sidecar entry (files=None past _DV_SIDECAR_FILE_CAP) must
    disable the file split — dir-level confinement, and the exact same
    rows — never a wrong answer."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 5)
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(2):
        lake.insert("t", _batch(spark, i * 1000, (i + 1) * 1000, i))
    lake.compact("t", zorder_by=["k"], zorder_files=4, full=True)
    lake.delete_where("t", F.col("k").between(100, 149), mode="dv")
    m = lake._load_meta("t")
    # 6 data fields + the explicit format marker (e[6])
    assert len(m.dv_sidecars) == 1 and len(m.dv_sidecars[0]) == 7
    assert m.dv_sidecars[0][6] == Lakehouse._DV_SIDECAR_FORMAT
    # capped at write time: a new delete spanning > cap files records None
    monkeypatch.setattr(Lakehouse, "_DV_SIDECAR_FILE_CAP", 1)
    lake.delete_where("t", F.col("k").between(150, 1199), mode="dv")
    m = lake._load_meta("t")
    assert any(e[4] is None and e[5] is None for e in m.dv_sidecars)
    assert lake._dv_touched_files(m) is None
    got = sorted(r.k for r in lake.table("t").collect())
    assert got == [k for k in range(2000) if not 100 <= k <= 1199]


def test_dv_file_split_routing_fail_safes(lake, tmp_path):
    """Unit routing contract: subdir-bearing dirs stay whole, paths
    without the /data/ marker stay whole, hidden files are skipped, and
    untouched files land in clean."""
    import os
    from types import SimpleNamespace

    meta = SimpleNamespace(zone_maps={})
    d = tmp_path / "lakeX" / "data" / "_seq=0"
    os.makedirs(d)
    for fn in ("a.parquet", "b.parquet", "_SUCCESS", ".hidden"):
        (d / fn).write_bytes(b"")
    clean: list[str] = []
    still = lake._dv_file_split([str(d)], {"_seq=0/a.parquet"}, clean, meta)
    assert still == [f"{d}/a.parquet"]
    assert clean == [f"{d}/b.parquet"]
    # a dir with a subdirectory (partitioned live delta) is unsplittable
    os.makedirs(d / "part=0")
    clean2: list[str] = []
    assert (
        lake._dv_file_split([str(d)], {"_seq=0/a.parquet"}, clean2, meta)
        == [str(d)]
    )
    assert clean2 == []
    # no /data/ marker: kept whole rather than guessing at rel paths
    odd = tmp_path / "odd"
    os.makedirs(odd)
    assert lake._dv_file_split([str(odd)], {"x"}, [], meta) == [str(odd)]


def test_dv_file_split_unpartitioned_table_escapes_full_mask(lake, spark):
    """Unpartitioned tables have no partition-level confinement at all —
    before r13 one vector meant every row probed the join. With the
    touched-file set complete, untouched part-files now scan clean.
    Layout: two live-delta generations (their seq dirs hold files
    directly, so they are splittable) — deterministic multi-file
    geometry with no dependence on AQE advisory sizing, which proved
    session-config-sensitive under the full suite."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 20_000, 0))
    lake.insert("t", _batch(spark, 20_000, 40_000, 0))
    # scattered positions (50 isolated runs — past _DV_RANGE_MAX_RUNS),
    # so the vectors stay on the anti-join path whose probe this pins;
    # batch-1 files only
    lake.delete_where(
        "t", (F.col("k") % 400 == 0) & (F.col("k") < 20_000), mode="dv"
    )
    m = lake._load_meta("t")
    touched = lake._dv_touched_files(m)
    assert touched is not None
    total_files = len({p for p in lake._read_raw_unmasked("t", m).inputFiles()})
    assert len(touched) < total_files, "delete must leave files untouched"
    expected_probe = spark.read.parquet(
        *[f"{lake._dir('t')}/data/{f}" for f in sorted(touched)]
    ).count()
    probe = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        probe.append(df.count())
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        assert lake.table("t").count() == 39_950
    finally:
        Lakehouse._apply_dvs = orig
    assert probe == [expected_probe] and expected_probe < 40_000, (
        probe,
        expected_probe,
    )


def test_plan_cache_reuses_and_invalidates(lake, spark):
    """The raw-plan memo must return the identical DataFrame object for
    repeated reads of an unchanged manifest (the per-query listing-job
    amortization) and a fresh, correct plan after every commit —
    delete -> read -> delete -> read sees both deletes."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 1000, 0))
    m = lake._load_meta("t")
    a = lake._read_raw("t", m)
    b = lake._read_raw("t", lake._load_meta("t"))
    assert a is b, "unchanged manifest must reuse the constructed plan"
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    assert lake.table("t").count() == 990
    lake.delete_where("t", F.col("k") < 20, mode="dv")
    assert lake.table("t").count() == 980, "second delete must invalidate"
    # a mutated meta with the same version must MISS (content-addressed),
    # never return the other shape's plan: rebind the entries to the
    # capped shape (file list and per-file stats dropped, marker kept)
    m2 = lake._load_meta("t")
    capped = lake._load_meta("t")
    capped.dv_sidecars = [
        [*e[:4], None, None, e[6]] for e in capped.dv_sidecars
    ]
    if capped.dv_sidecars != m2.dv_sidecars:
        assert lake._read_raw("t", capped) is not lake._read_raw("t", m2)


def test_dv_exact_on_uri_encoded_partition_values(lake, spark):
    """r13 review find (verified wrong answer): _metadata.file_path is a
    URI, so a partition value needing encoding ('a b' -> 'part=a%20b')
    put every DV rel/file comparison in a mixed encoded/raw namespace —
    the vectored partition routed to the CLEAN branch and deleted rows
    resurfaced in table(), scan(), CDC, and the rebase guard; the prune
    even dropped the vector while its file stayed visible (fail-open).
    Every comparison now happens in the raw namespace (join keys stay
    encoded on both sides); this pins the full lifecycle on partition
    values with a space, a literal %XX, and non-ASCII."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], ["k"])
    parts = ["a b", "x%20y", "é世"]
    for i, p in enumerate(parts):
        lake.insert(
            "t",
            spark.range(i * 100, (i + 1) * 100).select(
                F.col("id").alias("k"),
                F.lit(p).alias("part"),
                (F.col("id") * 1.0).alias("v"),
            ),
        )
    lake.optimize("t")
    v = lake._load_meta("t").version
    lake.delete_where("t", F.col("k") % 100 < 10, mode="dv")  # 10 per part
    m = lake._load_meta("t")
    assert lake.table("t").count() == 270
    assert lake.scan("t").count() == 270
    assert lake.scan("t", where={"k": (0, 150)}).count() == 131
    aff = lake._dv_affected_rels(m)
    assert aff is not None and len(aff) == 3, aff
    assert all(r in m.committed for r in aff), (aff, list(m.committed))
    cdc = lake.table_changes("t", v, m.version)
    assert cdc.count() == 30
    assert {r._change_type for r in cdc.collect()} == {"delete"}
    # file split routing (when touched known) stays in the raw namespace
    touched = lake._dv_touched_files(m)
    if touched is not None:
        assert all("%2" not in f.rsplit("/", 1)[0] or "%25" in f for f in touched)
    # materialize: the rewrite must DROP the vectors (the fail-open
    # prune used to drop them while files were still visible)
    lake.compact("t", full=True)
    m = lake._load_meta("t")
    assert lake.table("t").count() == 270
    assert m.deletion_vectors == {} and m.dv_sidecars == []
    # merge-on-read update on the encoded partitions
    lake.update_where("t", F.col("k").between(20, 24), {"v": F.lit(-1.0)})
    assert lake.table("t").count() == 270
    assert lake.table("t").filter("v = -1.0").count() == 5


@pytest.mark.parametrize("val", ["a=b", "a/b", "100%", "a\nb"])
def test_dv_exact_on_hive_escaped_partition_values(lake, spark, val):
    """Hive-escaped partition values (the '=', '/', '%', control-char
    classes escape to %XX in the DIR NAME itself, which the URI layer
    then double-encodes): the full DV lifecycle must stay exact. The
    sibling uri-encoded test covers space/literal-%XX/non-ASCII; this
    sweeps the hive-escaping classes the r13 namespace fix must
    round-trip through BOTH encoding layers."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [])
    lake.insert(
        "t",
        spark.range(20).select(
            F.col("id").alias("k"),
            F.lit(val).alias("part"),
            (F.col("id") * 1.0).alias("v"),
        ),
    )
    lake.compact("t", full=True)
    lake.delete_where("t", F.col("k") < 5, mode="dv")
    assert lake.table("t").count() == 15
    assert lake.scan("t").count() == 15
    assert [r.part for r in lake.table("t").limit(1).collect()] == [val]
    lake.compact("t", full=True)  # materialize: prune must not fail open
    m = lake._load_meta("t")
    assert lake.table("t").count() == 15
    assert m.deletion_vectors == {} and m.dv_sidecars == []


def test_dv_rival_conflict_detected_on_encoded_partition_scope(lake, spark):
    """The rebase guard compares a rival vector's rel against the
    rewrite's SCOPED footprint — on a partition value needing URI
    encoding the pre-fix comparison ('part=a%20b' vs scope
    {'part=a b'}) silently missed, so a stale scoped rewrite would
    commit over the rival's vectors and resurrect its deleted rows."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [])

    def _b(lo, hi, part):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(part).alias("part"),
            (F.col("id") * 1.0).alias("v"),
        )

    lake.insert("t", _b(0, 50, "a b"))
    lake.insert("t", _b(50, 100, "c d"))
    lake.compact("t", full=True)
    meta0 = lake._load_meta("t")
    before0 = lake._snapshot_meta(meta0)
    # rival DV delete on 'a b' lands first
    rival = Lakehouse(lake.spark, lake.root)
    rival.delete_where("t", F.col("k") == 3, mode="dv")
    # our stale rewrite SCOPED to exactly that partition must conflict
    scope_rel = next(r for r in meta0.committed if r.startswith("part=a"))
    raw = lake._read_raw("t", before0).filter(F.col("part") == "a b")
    seq = lake._reserve_seq("t", meta0)
    token = lake._write_seq("t", meta0, raw.drop("_seq"), seq)
    written = lake.fs.glob_dir_leaves(f"{lake._seq_dir('t', seq)}/*=*", 1)
    for rel in written:
        meta0.committed[rel] = seq
    rebase = lake._make_rebase(before0, meta0, "rmw", base_rels={scope_rel})
    with pytest.raises(ConcurrentWriteError):
        lake._commit_meta(meta0, token, action="stale-scoped-rewrite", rebase=rebase)
    assert (
        Lakehouse(lake.spark, lake.root)
        .table("t")
        .filter(F.col("k") == 3)
        .count()
        == 0
    ), "rival's delete resurrected by a stale scoped rewrite"


# ---------------------------------------------------------------------------
# r14: fully-deleted files pruned at listing time (DV cardinality ==
# recorded row count), and the codegen NOT-BETWEEN range-filter fast
# path for run-shaped vectors.
# ---------------------------------------------------------------------------


def test_dv_fully_deleted_files_pruned_at_listing(lake, spark):
    """Deleting every row of a generation's files must drop those files
    from the scan's LISTING (no probe, no anti-join for them) while the
    surviving generation scans clean — Delta/Iceberg's 'DV cardinality
    == record count ⇒ prune file'."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 20_000, 0))
    lake.insert("t", _batch(spark, 20_000, 40_000, 0))
    m = lake._load_meta("t")
    gen1_files = {
        f for f in lake._read_raw_unmasked("t", m).inputFiles() if "_seq=0" in f
    }
    assert gen1_files
    lake.delete_where("t", F.col("k") < 20_000, mode="dv")
    m = lake._load_meta("t")
    # every touched file's row count was recorded at delete time
    touched = lake._dv_touched_files(m)
    assert touched is not None and set(m.dv_file_rows) == touched
    stats = lake._dv_file_stats(m)
    assert all(m.dv_file_rows[f] == stats[f][0] for f in touched)
    # dead files never enter the plan; the join is never built
    called = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        called.append(name)
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        df = lake.table("t")
        assert sorted(r.k for r in df.collect()) == list(range(20_000, 40_000))
    finally:
        Lakehouse._apply_dvs = orig
    assert not called, "fully-deleted files must not reach the anti-join"
    live = set(df.inputFiles())
    assert not (live & gen1_files), "dead files must be pruned from the listing"


def test_dv_partially_deleted_file_never_pruned(lake, spark):
    """A file with even ONE live row must stay in the scan — count ==
    max_position+1 is NOT proof of full deletion (the last row may be
    alive); only count == recorded row count is."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 5_000, 0).coalesce(1))
    lake.delete_where("t", F.col("k") < 4_999, mode="dv")
    got = [r.k for r in lake.table("t").collect()]
    assert got == [4_999], got
    m = lake._load_meta("t")
    stats = lake._dv_file_stats(m)
    (f,) = stats
    assert stats[f][0] == 4_999 and m.dv_file_rows[f] == 5_000


def test_dv_range_filter_bypasses_join_on_contiguous_delete(lake, spark, monkeypatch):
    """A contiguous-range delete (positions collapse to one run per
    file) must take the pure-codegen NOT-BETWEEN path: the broadcast
    anti-join is never constructed, and the executed plan carries no
    join operator at all (r15: files of any size route — the
    consolidated scan removed the per-file operator cost that used to
    gate tiny files onto the join)."""
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(2):
        lake.insert("t", _batch(spark, i * 2_000, (i + 1) * 2_000, i).coalesce(1))
    lake.compact("t", zorder_by=["k"], zorder_files=2, full=True)
    lake.delete_where("t", F.col("k").between(100, 299), mode="dv")
    called = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        called.append(name)
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        df = lake.table("t")
        got = sorted(r.k for r in df.collect())
    finally:
        Lakehouse._apply_dvs = orig
    assert got == [k for k in range(4_000) if not 100 <= k <= 299]
    assert not called, "run-shaped vectors must bypass the anti-join"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_dv_range_filter_equals_join_path_row_for_row(lake, spark, monkeypatch):
    """Differential pin: on a mixed run/scatter vector set, the range-
    filter routing must produce exactly the anti-join path's rows (the
    join path is forced by capping runs to 0 and purging the memoized
    plans)."""
    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 64)
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(2):
        lake.insert("t", _batch(spark, i * 3_000, (i + 1) * 3_000, i).coalesce(2))
    deleted = set()
    for pred, keys in [
        (F.col("k").between(100, 299), set(range(100, 300))),
        ((F.col("k") % 97 == 0) & (F.col("k") < 2_000), set(range(0, 2_000, 97))),
        (F.col("k").between(4_000, 4_004), set(range(4_000, 4_005))),
    ]:
        lake.delete_where("t", pred, mode="dv")
        deleted |= keys
    expect = sorted(k for k in range(6_000) if k not in deleted)
    got_range = sorted(r.k for r in lake.table("t").collect())
    assert got_range == expect
    monkeypatch.setattr(Lakehouse, "_DV_RANGE_MAX_RUNS", 0)
    lake._dv_cache_purge("t")
    got_join = sorted(r.k for r in lake.table("t").collect())
    assert got_join == got_range


def test_dv_file_rows_pruned_with_vectors(lake, spark):
    """dv_file_rows entries follow their generation out of the manifest
    when a rewrite materializes the deletes."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 1_000, 0))
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    m = lake._load_meta("t")
    assert m.dv_file_rows
    lake.compact("t", full=True)
    m = lake._load_meta("t")
    assert not m.deletion_vectors and not m.dv_sidecars
    assert not m.dv_file_rows, "row counts must not outlive their vectors"
    assert lake.table("t").count() == 990


def test_dv_update_where_records_file_rows_and_routes(lake, spark):
    """update_where(mode='dv')'s vector-deleted originals feed the same
    per-file accounting: a whole-file update leaves the original file
    provably dead and pruned, with the transformed copies visible."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 1_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 1_000, 2_000, 0).coalesce(1))
    lake.update_where(
        "t", F.col("k") < 1_000, {"v": F.col("v") + 0.5}, mode="dv"
    )
    m = lake._load_meta("t")
    assert m.dv_file_rows
    stats = lake._dv_file_stats(m)
    dead = [f for f, st in stats.items() if m.dv_file_rows.get(f) == st[0]]
    assert dead, "the fully-updated original file must be provably dead"
    df = lake.table("t")
    assert not any(d in f for f in df.inputFiles() for d in dead)
    rows = {r.k: r.v for r in df.collect()}
    assert len(rows) == 2_000
    assert rows[5] == 5.5 and rows[1_500] == 1_500.0


def test_dv_whole_table_wipe_reads_empty(lake, spark):
    """Every visible file provably dead: the fail-safe fallback (full
    masked read) must still answer 0 rows."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 500, 0).coalesce(1))
    lake.delete_where("t", F.lit(True), mode="dv")
    assert lake.table("t").count() == 0


def test_dv_dead_and_range_on_encoded_partition_values(lake, spark, monkeypatch):
    """The r14 routing compares decoded rels throughout — pin it on
    partition values that need URI encoding (the r13 namespace-bug
    surface): a fully-deleted file in 'part=a b' prunes, a run-shaped
    vector in 'part=c%d' range-filters, and the rows are exact. Both
    rels are ENCODING-UNSAFE (outside _DV_RANGE_SAFE_REL): r16 routes
    them through the consolidated scan with per-file qualified_uri
    dispatch literals (r15 gave them single-file scans)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def _b(lo, hi, part):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.lit(part).alias("part"),
            (F.col("id") * 1.0).alias("v"),
        )

    lake.create("t", schema, ["part"], [])
    lake.insert("t", _b(0, 500, "a b").coalesce(1))
    lake.insert("t", _b(500, 1_000, "c%d").coalesce(1))
    lake.compact("t", full=True)
    lake.delete_where("t", F.col("part") == "a b", mode="dv")  # whole file
    lake.delete_where("t", F.col("k").between(600, 699), mode="dv")  # run
    called = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        called.append(name)
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        df = lake.table("t")
        got = sorted(r.k for r in df.collect())
    finally:
        Lakehouse._apply_dvs = orig
    assert got == [k for k in range(500, 1_000) if not 600 <= k <= 699]
    assert not called, "both vectors must route off the anti-join"
    assert not any("a%20b" in f or "a b" in f for f in df.inputFiles())


def test_runs_split_merge_property():
    """Hypothesis pin for the run machinery: positions split across
    arbitrary disjoint entries, per-entry runs coalesced, must
    reconstruct exactly the direct runs of the union — and expanding
    the merged runs must yield exactly the original positions (the
    NOT-BETWEEN filter's correctness reduces to this identity)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from at_data_pipelines_spark.catalog import _coalesce_runs, _runs_of

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.integers(0, 4_096), min_size=1, max_size=300, unique=True),
        st.integers(1, 4),
    )
    def prop(pos, nsplit):
        pos = sorted(pos)
        parts = [sorted(pos[i::nsplit]) for i in range(nsplit)]
        merged = []
        for p in parts:
            r = _runs_of(p, 10**9)
            assert r is not None
            merged.extend(r)
        out = _coalesce_runs(merged)
        assert out == _runs_of(pos, 10**9)
        expanded = [x for s, e in out for x in range(s, e + 1)]
        assert expanded == pos
        # the cap is exact: None iff the direct run count exceeds it
        n_runs = len(out)
        assert _runs_of(pos, n_runs) == out
        if n_runs > 1:
            assert _runs_of(pos, n_runs - 1) is None

    prop()


def test_dv_range_routes_tiny_files_since_gate_removed(lake, spark):
    """r14 kept files below a 256k-row size gate on the anti-join
    because each range file was its own FileScan operator (4-15 ms
    fixed cost). The r15 consolidated scan removed that cost, the
    re-mapped crossover killed the gate (SCALING.md r15 rung: 125k-row
    files — half the old gate — consolidated 0.55 s vs join 1.49 s at
    128 files), so a tiny run-shaped file must now route to the range
    branch: exact rows, no join operator in the executed plan."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 2_000, 0).coalesce(1))
    lake.delete_where("t", F.col("k").between(100, 199), mode="dv")
    called = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        called.append(name)
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        df = lake.table("t")
        got = sorted(r.k for r in df.collect())
    finally:
        Lakehouse._apply_dvs = orig
    assert got == [k for k in range(2_000) if not 100 <= k <= 199]
    assert not called, "run-shaped files must bypass the anti-join"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_read_rels_gets_dead_prune_and_file_split(lake, spark):
    """r14: the PRUNED read path (_read_rels — scan()'s and CDC's
    backbone) gets the same confinement ladder as the full read. A
    fully-deleted file in the requested rel is dropped at listing time
    and the surviving generation scans clean — no anti-join at all;
    a partial delete confines the probe to the touched file."""
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 1_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 1_000, 2_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 2_000, 3_000, 1).coalesce(1))
    lake.delete_where("t", F.col("k") < 1_000, mode="dv")  # file dead
    m = lake._load_meta("t")
    called = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        called.append(df)
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        got = sorted(
            r.k for r in lake._read_rels("t", m, ["part=0"]).collect()
        )
    finally:
        Lakehouse._apply_dvs = orig
    assert got == list(range(1_000, 2_000))
    assert not called, "dead file + clean generation must skip the join"
    # partial delete on the surviving file: a single position is a
    # 1-run vector, so with the r15 size gate gone it routes to the
    # consolidated range scan — the pruned path must stay join-FREE
    # (r14 pinned a probe confined to the touched file's 1000 rows;
    # the ladder has since tightened to no probe at all)
    lake.delete_where("t", F.col("k") == 1_500, mode="dv")
    m = lake._load_meta("t")
    probe = []

    def spy2(self, df, name, meta, *a, **kw):
        probe.append(df.count())
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy2
    try:
        got = sorted(
            r.k for r in lake._read_rels("t", m, ["part=0"]).collect()
        )
    finally:
        Lakehouse._apply_dvs = orig
    assert got == [k for k in range(1_000, 2_000) if k != 1_500]
    assert probe == [], probe


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5])
def test_dv_randomized_lifecycle_differential(lake, spark, monkeypatch, seed):
    """Randomized end-to-end pin for the whole r14 routing surface:
    random partitioning/file geometry/tier thresholds/gate settings,
    then a random sequence of run-shaped, scattered, and whole-slice
    DV deletes (plus an optional mid-sequence optimize) — after every
    step the table must equal the Python-side kept-set oracle exactly.
    Whatever mix of inline/sidecar tiers and dead/range/join routes the
    draw produces, the answer may never drift. r16: a random draw makes
    the partition values encoding-HOSTILE strings (space + '%'), so the
    per-file qualified_uri dispatch literals, the write-time inventory
    and the generation markers are all swept under the same oracle."""
    import random as _random

    rnd = _random.Random(seed)
    monkeypatch.setattr(
        Lakehouse, "_DV_INLINE_MAX_POSITIONS", rnd.choice([7, 64, 100_000])
    )
    monkeypatch.setattr(
        Lakehouse, "_DV_RANGE_MAX_FILES", rnd.choice([0, 2, 1024])
    )
    monkeypatch.setattr(Lakehouse, "_DV_RANGE_MAX_RUNS", rnd.choice([2, 16]))
    nparts = rnd.choice([1, 3])
    hostile = rnd.random() < 0.5 and nparts > 1
    schema = SCHEMA
    if hostile:
        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("part", T.StringType()),
                T.StructField("v", T.DoubleType()),
            ]
        )

    def part_val(i: int):
        return f"p {i}%" if hostile else i

    def part_expr():
        c = (F.col("id") % nparts).cast("int")
        if hostile:
            return F.concat(F.lit("p "), c.cast("string"), F.lit("%"))
        return c

    n = 3_000
    lake.create("t", schema, ["part"] if nparts > 1 else [], [])
    lo = 0
    for _ in range(rnd.randint(2, 3)):
        hi = lo + n // rnd.randint(2, 3)
        batch = spark.range(lo, hi).select(
            F.col("id").alias("k"),
            part_expr().alias("part"),
            (F.col("id") * 1.0).alias("v"),
        )
        lake.insert("t", batch.coalesce(rnd.randint(1, 3)))
        lo = hi
    total = lo
    alive = set(range(total))
    if rnd.random() < 0.5:
        lake.compact("t", full=True)
    for _step in range(4):
        kind = rnd.choice(["run", "scatter", "slice", "run"])
        if kind == "run":
            a = rnd.randrange(0, total - 50)
            b = a + rnd.randint(1, 200)
            pred = F.col("k").between(a, b)
            matched = {k for k in alive if a <= k <= b}
        elif kind == "scatter":
            m = rnd.choice([97, 131, 53])
            r = rnd.randrange(m)
            pred = (F.col("k") % m == r) & (F.col("k") < total)
            matched = {k for k in alive if k % m == r}
        else:
            p = rnd.randrange(nparts)
            cut = rnd.randrange(0, total)
            pred = (F.col("part") == part_val(p)) & (F.col("k") < cut)
            matched = {k for k in alive if k % nparts == p and k < cut}
        lake.delete_where("t", pred, mode="dv")
        alive -= matched
        got = sorted(r.k for r in lake.table("t").collect())
        assert got == sorted(alive), (
            f"seed={seed} step={_step} kind={kind}: "
            f"{len(got)} rows vs oracle {len(alive)}"
        )
        if rnd.random() < 0.25:
            # materialize the vectors mid-sequence: the next deletes
            # start from a vector-free state and re-accumulate
            lake.compact("t", full=True)
            got = sorted(r.k for r in lake.table("t").collect())
            assert got == sorted(alive), f"seed={seed} post-compact drift"


def test_analyze_reports_dv_pressure_and_routing(lake, spark):
    """analyze() surfaces the vector budget pressure and the read-time
    routing summary (r14) — manifest-only, so operators can see a
    table drifting toward the rewrite threshold or carrying dead files
    without scanning data."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 1_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 1_000, 2_000, 0).coalesce(1))
    lake.delete_where("t", F.col("k") < 1_000, mode="dv")  # file 1 dead
    lake.delete_where("t", F.col("k") == 1_500, mode="dv")
    st = lake.analyze("t")
    dv = st["deletion_vectors"]
    assert dv["positions"] == 1_001
    assert dv["positions"] == dv["positions_inline"] + dv["positions_sidecar"]
    assert dv["budget"] == Lakehouse._DV_AUTO_MAX_ROWS
    assert dv["files_touched"] == 2
    assert dv["files_dead"] == 1
    # r15: the 1-position vector is a 1-run shape and the size gate is
    # gone, so the surviving file is range-eligible
    assert dv["files_range_eligible"] == 1
    # vector-free table: no block at all
    lake.compact("t", full=True)
    assert "deletion_vectors" not in lake.analyze("t")


def test_read_rels_empty_rel_masks_unpartitioned_vectors(lake, spark):
    """Review-confirmed mask-LESS hazard (r14): _read_rels with the
    unpartitioned rel '' built 'dir/' paths whose trailing slash made
    the file split derive '_seq=N//part-x' rels that never matched the
    touched set — the vectored file routed to the CLEAN branch and
    deleted rows resurfaced. Pinned: the empty rel reads exactly the
    masked rows."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 2_000, 0))
    lake.compact("t", full=True)
    lake.delete_where("t", F.col("k") < 100, mode="dv")
    m = lake._load_meta("t")
    got = sorted(r.k for r in lake._read_rels("t", m, [""]).collect())
    assert got == list(range(100, 2_000)), (
        f"{len(got)} rows — deleted rows resurrected on the empty rel"
    )


def test_scan_point_lookup_gets_dv_routing(lake, spark):
    """r14 review find: the docs claimed scan() was the confinement
    ladder's hot consumer, but scan() built its own read and every kept
    row probed the join. Pinned on the real user path: a zone-pruned
    scan over a fully-deleted file never builds the anti-join, and a
    partially-vectored scan confines the probe to the touched file."""
    lake.create(
        "t", SCHEMA, ["part"], [], stats_columns=["k"]
    )
    lake.insert("t", _batch(spark, 0, 1_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 1_000, 2_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 2_000, 3_000, 1).coalesce(1))
    lake.delete_where("t", F.col("k") < 1_000, mode="dv")  # file 1 dead
    called = []
    orig = Lakehouse._apply_dvs

    def spy(self, df, name, meta, *a, **kw):
        called.append(df)
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy
    try:
        got = sorted(
            r.k
            for r in lake.scan("t", where={"k": (0, 1_999)}).collect()
        )
    finally:
        Lakehouse._apply_dvs = orig
    assert got == list(range(1_000, 2_000))
    assert not called, "scan over a dead file + clean gen must skip the join"
    # partial vector: probe confined to the touched file's rows
    lake.delete_where("t", F.col("k") == 1_500, mode="dv")
    probe = []

    def spy2(self, df, name, meta, *a, **kw):
        probe.append(df.count())
        return orig(self, df, name, meta, *a, **kw)

    Lakehouse._apply_dvs = spy2
    try:
        got = sorted(
            r.k
            for r in lake.scan("t", where={"k": (0, 2_999)}).collect()
        )
    finally:
        Lakehouse._apply_dvs = orig
    assert got == [k for k in range(1_000, 3_000) if k != 1_500]
    # the 1-run vector routes range (r15: no size gate), so even the
    # partially-vectored scan is join-free — strictly stronger than
    # the r14 pin (probe confined to the touched file's 1000 rows)
    assert probe == [], probe


def test_dv_file_split_explicit_files_skip_listing(lake, tmp_path):
    """scan()'s per-file zone hits enter the split as explicit .parquet
    paths: they must route by the touched test WITHOUT a directory
    LIST (one wasted object-store call per file otherwise), touched
    files staying masked and untouched ones landing clean."""
    import os

    d = tmp_path / "lakeY" / "data" / "_seq=0"
    os.makedirs(d)
    for fn in ("a.parquet", "b.parquet"):
        (d / fn).write_bytes(b"")
    calls = []
    orig = lake.fs.list_dir
    lake.fs.list_dir = lambda p: (calls.append(p), orig(p))[1]
    try:
        from types import SimpleNamespace

        clean: list[str] = []
        still = lake._dv_file_split(
            [f"{d}/a.parquet", f"{d}/b.parquet"],
            {"_seq=0/a.parquet"},
            clean,
            SimpleNamespace(zone_maps={}),
        )
    finally:
        lake.fs.list_dir = orig
    assert still == [f"{d}/a.parquet"]
    assert clean == [f"{d}/b.parquet"]
    assert calls == [], "explicit files must not be LISTed"


def test_dv_routing_overshoot_forces_join_and_warns(lake, spark, monkeypatch):
    """Defense-in-depth (r15 advice): the dead-file proof (cumulative
    positions == recorded row count) silently assumes cross-tier
    (file, position) uniqueness. If that invariant ever breaks, the
    observable symptom is positions OVERSHOOTING the file's immutable
    row count — the routing must then distrust ALL evidence for that
    file (no dead-prune, no range filter), force the anti-join
    (mask-more, unconditionally correct), and warn loudly."""
    lake.create("t", SCHEMA, [], [])
    lake.insert("t", _batch(spark, 0, 2_000, 0).coalesce(1))
    lake.delete_where("t", F.col("k") < 1_000, mode="dv")
    m = lake._load_meta("t")
    (f,) = set(m.dv_file_rows)
    # sanity: with intact evidence this contiguous delete routes 'range'
    assert lake._dv_file_routing(m)[f][0] == "range"
    # corrupt: recorded row count below the cumulative vectored
    # positions — exactly what a duplicated (file, position) pair
    # across tiers would look like from the routing's viewpoint
    m.dv_file_rows[f] = 999
    with pytest.warns(RuntimeWarning, match="invariant broken"):
        routing = lake._dv_file_routing(m)
    assert routing == {f: ("join", None)}
    # and the read over the corrupt meta warns too, and still answers
    # correctly — the anti-join never trusted the per-file proof
    with pytest.warns(RuntimeWarning, match="invariant broken"):
        got = sorted(r.k for r in lake._read_raw("t", m).collect())
    assert got == list(range(1_000, 2_000))


def test_dv_file_rows_cap_partial_fill_largest_first(lake, spark, monkeypatch):
    """At the _DV_FILE_ROWS_CAP the recorder must PARTIALLY fill —
    largest new files first — instead of the r14 all-or-nothing skip:
    a table at the cap still gains dead-prune/range provability for
    exactly the files where it matters most, and the unrecorded small
    file degrades to the anti-join (mask-more, never less). r16: the
    ordering comes from the per-file vectored-position counts already
    on the driver (here the delete is total, so count order IS size
    order) with ZERO filesystem calls — r15 paid one list_files per
    parent dir for byte sizes."""
    monkeypatch.setattr(Lakehouse, "_DV_FILE_ROWS_CAP", 2)
    lake.create("t", SCHEMA, [], [])
    for lo, hi in ((0, 3_000), (3_000, 4_000), (4_000, 4_500)):
        lake.insert("t", _batch(spark, lo, hi, 0).coalesce(1))
    lf_calls = []
    orig_lf = lake.fs.list_files
    lake.fs.list_files = lambda p: (lf_calls.append(p), orig_lf(p))[1]
    try:
        lake.delete_where("t", F.lit(True), mode="dv")  # every file 100% dead
    finally:
        lake.fs.list_files = orig_lf
    # the manifest LOG loader legitimately lists _log segments; the
    # fill itself must never list under data/
    data_calls = [p for p in lf_calls if "/data" in p]
    assert data_calls == [], f"partial fill must not LIST: {data_calls[:5]}"
    m = lake._load_meta("t")
    touched = lake._dv_touched_files(m)
    assert touched is not None and len(touched) == 3
    by_seq = {f.split("/", 1)[0]: f for f in touched}
    # the two LARGEST files (3000- and 1000-row generations) got the
    # two slots; the 500-row file was left unrecorded
    assert set(m.dv_file_rows) == {by_seq["_seq=0"], by_seq["_seq=1"]}
    assert m.dv_file_rows[by_seq["_seq=0"]] == 3_000
    assert m.dv_file_rows[by_seq["_seq=1"]] == 1_000
    df = lake.table("t")
    assert df.count() == 0
    # recorded files prove dead and vanish from the LISTING; the
    # unrecorded one must still be scanned and masked by the join
    live = {f.rsplit("/data/", 1)[-1] for f in df.inputFiles()}
    assert by_seq["_seq=2"] in {_dec(f) for f in live}
    assert not {by_seq["_seq=0"], by_seq["_seq=1"]} & {_dec(f) for f in live}


def _dec(s: str) -> str:
    from urllib.parse import unquote

    return unquote(s)


def test_dv_range_consolidated_single_scan_and_canary(lake, spark, monkeypatch):
    """r15 consolidation pins: (1) N range-routed files share ONE scan
    node (r14 built one FileScan operator per file — the fixed cost
    that forced the old size gate), and (2) the dispatch literals come
    from fs.qualified_uri, whose rendering is guarded by a loud canary:
    if it ever drifts from _metadata.file_path, the read must FAIL, not
    silently resurface (or over-delete) rows."""
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(4):
        lake.insert("t", _batch(spark, i * 2_000, (i + 1) * 2_000, i).coalesce(1))
    lake.compact("t", zorder_by=["k"], zorder_files=1, full=True)
    lake.delete_where("t", F.col("k").between(100, 7_299), mode="dv")
    m = lake._load_meta("t")
    routing = lake._dv_file_routing(m)
    nrange = sum(1 for v in routing.values() if v[0] == "range")
    assert nrange >= 2, routing
    df = lake.table("t")
    got = sorted(r.k for r in df.collect())
    assert got == [k for k in range(8_000) if not 100 <= k <= 7_299]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    # one scan operator total for all range-routed files
    nscans = plan.count("FileScan parquet")
    assert nscans == 1, plan
    # canary: corrupt the URI rendering -> the read fails loudly
    orig = lake.fs.qualified_uri
    lake.fs._quri.clear()
    lake.fs.qualified_uri = lambda p: orig(p) + "/nonexistent"
    try:
        lake._dv_cache_purge("t")
        with pytest.raises(Exception, match="unrecognized file"):
            lake.table("t").collect()
    finally:
        lake.fs.qualified_uri = orig
        lake._dv_cache_purge("t")


def test_dv_range_group_chunking_by_predicate_units():
    """r16: dispatch groups are bounded by TOTAL predicate size (2
    units per file + 1 per run), not file count — r15's fixed 32-leaf
    chunking, sized on thin one-run leaves, packed ~550 predicate
    units into one generated method when every leaf carried 16 runs
    and measurably degraded past the JVM compile limits (SCALING.md
    r16 runs-crossover rung: 4.70 s fixed-leaf vs 3.45 s budgeted).
    Hand-computed groupings of the pure chunker at the shipped
    96-unit budget:
    - thin one-run leaves weigh 3 => 32 per group, the EXACT r15
      grouping whose plans carry the proven measurements;
    - 16-run leaves weigh 18 => 5 per group;
    - mixed weights split greedily in sorted order, never exceeding
      the budget per group and preserving item order/sortedness."""
    from at_data_pipelines_spark.catalog import _dv_range_groups

    def item(i, nruns):
        return (f"file:/d/f{i:04d}", f"/d/f{i:04d}", [[0, 0]] * nruns)

    thin = [item(i, 1) for i in range(40)]
    got = _dv_range_groups(thin, 96)
    assert [len(g) for g in got] == [32, 8]
    assert [it for g in got for it in g] == thin  # order preserved

    fat = [item(i, 16) for i in range(8)]
    assert [len(g) for g in _dv_range_groups(fat, 96)] == [5, 3]

    mixed = [item(0, 16), item(1, 1), item(2, 16), item(3, 94), item(4, 1)]
    got = _dv_range_groups(mixed, 96)
    assert [len(g) for g in got] == [3, 1, 1]  # 18+3+18=39; 96; 3
    for g in got:
        # a lone over-budget item is allowed; multi-item groups never
        # exceed the budget
        assert len(g) == 1 or sum(2 + len(r) for _, _, r in g) <= 96

    # one item heavier than the budget still forms its own group
    assert [len(g) for g in _dv_range_groups([item(0, 200)], 96)] == [1]


def test_dv_range_fat_runs_split_into_budgeted_scans(lake, spark):
    """r16 end-to-end pin for the unit budget: 8 single-file
    generations each carrying a 16-run vector (the cap) read exactly
    and JOIN-FREE through two scan operators (5 + 3 files at 96
    units) — under r15's fixed-32-leaf chunking this shape was one
    ~144-unit method; heavier mixes degraded measurably."""
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(8):
        lake.insert(
            "t", _batch(spark, i * 5_000, (i + 1) * 5_000, i).coalesce(1)
        )
    # 5000 rows/file in insert order, runs of 10 every 320 row
    # indexes -> 15-16 runs per file depending on phase (5000/320 =
    # 15.6 periods); every file weighs 17-18 units so the greedy
    # grouping is 5 + 3 files either way
    lake.delete_where("t", (F.col("k") % 320) < 10, mode="dv")
    m = lake._load_meta("t")
    routing = lake._dv_file_routing(m)
    per_file = [v for v in routing.values() if v[0] == "range"]
    assert len(per_file) == 8 and all(
        15 <= len(v[1]) <= 16 for v in per_file
    ), routing
    df = lake.table("t")
    assert df.count() == 40_000 - spark.range(40_000).filter(
        (F.col("id") % 320) < 10
    ).count()
    got = sorted(r.k for r in df.filter(F.col("k") < 1000).collect())
    assert got == [k for k in range(1000) if k % 320 >= 10]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 2, plan


def test_pruned_reader_plan_memo_reuses_and_invalidates(lake, spark):
    """r15: the PRUNED readers (_read_rels — CDC's backbone — and
    scan()'s kept-set build) join the content-addressed plan memo.
    Unchanged manifest + same rels/predicate => the identical plan
    object (no re-listing); any commit => a fresh plan that sees the
    new state; different rel sets never share an entry."""
    lake.create("t", SCHEMA, ["part"], [], stats_columns=["k"])
    lake.insert("t", _batch(spark, 0, 1_000, 0).coalesce(1))
    lake.insert("t", _batch(spark, 1_000, 2_000, 1).coalesce(1))
    m = lake._load_meta("t")
    a = lake._read_rels("t", m, ["part=0"])
    b = lake._read_rels("t", lake._load_meta("t"), ["part=0"])
    assert a is b, "unchanged manifest + same rels must reuse the plan"
    assert a is not lake._read_rels("t", m, ["part=1"])
    # scan(): same predicate twice shares the kept-set reader (the
    # returned frames differ — a filter wraps the memoized build — so
    # assert on the memo's own effect: the second call adds no entry)
    lake.scan("t", where={"k": (0, 500)}).count()
    n_entries = len(lake._plan_cache)
    lake.scan("t", where={"k": (0, 500)}).count()
    assert len(lake._plan_cache) == n_entries, "same predicate must hit"
    # commits invalidate both families (content-addressed, not purged)
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    m2 = lake._load_meta("t")
    assert a is not lake._read_rels("t", m2, ["part=0"])
    got = sorted(
        r.k for r in lake._read_rels("t", m2, ["part=0"]).collect()
    )
    assert got == list(range(10, 1_000))
    assert sorted(
        r.k for r in lake.scan("t", where={"k": (0, 500)}).collect()
    ) == list(range(10, 501))


def test_dv_split_leaf_zone_key_ending_parquet_is_not_inventory(lake, spark):
    """r15 advice find (verified wrong answer): the split's manifest
    inventory treated ANY zone key ending '.parquet' as a per-file
    entry — but a LEAF key for a hostile partition VALUE ending
    '.parquet' (part=x.parquet, recorded by plain inserts on
    stats/bloom tables) also matches the suffix. Its last segment is a
    hive 'key=value' pair, not a part filename, so the bogus inventory
    routed the live-delta DIR itself as a 'file' to the clean branch
    (deleted rows resurfaced) and dropped sibling partitions entirely.
    Per-file keys are now recognized by their trailing segment being a
    genuine Spark part filename ('=' never appears in one; every hive
    segment contains '='), in the split AND scan()'s file_keys
    grouping."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [], stats_columns=["k"])
    for part, lo in (("x.parquet", 0), ("y", 100)):
        lake.insert(
            "t",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"),
                F.lit(part).alias("part"),
                (F.col("id") * 1.0).alias("v"),
            ),
        )
    m = lake._load_meta("t")
    assert any(zk.endswith(".parquet") for zk in m.zone_maps), (
        "fixture must produce a leaf zone key ending .parquet"
    )
    lake.delete_where("t", F.col("k") == 0, mode="dv")
    got = sorted(r.k for r in lake.table("t").collect())
    assert got == list(range(1, 200)), (
        f"expected 199 rows, got {len(got)}: deleted row resurfaced or "
        "sibling partition dropped"
    )
    # scan() takes the same file_keys grouping: full scan and the
    # zone-pruned point lookup must agree
    assert lake.scan("t").count() == 199
    assert lake.scan("t", where={"k": (0, 50)}).count() == 50


def test_dv_file_split_uses_zone_inventory_without_listing(lake, spark):
    """r15: a z-ordered generation's per-file zone keys are a COMPLETE
    file enumeration (scan() already replaces its LIST with them, and
    the writer enumerates even all-NULL files) — the DV file split must
    use them too: zero list_dir calls for inventoried leaves, same
    exact rows, untouched files still rescued onto the clean branch."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [], stats_columns=["k"])
    for i in range(2):
        lake.insert("t", _batch(spark, i * 4_000, (i + 1) * 4_000, i))
    lake.compact("t", zorder_by=["k"], zorder_files=4, full=True)
    m0 = lake._load_meta("t")
    assert any(zk.endswith(".parquet") for zk in m0.zone_maps)
    # a delete that zone-prunes into a strict subset of each dir's files
    lake.delete_where("t", F.col("k").between(0, 400), mode="dv")
    calls = []
    orig = lake.fs.list_dir
    lake.fs.list_dir = lambda p: (calls.append(p), orig(p))[1]
    try:
        lake._dv_cache_purge("t")
        df = lake.table("t")
        got = sorted(r.k for r in df.collect())
    finally:
        lake.fs.list_dir = orig
    assert got == list(range(401, 8_000))
    assert calls == [], f"inventoried leaves must not LIST: {calls}"
    # untouched files really landed clean: the scan reads all files,
    # but only the touched subset is masked/routed (join-free here —
    # the contiguous delete is run-shaped)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_dv_file_split_inventory_lifts_dir_cap(lake, spark, monkeypatch):
    """r15: the _DV_FILE_SPLIT_DIR_CAP listing budget applies only to
    dirs WITHOUT a manifest file inventory — a z-ordered table with
    more vector-carrying dirs than the cap still splits (and
    dead-prunes / range-routes) them all, manifest-only."""
    monkeypatch.setattr(Lakehouse, "_DV_FILE_SPLIT_DIR_CAP", 2)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [], stats_columns=["k"])
    lake.insert(
        "t",
        spark.range(8_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 8).cast("int").alias("part"),
            (F.col("id") * 1.0).alias("v"),
        ),
    )
    lake.compact("t", zorder_by=["k"], zorder_files=1, full=True)
    # prefix-run delete touching every one of the 8 single-file dirs
    lake.delete_where("t", F.col("k") < 800, mode="dv")
    df = lake.table("t")
    got = sorted(r.k for r in df.collect())
    assert got == list(range(800, 8_000))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, (
        "8 inventoried dirs above a cap of 2 must still range-route"
    )


def test_dv_range_mixed_safe_and_unsafe_rels_one_read(lake, spark):
    """One table holding BOTH an encoding-safe partition value
    (concat-literal fast path) and hostile ones (r16: per-file
    qualified_uri literals in the SAME consolidated tree — r15 gave
    them single-file scans), with stats columns so the manifest file
    inventory also engages — one read, join-free, rows exact."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [], stats_columns=["k"])
    rows = {}
    for part, lo in (("plain", 0), ("a b", 10_000), ("c%d", 20_000)):
        lake.insert(
            "t",
            spark.range(lo, lo + 2_000).select(
                F.col("id").alias("k"),
                F.lit(part).alias("part"),
                (F.col("id") * 1.0).alias("v"),
            ),
        )
        rows[part] = set(range(lo, lo + 2_000))
    lake.compact("t", zorder_by=["k"], zorder_files=1, full=True)
    # one contiguous delete touching every partition's single file as
    # a run: safe rel -> consolidated lane, hostile rels -> per-file
    lake.delete_where(
        "t",
        (F.col("k").between(100, 199))
        | (F.col("k").between(10_100, 10_199))
        | (F.col("k").between(20_100, 20_199)),
        mode="dv",
    )
    m = lake._load_meta("t")
    routing = lake._dv_file_routing(m)
    classes = sorted(v[0] for v in routing.values())
    assert classes == ["range", "range", "range"], routing
    safe = [rf for rf in routing if Lakehouse._DV_RANGE_SAFE_REL.match(rf)]
    assert len(safe) == 1, f"exactly the 'plain' rel is safe: {routing}"
    df = lake.table("t")
    got = sorted(r.k for r in df.collect())
    deleted = (
        set(range(100, 200))
        | set(range(10_100, 10_200))
        | set(range(20_100, 20_200))
    )
    expect = sorted((rows["plain"] | rows["a b"] | rows["c%d"]) - deleted)
    assert got == expect
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_file_inventory_recorded_for_every_table_split_never_lists(
    lake, spark, monkeypatch
):
    """r16 (r15 verdict task #1): EVERY table — stats columns or not —
    records its per-generation file inventory in the manifest at WRITE
    time, so the DV file split confines at file granularity with ZERO
    read-path list_dir calls at any dir count. r15 proved the mechanism
    on z-ordered generations only; a plain table past the 256-dir LIST
    budget collapsed to dir-level confinement — the common case at
    scale. The budget is zeroed here to prove the split is
    manifest-only."""
    lake.create("t", SCHEMA, ["part"], [])  # NO stats, NO bloom
    for i in range(8):
        lake.insert("t", _batch(spark, i * 1_000, (i + 1) * 1_000, i))
    m = lake._load_meta("t")
    assert any(zk.endswith(".parquet") for zk in m.zone_maps), (
        "plain inserts must record per-file inventory keys"
    )
    lake.compact("t", full=True)
    m = lake._load_meta("t")
    inv = [zk for zk in m.zone_maps if zk.endswith(".parquet")]
    assert len(inv) >= 8, f"compacted generation must be inventoried: {inv}"
    lake.delete_where("t", F.col("k") % 1_000 < 100, mode="dv")
    monkeypatch.setattr(Lakehouse, "_DV_FILE_SPLIT_DIR_CAP", 0)
    calls = []
    orig = lake.fs.list_dir
    lake.fs.list_dir = lambda p: (calls.append(p), orig(p))[1]
    try:
        lake._dv_cache_purge("t")
        df = lake.table("t")
        got = sorted(r.k for r in df.collect())
    finally:
        lake.fs.list_dir = orig
    assert got == [k for k in range(8_000) if k % 1_000 >= 100]
    assert calls == [], f"inventoried split must not LIST: {calls[:5]}"
    # scan() consumes the same inventory as its file enumeration and
    # must agree (plain tables have no stats so nothing prunes, but
    # the kept set is now file-granular)
    assert lake.scan("t").count() == 7_200


def test_file_inventory_unpartitioned_live_delta_split_never_lists(lake, spark):
    """Unpartitioned live deltas: each generation dir IS the leaf, so
    the write-time inventory covers it directly and the DV split of an
    uncompacted table goes LIST-free too."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t", schema, [], [])
    for i in range(3):
        lake.insert(
            "t",
            spark.range(i * 1_000, (i + 1) * 1_000).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            ),
        )
    lake.delete_where("t", F.col("k") < 10, mode="dv")
    calls = []
    orig = lake.fs.list_dir
    lake.fs.list_dir = lambda p: (calls.append(p), orig(p))[1]
    try:
        lake._dv_cache_purge("t")
        got = sorted(r.k for r in lake.table("t").collect())
    finally:
        lake.fs.list_dir = orig
    assert got == list(range(10, 3_000))
    assert calls == [], f"inventoried split must not LIST: {calls[:5]}"


def test_file_inventory_cap_and_unrepresentable_leaf_fall_back(lake, spark, monkeypatch):
    """The inventory cap bounds manifest growth: past it, new
    generations record no inventory and their leaves keep the
    read-path LIST (a cost, never a correctness loss). A leaf holding
    an unrepresentable filename must record nothing for that leaf —
    a PARTIAL inventory would make the split silently drop the
    missing files from every read."""
    monkeypatch.setattr(Lakehouse, "_FILE_INVENTORY_CAP", 2)
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(4):
        lake.insert("t", _batch(spark, i * 100, (i + 1) * 100, i))
    m = lake._load_meta("t")
    inv = [zk for zk in m.zone_maps if zk.endswith(".parquet")]
    assert len(inv) == 2, f"cap must bound inventory keys: {inv}"
    # reads stay exact regardless
    lake.delete_where("t", F.col("k") < 50, mode="dv")
    assert sorted(r.k for r in lake.table("t").collect()) == list(range(50, 400))


@pytest.mark.parametrize(
    "val", ["a b", "x%20y", "a+b", "é世", "a=b", "a/b", "100%", "a\nb", "x.parquet"]
)
def test_qualified_uri_byte_identical_to_metadata(lake, spark, val):
    """Pins the contract the consolidated range scan dispatches on:
    ``fs.qualified_uri(path)`` is byte-identical to Spark's
    ``_metadata.file_path`` for EVERY path, including hostile partition
    values across the URI-encoding classes (space, literal %XX, '+',
    non-ASCII) and the hive-escaping classes ('=', '/', '%', control
    chars — escaped to %XX in the dir name, then double-encoded at the
    URI layer). r16 folds encoding-unsafe rels into the consolidated
    scan on the strength of this identity (the per-group canary turns
    any future drift into a loud error, never a wrong answer)."""
    import os

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [])
    lake.insert(
        "t",
        spark.range(10).select(
            F.col("id").alias("k"),
            F.lit(val).alias("part"),
            (F.col("id") * 1.0).alias("v"),
        ),
    )
    data_dir = lake._dir("t") + "/data"
    disk = []
    for root, _dirs, files in os.walk(data_dir):
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                disk.append(os.path.join(root, fn))
    assert disk, "fixture wrote no files"
    reported = {
        r[0]
        for r in lake.table("t")
        .select(F.col("_metadata.file_path"))
        .distinct()
        .collect()
    }
    ours = {lake.fs.qualified_uri(p) for p in disk}
    assert ours == reported, (val, ours, reported)


def test_dv_range_hostile_rels_past_old_cap_join_free(lake, spark):
    """r16 (r15 verdict task #3): encoding-unsafe rels join the
    consolidated range scan via per-file qualified_uri dispatch
    literals — 40 hostile-rel files (past the dead 32-file
    _DV_RANGE_MAX_UNSAFE_FILES cap, under which files 33+ fell back to
    the anti-join) must now all range-route in ONE join-free read,
    rows exact. Hostile values sweep the URI-encoding and
    hive-escaping classes."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t", schema, ["part"], [])
    hostile = F.concat(
        F.lit("p "),
        (F.col("id") % 40).cast("string"),
        F.element_at(
            F.array(F.lit("%"), F.lit("+"), F.lit("é"), F.lit("=")),
            ((F.col("id") % 4) + 1).cast("int"),
        ),
    )
    lake.insert(
        "t",
        spark.range(2_000).select(
            F.col("id").alias("k"),
            hostile.alias("part"),
            (F.col("id") * 1.0).alias("v"),
        ),
    )
    lake.compact("t", zorder_by=["k"], zorder_files=1, full=True)
    # k < 800 is a PREFIX RUN in every z-ordered (k-sorted) file
    lake.delete_where("t", F.col("k") < 800, mode="dv")
    m = lake._load_meta("t")
    routing = lake._dv_file_routing(m)
    assert routing is not None and len(routing) == 40
    assert all(v[0] == "range" for v in routing.values()), routing
    assert not any(
        Lakehouse._DV_RANGE_SAFE_REL.match(rf) for rf in routing
    ), "fixture must be all-hostile"
    df = lake.table("t")
    got = sorted(r.k for r in df.collect())
    assert got == list(range(800, 2_000))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, (
        "40 hostile-rel range files must consolidate join-free"
    )


def test_dv_split_expands_marker_complete_live_delta_generations(lake, spark):
    """r16: a partitioned live-delta GENERATION dir — the one masked
    shape that always stayed whole (its listing has subdirectories) —
    expands into its leaves' files when the manifest carries the
    generation's __inv__ completeness marker, with zero list_dir
    calls: untouched files land clean, touched files stay masked,
    rows exact. Without the marker the dir must stay whole (expanding
    a partial inventory would drop the skipped leaves from reads)."""
    lake.create("t", SCHEMA, ["part"], [])
    for i in range(2):
        lake.insert(
            "t",
            spark.range(i * 2_000, (i + 1) * 2_000).select(
                F.col("id").alias("k"),
                (F.col("id") % 2).cast("int").alias("part"),
                (F.col("id") * 1.0).alias("v"),
            ),
        )
    m = lake._load_meta("t")
    markers = [zk for zk in m.zone_maps if zk.endswith("/__inv__")]
    assert len(markers) == 2, (
        f"both live-delta generations must carry the marker: {markers}"
    )
    lake.delete_where("t", F.col("k") < 100, mode="dv")
    m = lake._load_meta("t")
    touched = lake._dv_touched_files(m)
    assert touched is not None
    base = f"{lake._dir('t')}/data"
    calls = []
    orig = lake.fs.list_dir
    lake.fs.list_dir = lambda p: (calls.append(p), orig(p))[1]
    try:
        extra: list[str] = []
        still = lake._dv_file_split(
            [f"{base}/_seq=0", f"{base}/_seq=1"], touched, extra, m
        )
        lake._dv_cache_purge("t")
        got = sorted(r.k for r in lake.table("t").collect())
    finally:
        lake.fs.list_dir = orig
    assert calls == [], f"marker-complete expansion must not LIST: {calls[:5]}"
    assert got == list(range(100, 4_000))
    # both gen dirs fully expanded to files; only gen-0's touched
    # files stayed masked
    assert all(p.endswith(".parquet") for p in still + extra), (still, extra)
    assert {p.rsplit("/data/", 1)[1] for p in still} == touched
    # no-marker fallback: strip the markers from a copy — the gen dirs
    # must stay WHOLE (mask-more), not expand from partial evidence
    import copy

    m2 = copy.deepcopy(m)
    for zk in list(m2.zone_maps):
        if zk.endswith("/__inv__"):
            m2.zone_maps.pop(zk)
    monkey_masked = [f"{base}/_seq=0", f"{base}/_seq=1"]
    old_budget = Lakehouse._DV_FILE_SPLIT_DIR_CAP
    Lakehouse._DV_FILE_SPLIT_DIR_CAP = 0  # and no LIST rescue either
    try:
        extra2: list[str] = []
        still2 = lake._dv_file_split(monkey_masked, touched, extra2, m2)
    finally:
        Lakehouse._DV_FILE_SPLIT_DIR_CAP = old_budget
    assert sorted(still2) == sorted(monkey_masked) and extra2 == []


def _retire_sidecar_entries(lake, path: str) -> None:
    """Rewrite the manifest JSON at ``path`` with every sidecar entry cut
    back to the retired pre-r13 layout ``[relpath, count, seqs, rels]``."""
    import json

    raw = lake._read_json_retry(path)
    assert raw["dv_sidecars"], "fixture must hold a sidecar entry"
    raw["dv_sidecars"] = [e[:4] for e in raw["dv_sidecars"]]
    lake.fs.write_text_atomic(path, json.dumps(raw))


def test_retired_sidecar_entry_on_disk_is_refused(lake, spark, monkeypatch):
    """Exactly one sidecar-entry layout is accepted: a manifest holding a
    retired 4-field entry is refused at load with LegacyLayoutError —
    by table(), scan() and delete_where alike — instead of being read
    through field-count inference."""
    from at_data_pipelines_spark.catalog import LegacyLayoutError

    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 5)
    lake.create("t", SCHEMA, ["part"], [])
    lake.insert("t", _batch(spark, 0, 100, 0))
    lake.delete_where("t", F.col("k") < 20, mode="dv")
    _retire_sidecar_entries(lake, lake._meta_path("t"))
    fresh = Lakehouse(spark, lake.root)
    for op in (
        lambda: fresh.table("t"),
        lambda: fresh.scan("t"),
        lambda: fresh.delete_where("t", F.col("k") == 50, mode="dv"),
    ):
        with pytest.raises(LegacyLayoutError, match="sidecar entry"):
            op()


def test_time_travel_refuses_retired_sidecar_entry(spark, tmp_path, monkeypatch):
    """Time travel loads archived manifests through the same validation
    as the current one: table(version=N), restore and table_changes all
    refuse an archived retired-layout sidecar entry."""
    from at_data_pipelines_spark.catalog import LegacyLayoutError

    monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 5)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["part"], ["k", "part"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 100, 0))
    lake.optimize("t")
    v0 = lake._load_meta("t").version
    lake.delete_where("t", F.col("k") < 20, mode="dv")
    v = lake._load_meta("t").version
    lake.upsert("t", _batch(spark, 100, 200, 1))
    arch = f"{lake._history_dir('t')}/v{v:012d}.json"
    assert lake.fs.exists(arch)
    _retire_sidecar_entries(lake, arch)
    with pytest.raises(LegacyLayoutError, match="sidecar entry"):
        lake.table("t", version=v)
    with pytest.raises(LegacyLayoutError, match="sidecar entry"):
        lake.restore("t", v)
    with pytest.raises(LegacyLayoutError, match="sidecar entry"):
        lake.table_changes("t", v0, v)
    # the current manifest is untouched and still reads
    assert lake.table("t").count() == 180


_HOSTILE_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("part", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@pytest.mark.parametrize("tier", ["inline", "sidecar"])
@pytest.mark.parametrize(
    "shape", ["committed_base", "live_delta_hostile", "unpartitioned"]
)
def test_three_readers_agree_with_kept_set_oracle(lake, spark, monkeypatch, tier, shape):
    """table(), scan(name) with no predicate and _read_rels over every rel
    build through the one DV-aware reader; each must return exactly the
    rows a Python kept-set oracle (inserted rows minus deleted keys)
    predicts. Shapes: vectors on a committed base (plus a vector-free
    live delta), vectors on a live delta whose hostile-valued partition
    has no committed base, and an unpartitioned table."""
    if tier == "sidecar":
        monkeypatch.setattr(Lakehouse, "_DV_INLINE_MAX_POSITIONS", 3)
    # a contiguous run (range-routable) plus scattered keys
    deleted = set(range(10, 20)) | {25, 31, 47, 130}
    if shape == "committed_base":
        lake.create("t", SCHEMA, ["part"], [])
        lake.insert("t", _batch(spark, 0, 100, 0).coalesce(2))
        lake.insert("t", _batch(spark, 100, 200, 1).coalesce(2))
        lake.compact("t", full=True)
        lake.delete_where("t", F.col("k").isin(sorted(deleted)), mode="dv")
        lake.insert("t", _batch(spark, 200, 250, 1))  # vector-free delta
        rows = [(k, k // 100 if k < 200 else 1, k * 1.0) for k in range(250)]
    elif shape == "live_delta_hostile":
        lake.create("t", _HOSTILE_SCHEMA, ["part"], [])

        def batch(lo, hi, part):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"),
                F.lit(part).alias("part"),
                (F.col("id") * 1.0).alias("v"),
            )

        lake.insert("t", batch(100, 200, "x"))
        lake.compact("t", full=True)  # 'x' gets a committed base
        lake.insert("t", batch(0, 100, "a b%").coalesce(2))  # delta only
        deleted = {k for k in deleted if k < 100}
        lake.delete_where("t", F.col("k").isin(sorted(deleted)), mode="dv")
        m = lake._load_meta("t")
        assert not any("a b" in r for r in m.committed), m.committed
        rows = [(k, "a b%" if k < 100 else "x", k * 1.0) for k in range(200)]
    else:
        lake.create("t", SCHEMA, [], [])
        lake.insert("t", _batch(spark, 0, 100, 0).coalesce(2))
        lake.compact("t", full=True)
        lake.insert("t", _batch(spark, 100, 200, 0).coalesce(2))
        lake.delete_where("t", F.col("k").isin(sorted(deleted)), mode="dv")
        rows = [(k, 0, k * 1.0) for k in range(200)]
    m = lake._load_meta("t")
    if tier == "sidecar":
        assert m.dv_sidecars and not m.deletion_vectors
    else:
        assert m.deletion_vectors and not m.dv_sidecars
    oracle = sorted(r for r in rows if r[0] not in deleted)
    if m.partition_keys:
        rels = set(m.committed)
        for s in m.live_deltas:
            rels |= set(lake.fs.list_subdirs(lake._seq_dir("t", s)))
    else:
        rels = {""}

    def rows_of(df):
        return sorted(tuple(r) for r in df.select("k", "part", "v").collect())

    assert rows_of(lake.table("t")) == oracle
    assert rows_of(lake.scan("t")) == oracle
    assert rows_of(lake._read_rels("t", m, rels)) == oracle


def test_memo_lru_bound_and_eviction_under_threads():
    """`Lakehouse._memo`, the LRU behind the two memo stores, under
    contention: a lookup returns its own key's value, the store never
    exceeds its bound, and every value a build returned is either still
    stored or was handed to the eviction hook exactly once (a racing
    duplicate build, or an LRU eviction) — a lost update would leak a
    value past the hook (for the DV build side, a never-unpersisted
    DataFrame)."""
    import random
    import sys
    import threading

    lake = object.__new__(Lakehouse)  # _memo needs only the lock
    lake._dv_cache_mu = threading.Lock()
    store: dict = {}
    built: list = []
    evicted: list = []
    errors: list = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(2_000):
                k = rng.randrange(12)

                def build(k=k):
                    v = (k, object())
                    built.append(v)
                    return v

                v = lake._memo(store, (k,), build, 4, evict=evicted.append)
                if v[0] != k:
                    errors.append((k, v))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(store) <= 4
    assert sorted(map(id, built)) == sorted(
        map(id, evicted + list(store.values()))
    )
