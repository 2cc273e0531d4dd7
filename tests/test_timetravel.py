"""Time travel, snapshot retention, restore, and zone-map scans.

The manifest protocol (catalog.py) archives every committed manifest
version under ``_history/``; ``retain_versions=K`` keeps the data of the
last K versions alive, so ``table(name, version=N)`` reproduces commit N
bit-for-bit and ``restore`` rolls back as a new commit. ``stats_columns``
opt a table into per-generation-leaf min/max zone maps used by
``scan(name, where=...)`` for Delta/Iceberg-style file skipping.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from at_data_pipelines_spark.catalog import Lakehouse, SnapshotExpiredError
from tests.conftest import zone_stats

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("d", T.DateType()),
        T.StructField("s", T.StringType()),
    ]
)


def _batch(spark, lo, hi, year, vbase=0.0):
    rows = [
        (
            k,
            year,
            vbase + float(k),
            dt.date(2024, 1, 1) + dt.timedelta(days=k % 300),
            f"doc-{k:05d}",
        )
        for k in range(lo, hi)
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "lake"))


# -- history / time travel -------------------------------------------------


def test_history_records_every_commit(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 50, 2023))
    lake.insert("t", _batch(spark, 50, 60, 2023))
    lake.optimize("t")
    hist = lake.history("t")
    assert [h["action"] for h in hist] == [
        "create",
        "upsert",
        "insert(append)",
        "optimize",
    ]
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert all(h["ts"] is not None for h in hist[1:])


def test_table_version_reproduces_every_state(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    states = {}
    lake.upsert("t", _batch(spark, 0, 40, 2023))
    states[1] = lake.table("t").orderBy("k").collect()
    lake.upsert("t", _batch(spark, 20, 80, 2023, vbase=1000.0))  # overwrites 20-39
    states[2] = lake.table("t").orderBy("k").collect()
    lake.upsert("t", _batch(spark, 0, 10, 2024))
    states[3] = lake.table("t").orderBy("year", "k").collect()
    # every retained version reads back exactly as it was
    assert lake.table("t", version=1).orderBy("k").collect() == states[1]
    assert lake.table("t", version=2).orderBy("k").collect() == states[2]
    assert lake.table("t", version=3).orderBy("year", "k").collect() == states[3]
    # v0 is the empty create snapshot
    assert lake.table("t", version=0).count() == 0


def test_restore_rolls_back_as_new_commit(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 30, 2023))
    good = lake.table("t").orderBy("k").collect()
    lake.upsert("t", _batch(spark, 0, 30, 2023, vbase=-1000.0))  # "bad" write
    bad = lake.table("t").orderBy("k").collect()
    assert bad != good
    lake.analyze("t")
    assert lake._load_meta("t").table_stats  # stamped
    lake.restore("t", 1)
    assert lake.table("t").orderBy("k").collect() == good
    # stats stamped against the abandoned version are cleared
    assert lake._load_meta("t").table_stats == {}
    hist = lake.history("t")
    assert hist[-1]["action"] == "restore(v1)"
    # the bad commit stays in history — restore is roll-forward, so it is
    # itself undoable
    assert lake.table("t", version=2).orderBy("k").collect() == bad
    lake.restore("t", 2)
    assert lake.table("t").orderBy("k").collect() == bad


def test_post_restore_writes_do_not_collide(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 20, 2023))
    lake.upsert("t", _batch(spark, 20, 40, 2023))
    lake.restore("t", 1)
    # next_seq stayed monotonic: this write must not clobber any
    # generation a historical manifest references
    lake.upsert("t", _batch(spark, 100, 120, 2023))
    assert lake.table("t").count() == 40
    assert lake.table("t", version=2).count() == 40  # pre-restore state intact


def test_create_replace_preserves_history(lake, spark):
    """mode='replace' drops the data but never the append-only audit log:
    prior commit evidence stays in _history/, versions and sequence
    numbers continue past the old high-water marks (no archived version
    file is ever overwritten, no seq dir ever reused)."""
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 30, 2023))
    lake.upsert("t", _batch(spark, 30, 40, 2023))
    old_versions = [h["version"] for h in lake.history("t")]
    old_next_seq = lake._load_meta("t").next_seq
    lake.create("t", SCHEMA, ["year"], ["k", "year"], mode="replace")
    hist = lake.history("t")
    # all old entries still present, replace appended (never rewound)
    assert [h["version"] for h in hist][: len(old_versions)] == old_versions
    assert hist[-1]["action"] == "create(replace)"
    assert hist[-1]["version"] == max(old_versions) + 1
    meta = lake._load_meta("t")
    assert meta.next_seq == old_next_seq  # seq numbers never reused
    assert lake.table("t").count() == 0  # data IS gone
    lake.upsert("t", _batch(spark, 0, 5, 2024))
    assert lake.table("t").count() == 5


def test_scan_date_column_with_datetime_bounds(lake, spark):
    """r7 advisor: a datetime bound on a DateType stats column must not
    prune the leaf holding the boundary date — Spark promotes the date
    to its midnight timestamp, which 'YYYY-MM-DD' < 'YYYY-MM-DD
    HH:MM:SS' lexicographic compare does not model."""
    lake.create("t", SCHEMA, [], ["k"], stats_columns=["d"])
    rows = [
        (1, 2024, 1.0, dt.date(2024, 1, 1), "a"),
        (2, 2024, 2.0, dt.date(2024, 1, 2), "b"),
    ]
    lake.upsert("t", spark.createDataFrame(rows, SCHEMA))
    # leaf stats: d in ['2024-01-01', '2024-01-02']; bound lo = midnight
    # of the max date — the advisor's exact unsound-prune scenario
    got = lake.scan(
        "t", where={"d": (dt.datetime(2024, 1, 2, 0, 0), None)}
    ).collect()
    assert [r.k for r in got] == [2]
    # non-midnight lo past the last date: excludes soundly (empty result
    # via pruning or filtering — either way no rows)
    assert (
        lake.scan("t", where={"d": (dt.datetime(2024, 1, 2, 0, 0, 1), None)}).count()
        == 0
    )
    # datetime hi: dates on the hi boundary match
    got = lake.scan(
        "t", where={"d": (None, dt.datetime(2024, 1, 1, 12, 0))}
    ).collect()
    assert [r.k for r in got] == [1]


def test_vacuum_expires_past_retention_window(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=2)
    for i in range(5):
        lake.upsert("t", _batch(spark, i * 10, (i + 1) * 10, 2023))
    cur = lake.table("t").orderBy("k").collect()
    assert len(cur) == 50
    # retained window: versions 3..5 (current=5); 1 and 2 expire
    removed = lake.vacuum("t", grace_s=0)
    assert removed, "vacuum should reclaim generations outside the window"
    assert lake.table("t").orderBy("k").collect() == cur
    assert lake.table("t", version=4).count() == 40  # inside window
    with pytest.raises(SnapshotExpiredError):
        lake.table("t", version=1)
    # history JSONs survive as the audit log even when data expired
    assert [h["version"] for h in lake.history("t")] == [0, 1, 2, 3, 4, 5]


def test_no_retention_expires_eagerly(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"])  # retain_versions=0
    lake.upsert("t", _batch(spark, 0, 30, 2023))
    lake.upsert("t", _batch(spark, 0, 30, 2023, vbase=5.0))
    # superseded generation was reclaimed at commit time
    with pytest.raises(SnapshotExpiredError):
        lake.table("t", version=1)
    # but the audit log still shows the commit
    assert [h["action"] for h in lake.history("t")][:2] == ["create", "upsert"]


def test_unknown_version_raises(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"])
    with pytest.raises(SnapshotExpiredError):
        lake.table("t", version=99)


# -- zone maps / scan ------------------------------------------------------


def test_create_rejects_partition_stats_column(lake):
    with pytest.raises(ValueError, match="partition keys"):
        lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["year"])


def test_scan_prunes_files_and_matches_filter(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k", "v", "d"])
    # three disjoint key ranges => three prunable generations
    lake.upsert("t", _batch(spark, 0, 100, 2023))
    lake.insert("t", _batch(spark, 1000, 1100, 2023))
    lake.insert("t", _batch(spark, 2000, 2100, 2024))
    pruned = lake.scan("t", where={"k": (1010, 1050)})
    expect = lake.table("t").filter((F.col("k") >= 1010) & (F.col("k") <= 1050))
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in expect.collect()
    )
    assert len(pruned.inputFiles()) < len(lake.table("t").inputFiles())


def test_scan_open_bounds_and_multi_column(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k", "v", "d"])
    lake.upsert("t", _batch(spark, 0, 200, 2023))
    lake.upsert("t", _batch(spark, 200, 400, 2024))
    got = lake.scan(
        "t",
        where={
            "d": (dt.date(2024, 1, 5), dt.date(2024, 3, 1)),
            "v": (None, 150.0),
            "k": (10, None),
        },
    )
    exp = lake.table("t").filter(
        (F.col("d") >= "2024-01-05")
        & (F.col("d") <= "2024-03-01")
        & (F.col("v") <= 150.0)
        & (F.col("k") >= 10)
    )
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())


def test_scan_string_bounds(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["s"])
    lake.upsert("t", _batch(spark, 0, 100, 2023))
    lake.insert("t", _batch(spark, 5000, 5100, 2023))
    got = lake.scan("t", where={"s": ("doc-05000", "doc-05009")})
    assert got.count() == 10
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())


def test_scan_all_null_leaf_is_pruned(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["v"])
    lake.upsert("t", _batch(spark, 0, 50, 2023))
    nulls = _batch(spark, 50, 100, 2024).withColumn(
        "v", F.lit(None).cast("double")
    )
    lake.insert("t", nulls)
    got = lake.scan("t", where={"v": (0.0, 1e9)})
    # range predicates never match NULL, so the all-null generation is
    # provably excluded — and the answer still matches the full filter
    exp = lake.table("t").filter((F.col("v") >= 0.0) & (F.col("v") <= 1e9))
    assert got.count() == exp.count() == 50
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())


def test_scan_without_stats_column_still_correct(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k"])
    lake.upsert("t", _batch(spark, 0, 100, 2023))
    # 'v' has no zone maps: no pruning, but the filter semantics hold
    got = lake.scan("t", where={"v": (10.0, 20.0)})
    exp = lake.table("t").filter((F.col("v") >= 10.0) & (F.col("v") <= 20.0))
    assert got.count() == exp.count()


def test_scan_unknown_column_raises(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k"])
    lake.upsert("t", _batch(spark, 0, 10, 2023))
    with pytest.raises(ValueError, match="unknown column"):
        lake.scan("t", where={"nope": (0, 1)})


def test_zone_maps_survive_optimize_and_delete(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k"])
    lake.insert("t", _batch(spark, 0, 100, 2023))
    lake.insert("t", _batch(spark, 1000, 1100, 2023))
    lake.optimize("t")  # compacts both deltas into one generation
    meta = lake._load_meta("t")
    # superseded delta entries were pruned; the compacted leaf has stats
    assert all(key.split("/")[0] == f"_seq={2}" for key in meta.zone_maps)
    got = lake.scan("t", where={"k": (0, 50)})
    assert got.count() == 51
    lake.delete_where("t", F.col("k") < 25)
    got2 = lake.scan("t", where={"k": (0, 50)})
    assert got2.count() == 26
    meta2 = lake._load_meta("t")
    assert meta2.zone_maps, "delete_where must re-collect stats for its rewrite"


def test_distributed_write_path_records_stats(lake, spark):
    """A batch above the fast-path row cap goes through the distributed
    insert; zone maps must come from the post-write aggregate there."""
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k"])
    n = Lakehouse._FAST_UPSERT_MAX_ROWS + 500
    lake.insert("t", _batch(spark, 0, n, 2023))
    meta = lake._load_meta("t")
    assert meta.zone_maps
    # r16: the manifest also carries per-file inventory keys (empty
    # stats) — exactly one STATS entry, the generation's leaf
    (stats,) = [v for v in meta.zone_maps.values() if v]
    assert stats["k"] == [0, n - 1]
    assert zone_stats(lake, "t") == {
        k: v for k, v in meta.zone_maps.items() if v
    }
    lake.insert("t", _batch(spark, 10 * n, 10 * n + 10, 2023))  # fast path
    got = lake.scan("t", where={"k": (10 * n, None)})
    assert got.count() == 10
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())


def test_scan_of_historical_version_uses_archived_zone_maps(lake, spark):
    lake.create(
        "t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k"], retain_versions=10
    )
    lake.upsert("t", _batch(spark, 0, 100, 2023))
    lake.insert("t", _batch(spark, 1000, 1100, 2023))
    v = lake._load_meta("t").version
    lake.delete_where("t", F.col("k") >= 1000)  # current loses the 1000s
    assert lake.scan("t", where={"k": (1000, None)}).count() == 0
    old = lake.scan("t", where={"k": (1000, None)}, version=v)
    assert old.count() == 100


def test_scan_differential_random(lake, spark):
    """Differential property test: random batches + random range
    predicates — scan() must equal table().filter() exactly, every time."""
    rng = random.Random(7)
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k", "v"])
    nxt = 0
    for i in range(6):
        lo = rng.randrange(0, 5000)
        lake.insert("t", _batch(spark, lo, lo + rng.randrange(5, 80), 2020 + i % 3))
        nxt += 1
        if i % 3 == 2:
            lake.optimize("t")
    for _ in range(8):
        a, b = sorted((rng.randrange(0, 5200), rng.randrange(0, 5200)))
        bounds = rng.choice([(a, b), (None, b), (a, None)])
        got = lake.scan("t", where={"k": bounds})
        lo, hi = bounds
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("k") >= lo)
        if hi is not None:
            cond = cond & (F.col("k") <= hi)
        exp = lake.table("t").filter(cond)
        assert sorted((r.k, r.v) for r in got.collect()) == sorted(
            (r.k, r.v) for r in exp.collect()
        )


# -- change data feed ------------------------------------------------------


def test_table_changes_classifies_all_kinds(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 10, 2023))
    v0 = lake._load_meta("t").version
    # update keys 0-4 (new v values), insert 10-14, delete 7-9
    lake.upsert("t", _batch(spark, 0, 5, 2023, vbase=100.0))
    lake.upsert("t", _batch(spark, 10, 15, 2023))
    lake.delete_where("t", (F.col("k") >= 7) & (F.col("k") <= 9))
    ch = lake.table_changes("t", v0).collect()
    by_kind = {}
    for r in ch:
        by_kind.setdefault(r._change_type, set()).add(r.k)
    assert by_kind["insert"] == set(range(10, 15))
    assert by_kind["delete"] == {7, 8, 9}
    assert by_kind["update_preimage"] == set(range(5))
    assert by_kind["update_postimage"] == set(range(5))
    # pre/post carry the respective values
    pre = {r.k: r.v for r in ch if r._change_type == "update_preimage"}
    post = {r.k: r.v for r in ch if r._change_type == "update_postimage"}
    assert pre == {k: float(k) for k in range(5)}
    assert post == {k: 100.0 + k for k in range(5)}
    # unchanged keys (5, 6) emit nothing
    assert {r.k for r in ch} == set(range(15)) - {5, 6}


def test_table_changes_between_two_versions(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 5, 2023))
    v0 = lake._load_meta("t").version
    lake.upsert("t", _batch(spark, 3, 8, 2023, vbase=50.0))
    v1 = lake._load_meta("t").version
    lake.upsert("t", _batch(spark, 100, 101, 2023))
    # bounded window [v0, v1]: the 100-key insert is outside it
    ch = lake.table_changes("t", v0, to_version=v1).collect()
    kinds = {r._change_type for r in ch}
    assert 100 not in {r.k for r in ch}
    assert {r.k for r in ch if r._change_type == "insert"} == {5, 6, 7}
    assert {r.k for r in ch if r._change_type == "update_postimage"} == {3, 4}
    assert kinds == {"insert", "update_preimage", "update_postimage"}


def test_table_changes_requires_primary_keys(lake, spark):
    lake.create("t", SCHEMA, ["year"])
    with pytest.raises(ValueError, match="primary keys"):
        lake.table_changes("t", 0)


# -- Z-order clustering ----------------------------------------------------


def _zbatch(spark, n, year, seed=0):
    rng = random.Random(seed)
    rows = [
        (
            k,
            year,
            float(rng.randrange(0, 10_000)),
            dt.date(2024, 1, 1) + dt.timedelta(days=k % 300),
            f"doc-{k:05d}",
        )
        for k in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_zorder_optimize_correct_and_prunes_per_file(lake, spark):
    """Z-ordered compaction must (a) keep exactly the PK-deduped rows,
    (b) record file-level zone maps, and (c) let a 2-D box predicate
    read fewer files than the whole table holds."""
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k", "v"])
    data = _zbatch(spark, 4000, 2023, seed=1)
    lake.insert("t", data)
    before = lake.table("t").orderBy("k").collect()
    lake.optimize("t", zorder_by=["k", "v"], zorder_files=8)
    after = lake.table("t").orderBy("k").collect()
    assert after == before  # layout changed, content identical
    meta = lake._load_meta("t")
    fkeys = [z for z in meta.zone_maps if z.endswith(".parquet")]
    assert len(fkeys) >= 4  # multi-file leaf
    # 2-D box: both dimensions selective
    got = lake.scan("t", where={"k": (100, 500), "v": (1000.0, 2000.0)})
    exp = lake.table("t").filter(
        (F.col("k") >= 100) & (F.col("k") <= 500)
        & (F.col("v") >= 1000.0) & (F.col("v") <= 2000.0)
    )
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())
    n_all = len(lake.table("t").inputFiles())
    n_box = len(got.inputFiles())
    assert n_box < n_all, f"Z-order box scan read all {n_all} files"


def test_zorder_beats_single_dim_cluster_on_second_dimension(lake, spark):
    """The point of Z-order: with the SAME file count, a predicate on the
    second dimension alone prunes Z-ordered files, while a layout
    clustered only on k reads essentially everything (v is uniform
    within every k-range file)."""
    data = _zbatch(spark, 4000, 2023, seed=2)
    for tname, z in (("k_only", ["k"]), ("zordered", ["v", "k"])):
        lake.create(tname, SCHEMA, ["year"], ["k", "year"], stats_columns=["k", "v"])
        lake.insert(tname, data)
        lake.optimize(tname, zorder_by=z, zorder_files=8)
    where = {"v": (4000.0, 4500.0)}
    k_files = len(lake.scan("k_only", where=where).inputFiles())
    z_files = len(lake.scan("zordered", where=where).inputFiles())
    assert z_files < k_files, f"Z-order read {z_files} files, 1-D layout {k_files}"
    # both layouts still answer identically
    a = sorted(r.k for r in lake.scan("k_only", where=where).collect())
    b = sorted(r.k for r in lake.scan("zordered", where=where).collect())
    assert a == b


def test_zorder_full_rewrite_and_later_upserts(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k", "v"])
    lake.upsert("t", _zbatch(spark, 1000, 2023, seed=3))
    # table is clean: plain optimize would no-op; full=True re-clusters
    lake.optimize("t", zorder_by=["k", "v"], zorder_files=4, full=True)
    meta = lake._load_meta("t")
    assert any(z.endswith(".parquet") for z in meta.zone_maps)
    n0 = lake.table("t").count()
    # later upserts keep working and keep the manifest consistent
    lake.upsert("t", _zbatch(spark, 100, 2023, seed=4))
    assert lake.table("t").count() == n0  # same keys 0-99 overwritten
    got = lake.scan("t", where={"k": (0, 50)})
    exp = lake.table("t").filter((F.col("k") >= 0) & (F.col("k") <= 50))
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())


def test_zorder_string_ids_prune_per_file(lake, spark):
    """String Z-order (r10 verdict #3): clustering on a string id via the
    truncated-6-byte-prefix ordinal must (a) preserve content exactly and
    (b) let an id-range scan open fewer files than an UNCLUSTERED layout
    with the same file count — the numeric-zorder test shape on a string
    column. Ids are 'doc-%05d' so the discriminating digits sit inside
    the 6-byte prefix ('doc-0' vs 'doc-9')."""
    data = _zbatch(spark, 4000, 2023, seed=7)
    # unclustered control: same rows, insert order, no zorder rewrite
    lake.create("flat", SCHEMA, ["year"], ["k", "year"], stats_columns=["s"])
    # 8 shuffled inserts -> every file spans nearly the full id range
    shuffled = data.orderBy(F.xxhash64("k"))
    for i in range(8):
        lake.insert("flat", shuffled.filter(F.col("k") % 8 == i))
    lake.create("zs", SCHEMA, ["year"], ["k", "year"], stats_columns=["s"])
    lake.insert("zs", data)
    lake.optimize("zs", zorder_by=["s"], zorder_files=8)
    before = {r.k for r in lake.table("flat").collect()}
    after = {r.k for r in lake.table("zs").collect()}
    assert after == before  # layout only, content identical
    where = {"s": ("doc-01000", "doc-01499")}
    z_files = len(lake.scan("zs", where=where).inputFiles())
    flat_files = len(lake.scan("flat", where=where).inputFiles())
    assert z_files < flat_files, (
        f"string zorder read {z_files} files, unclustered {flat_files}"
    )
    a = sorted(r.k for r in lake.scan("zs", where=where).collect())
    b = sorted(r.k for r in lake.scan("flat", where=where).collect())
    assert a == b and a, "both layouts must return the same non-empty rows"


def test_zorder_string_long_common_prefix_is_sound_not_selective(lake, spark):
    """Documented caveat: ids whose first 6 bytes are identical collapse
    to one ordinal bucket — the rewrite must stay CORRECT (all rows
    survive, scans answer exactly) even though pruning gains nothing."""
    rows = [(k, 2023, float(k), dt.date(2024, 1, 1), f"prefix-common-{k:04d}")
            for k in range(500)]
    data = spark.createDataFrame(rows, SCHEMA)
    lake.create("p", SCHEMA, ["year"], ["k", "year"], stats_columns=["s"])
    lake.insert("p", data)
    lake.optimize("p", zorder_by=["s"], zorder_files=4)
    assert lake.table("p").count() == 500
    got = lake.scan("p", where={"s": ("prefix-common-0100", "prefix-common-0199")})
    assert sorted(r.k for r in got.collect()) == list(range(100, 200))


def test_zorder_rejects_bad_columns(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"])
    lake.insert("t", _zbatch(spark, 10, 2023))
    with pytest.raises(ValueError, match="partition key"):
        lake.optimize("t", zorder_by=["year"])
    with pytest.raises(ValueError, match="not in schema"):
        lake.optimize("t", zorder_by=["nope"])


# -- analyze ---------------------------------------------------------------


def test_analyze_column_stats(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"])
    df = _batch(spark, 0, 500, 2023)
    # null out v for a third of the rows
    df = df.withColumn(
        "v", F.when(F.col("k") % 3 == 0, F.lit(None)).otherwise(F.col("v"))
    )
    lake.insert("t", df)
    stats = lake.analyze("t")
    assert stats["rows"] == 500
    ck, cv, cd = (stats["columns"][c] for c in ("k", "v", "d"))
    assert ck == {"nulls": 0, "min": 0, "max": 499, "distinct_est": ck["distinct_est"]}
    assert abs(ck["distinct_est"] - 500) / 500 < 0.25  # k=256 sketch
    assert cv["nulls"] == 167  # k % 3 == 0 for 167 of 0..499
    assert cd["min"] == "2024-01-01"
    # persisted into the manifest, stamped with the analyzed version
    meta = lake._load_meta("t")
    assert meta.table_stats["rows"] == 500
    assert meta.table_stats["as_of_version"] == stats["as_of_version"]
    assert lake.history("t")[-1]["action"] == "analyze"


def test_analyze_exact_below_sketch_k(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"])
    lake.insert("t", _batch(spark, 0, 100, 2023))
    stats = lake.analyze("t", columns=["year", "s"])
    assert stats["columns"]["year"]["distinct_est"] == 1.0  # single year
    assert stats["columns"]["s"]["distinct_est"] == 100.0  # below k: exact
    with pytest.raises(ValueError, match="unknown column"):
        lake.analyze("t", columns=["nope"])


# -- lake admin CLI --------------------------------------------------------


def test_lake_cli_admin_ops(lake, spark, capsys):
    """history / analyze / optimize --zorder / restore / vacuum through the
    CLI surface (the session is reused — get_spark returns the active
    one)."""
    import json

    from at_data_pipelines_spark.__main__ import main

    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=5,
                stats_columns=["k", "v"])
    lake.upsert("t", _batch(spark, 0, 200, 2023))
    lake.upsert("t", _batch(spark, 0, 50, 2023, vbase=9.0))
    root = lake.root

    assert main(["lake", "--lake", root, "history", "t"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [h["action"] for h in lines][:2] == ["create", "upsert"]

    assert main(["lake", "--lake", root, "analyze", "t"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows"] == 200

    assert main(["lake", "--lake", root, "optimize", "t",
                 "--zorder", "k,v", "--full"]) == 0
    capsys.readouterr()
    meta = lake._load_meta("t")
    assert any(z.endswith(".parquet") for z in meta.zone_maps)

    assert main(["lake", "--lake", root, "restore", "t", "--version", "1"]) == 0
    capsys.readouterr()
    (r0,) = lake.table("t").filter(F.col("k") == 0).collect()
    assert r0.v == 0.0  # pre-overwrite value — the vbase=9.0 upsert rolled back

    assert main(["lake", "--lake", root, "vacuum"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "removed" in out

    assert main(["lake", "--lake", root, "changes", "t",
                 "--since", "1", "--to", "2"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines and all("_change_type" in r for r in lines)

    assert main(["lake", "--lake", root, "properties", "t"]) == 0
    assert isinstance(json.loads(capsys.readouterr().out.strip().splitlines()[-1]), dict)


def test_restore_loses_race_to_concurrent_writer(lake, spark):
    """restore commits through the same optimistic-concurrency gate as
    every write: a writer that lands between the restore's manifest load
    and its PUT must surface as ConcurrentWriteError, never a silently
    dropped commit."""
    from at_data_pipelines_spark.catalog import ConcurrentWriteError

    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=10)
    lake.upsert("t", _batch(spark, 0, 20, 2023))
    lake.upsert("t", _batch(spark, 20, 40, 2023))

    real_load = lake._load_meta
    def racing_load(name):
        meta = real_load(name)
        if getattr(racing_load, "armed", False):
            racing_load.armed = False
            # another writer commits AFTER this restore loaded its state
            lake.upsert("t", _batch(spark, 900, 910, 2023))
        return meta

    racing_load.armed = True
    lake._load_meta = racing_load
    try:
        with pytest.raises(ConcurrentWriteError):
            lake.restore("t", 1)
    finally:
        lake._load_meta = real_load
    # the racing writer's commit survived intact
    assert lake.table("t").filter(F.col("k") >= 900).count() == 10


def test_scan_timestamp_bounds(lake, spark):
    """Timestamp stat columns: arrow fast-path writes store tz-aware
    datetimes, distributed writes store session-naive ones — both
    normalize to the same UTC ISO encoding, so pruning is consistent."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("tt", schema, [], ["k"], stats_columns=["ts"])
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(k, base + dt.timedelta(minutes=k), float(k)) for k in range(100)]
    lake.insert("tt", spark.createDataFrame(rows, schema))  # fast path
    far = [(1000 + k, base + dt.timedelta(days=30, minutes=k), 0.0) for k in range(100)]
    lake.insert("tt", spark.createDataFrame(far, schema))
    lo, hi = base + dt.timedelta(minutes=10), base + dt.timedelta(minutes=20)
    got = lake.scan("tt", where={"ts": (lo, hi)})
    exp = lake.table("tt").filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
    assert got.count() == exp.count() == 11
    assert len(got.inputFiles()) < len(lake.table("tt").inputFiles())


def test_table_changes_prunes_unchanged_partitions(lake, spark):
    """Generations are immutable, so a partition whose committed pointer
    is identical in both manifests is provably unchanged — table_changes
    must not scan it at all, and an empty change window must not scan
    anything."""
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=20)
    lake.upsert("t", _batch(spark, 0, 2000, 2023))
    lake.upsert("t", _batch(spark, 3000, 5000, 2024))
    lake.optimize("t")
    v0 = lake._load_meta("t").version
    lake.upsert("t", _batch(spark, 3000, 3050, 2024, vbase=9.0))  # only 2024 moves
    ch = lake.table_changes("t", v0)
    rows = ch.collect()
    assert {r._change_type for r in rows} == {"update_preimage", "update_postimage"}
    assert {r.k for r in rows} == set(range(3000, 3050))
    # the untouched 2023 partition's files never enter the diff plan
    files = ch.inputFiles()
    assert files and all("year=2023" not in f for f in files)
    # empty window: no scan, empty frame, schema intact
    v1 = lake._load_meta("t").version
    empty = lake.table_changes("t", v1)
    assert empty.count() == 0 and empty.inputFiles() == []
    assert empty.columns[-1] == "_change_type"


# -- review regressions (r6 code-review findings) --------------------------


def test_table_changes_absorbs_live_deltas(lake, spark):
    """An un-optimized append that overwrites a PK must surface as ONE
    update pair, not a fanned-out join over duplicate physical rows."""
    lake.create("t", SCHEMA, ["year"], ["k", "year"], retain_versions=20)
    lake.upsert("t", _batch(spark, 0, 5, 2023))
    v0 = lake._load_meta("t").version
    lake.insert("t", _batch(spark, 0, 2, 2023, vbase=70.0))  # delta, no optimize
    ch = lake.table_changes("t", v0).collect()
    kinds = {}
    for r in ch:
        kinds.setdefault(r._change_type, []).append(r.k)
    assert sorted(kinds["update_preimage"]) == [0, 1]
    assert sorted(kinds["update_postimage"]) == [0, 1]
    assert set(kinds) == {"update_preimage", "update_postimage"}
    post = {r.k: r.v for r in ch if r._change_type == "update_postimage"}
    assert post == {0: 70.0, 1: 71.0}


def test_table_changes_null_pk_pairs_as_update(lake, spark):
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t", schema, [], ["k"], retain_versions=10)
    lake.upsert("t", spark.createDataFrame([(None, 1.0), (1, 10.0)], schema))
    v0 = lake._load_meta("t").version
    lake.upsert("t", spark.createDataFrame([(None, 2.0)], schema))
    ch = lake.table_changes("t", v0).collect()
    assert {r._change_type for r in ch} == {"update_preimage", "update_postimage"}
    assert all(r.k is None for r in ch)


def test_scan_noop_bounds_keep_all_null_leaves(lake, spark):
    """(None, None) bounds constrain nothing — all-NULL leaves must NOT
    be pruned, preserving scan ≡ table().filter(<empty>)."""
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["v"])
    nulls = _batch(spark, 0, 20, 2023).withColumn("v", F.lit(None).cast("double"))
    lake.insert("t", nulls)
    got = lake.scan("t", where={"v": (None, None)})
    assert got.count() == lake.table("t").count() == 20


def test_zorder_rejects_unorderable_column(lake, spark):
    # strings are supported since r11 (truncated-byte ordinal); types with
    # no order-preserving double ordinal (arrays, maps, binary) still refuse
    sch = T.StructType(
        list(SCHEMA.fields) + [T.StructField("arr", T.ArrayType(T.LongType()))]
    )
    lake.create("t", sch, ["year"], ["k", "year"])
    lake.insert(
        "t",
        _batch(spark, 0, 10, 2023).withColumn("arr", F.array(F.col("k"))),
    )
    with pytest.raises(ValueError, match="must be numeric"):
        lake.optimize("t", zorder_by=["arr"], full=True)
    # dates AND strings are supported: correctness after a mixed rewrite
    lake.optimize("t", zorder_by=["d", "s"], zorder_files=4, full=True)
    got = lake.table("t").orderBy("k").collect()
    assert [r.k for r in got] == list(range(10))


# -- manifest accessors ----------------------------------------------------


def test_file_stats_and_pending_deltas_accessors(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["k", "year"], stats_columns=["k"])
    assert zone_stats(lake, "t") == {} and lake.pending_deltas("t") == 0
    lake.insert("t", _batch(spark, 0, 50, 2023))
    lake.insert("t", _batch(spark, 50, 99, 2023))
    assert lake.pending_deltas("t") == 2
    stats = zone_stats(lake, "t")
    assert len(stats) == 2
    assert sorted(v["k"] for v in stats.values()) == [[0, 49], [50, 98]]
    lake.optimize("t")
    assert lake.pending_deltas("t") == 0
    (merged,) = zone_stats(lake, "t").values()
    assert merged["k"] == [0, 98]


def test_lake_cli_compact(lake, spark, capsys):
    """`lake ... compact t` — the out-of-band maintenance entry for
    append-only streaming sinks."""
    from at_data_pipelines_spark.__main__ import main

    lake.create("ev", SCHEMA, ["year"], [])  # PK-less
    lake.insert("ev", _batch(spark, 0, 10, 2023))
    lake.insert("ev", _batch(spark, 0, 10, 2023))  # duplicate rows = data
    assert main(["lake", "--lake", lake.root, "compact", "ev"]) == 0
    assert "compacted" in capsys.readouterr().out
    assert lake.table("ev").count() == 20
    assert lake._load_meta("ev").live_deltas == []
    assert lake.history("ev")[-1]["action"] == "compact"
