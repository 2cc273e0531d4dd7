"""Segmented manifest log (r8): past a size threshold, commits append
O(touched-partitions) diff segments to ``_log/`` instead of rewriting the
whole manifest, with a full checkpoint every N segments. These tests
force the mode on (threshold=0) and check it is OBSERVATIONALLY
IDENTICAL to the classic single-PUT protocol: same table contents, same
manifest state, time travel to mid-segment versions, crash tolerance at
every point around the checkpoint, and the same concurrency guarantees.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from at_data_pipelines_spark.catalog import Lakehouse

SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("close", T.DoubleType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(t, datetime.date.fromisoformat(d), int(d[:4]), c) for t, d, c in rows],
        SCHEMA,
    )


@pytest.fixture
def segmented():
    """Force every commit through the segmented path."""
    orig = Lakehouse._LOG_SEGMENT_THRESHOLD
    Lakehouse._LOG_SEGMENT_THRESHOLD = 0
    yield
    Lakehouse._LOG_SEGMENT_THRESHOLD = orig


@pytest.fixture
def lake(spark, tmp_path, segmented):
    return Lakehouse(spark, str(tmp_path / "lake"))


def _state(lake, name):
    from at_data_pipelines_spark.catalog import _zone_key_file

    m = lake._load_meta(name)
    # r16: every write records per-file inventory zone keys whose
    # FILENAMES carry write-time uuids — two independently written
    # lakes legitimately differ there. Compare per-file keys as
    # (leaf, sorted multiset of per-file stats) instead.
    zones: dict = {}
    files: dict = {}
    for k, v in m.zone_maps.items():
        lf_fn = _zone_key_file(k)
        if lf_fn is None:
            zones[k] = v
        else:
            files.setdefault(f"{lf_fn[0]}/<files>", []).append(
                repr(sorted(v.items()))
            )
    zones.update({k: sorted(v) for k, v in files.items()})
    return (
        m.version,
        dict(m.committed),
        list(m.live_deltas),
        sorted(m.dirty_partitions),
        m.all_dirty,
        zones,
        dict(m.properties),
    )


def _meta_commit(lake, name, key, value):
    """One metadata-only manifest commit: a table property, no data."""
    meta = lake._load_meta(name)
    meta.properties[key] = value
    lake._commit_meta(meta, None, action=f"property({key})")


def test_segmented_differential_vs_classic(spark, tmp_path, segmented):
    """The same op sequence through the segmented log and the classic
    protocol must produce identical table contents AND identical logical
    manifest state after every step (versions included — one commit is
    one version either way)."""
    seg = Lakehouse(spark, str(tmp_path / "seg"))
    orig = Lakehouse._LOG_SEGMENT_THRESHOLD
    Lakehouse._LOG_SEGMENT_THRESHOLD = 10**9  # classic for this handle only

    class Classic(Lakehouse):
        _LOG_SEGMENT_THRESHOLD = 10**9

    Lakehouse._LOG_SEGMENT_THRESHOLD = 0
    classic = Classic(spark, str(tmp_path / "classic"))

    def step(op):
        op(seg)
        op(classic)
        assert _state(seg, "t") == _state(classic, "t")
        a = sorted(map(tuple, seg.table("t").collect()))
        b = sorted(map(tuple, classic.table("t").collect()))
        assert a == b

    try:
        for lk in (seg, classic):
            lk.create(
                "t", SCHEMA, ["year"], ["date", "ticker"], stats_columns=["close"]
            )
        step(lambda lk: lk.insert("t", _df(spark, [("A", "2023-01-02", 1.0)])))
        step(lambda lk: lk.insert("t", _df(spark, [("B", "2024-01-02", 2.0)])))
        step(lambda lk: lk.optimize("t"))
        step(lambda lk: lk.upsert("t", _df(spark, [("A", "2023-01-02", 3.0)])))
        step(lambda lk: lk.upsert("t", _df(spark, [("C", "2024-02-02", 4.0)])))
        step(lambda lk: lk.delete_where("t", F.col("ticker") == "B"))
        step(lambda lk: _meta_commit(lk, "t", "owner", "x"))
        step(lambda lk: lk.insert("t", _df(spark, [("D", "2025-01-02", 5.0)])))
        step(lambda lk: lk.optimize("t"))
    finally:
        Lakehouse._LOG_SEGMENT_THRESHOLD = orig
    # and the segmented table really did commit via segments
    assert seg._log_segments("t"), "no diff segments were written"


def test_checkpoint_cadence_and_fold(spark, tmp_path, segmented):
    """Commits accumulate as segments; at _LOG_CHECKPOINT_EVERY the full
    checkpoint is rewritten. A fresh handle (no in-memory state) folds
    checkpoint+segments to the exact current state."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, [], ["ticker", "date"])
    v0 = lake._load_meta("t").version
    n = Lakehouse._LOG_CHECKPOINT_EVERY + 3
    for i in range(n):
        lake.upsert("t", _df(spark, [("A", f"2024-01-{2 + i:02d}", float(i))]))
    meta = Lakehouse(spark, lake.root)._load_meta("t")
    ckpt = json.loads(lake.fs.read_text(lake._meta_path("t")))
    assert meta.version > ckpt["version"] >= v0 + Lakehouse._LOG_CHECKPOINT_EVERY
    assert lake.table("t").count() == n
    # history() shows every commit, anchors and segments alike
    hist = lake.history("t")
    assert [h["version"] for h in hist] == list(range(v0, meta.version + 1))


def test_crash_before_checkpoint_loses_nothing(spark, tmp_path, segmented):
    """The segment PUT is the commit point: a crash between it and the
    cadence checkpoint rewrite must leave the commit fully visible, and
    a later commit heals the checkpoint."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, [], ["ticker", "date"])

    orig_save = Lakehouse._save_meta
    boom = {"armed": False}

    def crashing_save(self, meta):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("simulated crash before checkpoint rewrite")
        return orig_save(self, meta)

    Lakehouse._save_meta = crashing_save
    try:
        for i in range(Lakehouse._LOG_CHECKPOINT_EVERY - 1):
            lake.upsert("t", _df(spark, [("A", f"2024-01-{2 + i:02d}", float(i))]))
        boom["armed"] = True
        with pytest.raises(RuntimeError, match="simulated crash"):
            lake.upsert("t", _df(spark, [("Z", "2024-03-01", 9.0)]))
    finally:
        Lakehouse._save_meta = orig_save
    # the crashed commit IS committed (segment visible), checkpoint stale
    fresh = Lakehouse(spark, lake.root)
    rows = {r.ticker for r in fresh.table("t").collect()}
    assert "Z" in rows
    stale_ckpt = json.loads(fresh.fs.read_text(fresh._meta_path("t")))
    assert stale_ckpt["version"] < fresh._load_meta("t").version
    # the next cadence-due commit rewrites the checkpoint
    fresh.upsert("t", _df(spark, [("Y", "2024-03-02", 10.0)]))
    healed = json.loads(fresh.fs.read_text(fresh._meta_path("t")))
    assert healed["version"] == fresh._load_meta("t").version
    assert {r.ticker for r in fresh.table("t").collect()} >= {"Z", "Y"}


def test_time_travel_reconstructs_mid_segment_versions(spark, tmp_path, segmented):
    """table(name, version=N) for an N that has no archived full manifest
    must reconstruct from the nearest checkpoint anchor + segments, and
    retained snapshots referenced only by such versions must survive
    vacuum."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, [], ["ticker", "date"], retain_versions=50)
    seen = {}
    for i in range(6):
        lake.upsert("t", _df(spark, [("A", f"2024-01-{2 + i:02d}", float(i))]))
        seen[lake._load_meta("t").version] = i + 1
    lake.vacuum("t", grace_s=0)
    for v, n_rows in seen.items():
        assert lake.table("t", version=v).count() == n_rows, f"version {v}"
    # restore to a mid-segment version works too
    target = sorted(seen)[2]
    lake.restore("t", target)
    assert lake.table("t").count() == seen[target]


def test_segmented_concurrent_disjoint_upserts(spark, tmp_path, segmented):
    """The two-thread disjoint-partition race, run entirely through the
    segmented commit path: all commits land, none lost."""
    import threading

    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lakes = [Lakehouse(spark, lake.root), Lakehouse(spark, lake.root)]
    errs: list = []
    barrier = threading.Barrier(2)

    def writer(i, year):
        try:
            barrier.wait(timeout=60)
            for step in range(3):
                lakes[i].upsert(
                    "prices",
                    _df(spark, [(f"T{i}", f"{year}-01-{2 + step:02d}", float(step))]),
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(0, "2023")),
        threading.Thread(target=writer, args=(1, "2024")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    rows = {(r.ticker, str(r.date)) for r in lake.table("prices").collect()}
    assert rows == {
        (f"T{i}", f"{y}-01-{2 + s:02d}")
        for i, y in ((0, "2023"), (1, "2024"))
        for s in range(3)
    }
    assert lake._log_segments("prices"), "race ran outside the segmented path"


def test_segment_size_is_o_touched_not_o_table(spark, tmp_path, segmented):
    """The point of the log: with many committed partitions, one commit's
    segment names only the partitions it touched — the classic full
    manifest would carry all of them."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["year"], ["date", "ticker"])
    years = [(f"T{y}", f"{2000 + y}-01-02", 1.0) for y in range(25)]
    lake.upsert("t", _df(spark, years))  # 25 partitions committed
    lake.upsert("t", _df(spark, [("X", "2003-01-03", 2.0)]))  # touches ONE
    last = max(lake._log_segments("t"))
    seg = json.loads(lake.fs.read_text(f"{lake._log_dir('t')}/v{last:012d}.json"))
    touched = set(seg["committed_delta"])
    assert touched == {"year=2003"}, touched
    full = lake._load_meta("t")
    assert len(full.committed) == 25


def test_log_dir_stays_bounded_and_history_complete(spark, tmp_path, segmented):
    """r9: segments already folded into a checkpoint are relocated to
    _history/segments/, so _log/ holds at most one checkpoint window
    (plus the fence) no matter how many commits the table has seen —
    the manifest-load LIST is O(window), not O(total commits). History
    and mid-segment time travel must still cover every version."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    n = 3 * Lakehouse._LOG_CHECKPOINT_EVERY + 5
    # retain_versions must cover every commit: with the default 0, each
    # upsert of this UNPARTITIONED table rewrites the single base
    # generation and reclaims its predecessor, so _version_meta on any
    # old version raises SnapshotExpiredError by design — the end-to-end
    # time-travel assertion below is only meaningful with retention on.
    lake.create("t", SCHEMA, [], ["ticker", "date"], retain_versions=n + 10)
    v0 = lake._load_meta("t").version
    for i in range(n):
        lake.upsert("t", _df(spark, [("A", f"2024-{1 + i // 27:02d}-{1 + i % 27:02d}", float(i))]))
    live = lake._log_segments("t")
    assert len(live) <= Lakehouse._LOG_CHECKPOINT_EVERY + 1, live
    # nothing lost: every version enumerable, oldest first
    hist = lake.history("t")
    vcur = lake._load_meta("t").version
    assert [h["version"] for h in hist] == list(range(v0, vcur + 1))
    # relocated segments still reconstruct mid-segment versions
    relocated = lake._archived_segments("t")
    assert relocated, "no segments were relocated"
    mid = relocated[len(relocated) // 2]
    meta_mid = lake._version_meta("t", mid)
    assert meta_mid.version == mid


def test_manifest_cache_folds_and_matches_full_read(spark, tmp_path, segmented):
    """The per-handle cache must be observationally identical to a fresh
    handle's checkpoint+segments fold after every commit."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, ["year"], ["date", "ticker"], stats_columns=["close"])
    for i in range(8):
        lake.upsert("t", _df(spark, [(f"T{i % 3}", f"{2020 + i % 4}-01-{2 + i:02d}", float(i))]))
        assert _state(lake, "t") == _state(Lakehouse(spark, lake.root), "t"), i
    assert "t" in lake._meta_cache, "log-mode table never populated the cache"


def test_manifest_cache_detects_rival_checkpoint_gap(spark, tmp_path, segmented):
    """A handle that last read at version V while a rival advanced past a
    checkpoint (relocating the segments V+1..) must take the full
    re-read, never serve its stale fold."""
    a = Lakehouse(spark, str(tmp_path / "lake"))
    a.create("t", SCHEMA, [], ["ticker", "date"])
    a.upsert("t", _df(spark, [("A", "2024-01-02", 1.0)]))
    assert a.table("t").count() == 1  # a's cache now holds this fold
    b = Lakehouse(spark, a.root)
    for i in range(Lakehouse._LOG_CHECKPOINT_EVERY + 2):
        b.upsert("t", _df(spark, [("B", f"2024-02-{1 + i:02d}", float(i))]))
    assert b._archived_segments("t"), "rival checkpoint did not relocate"
    # a's next load crosses the relocation gap -> full re-read
    assert a.table("t").count() == 1 + Lakehouse._LOG_CHECKPOINT_EVERY + 2
    assert a._load_meta("t").version == b._load_meta("t").version


def test_manifest_cache_never_bleeds_across_table_lives(spark, tmp_path, segmented):
    """drop+recreate and create(replace) start a new table LIFE; a handle
    still holding the old life's fold must re-read, never serve it."""
    a = Lakehouse(spark, str(tmp_path / "lake"))
    a.create("t", SCHEMA, [], ["ticker", "date"])
    a.upsert("t", _df(spark, [("OLD", "2024-01-02", 1.0)]))
    assert {r.ticker for r in a.table("t").collect()} == {"OLD"}

    b = Lakehouse(spark, a.root)
    b.create("t", SCHEMA, [], ["ticker", "date"], mode="replace")
    b.upsert("t", _df(spark, [("NEW", "2024-01-03", 2.0)]))
    assert {r.ticker for r in a.table("t").collect()} == {"NEW"}, (
        "stale pre-replace fold served as current"
    )

    b.drop("t")
    b.create("t", SCHEMA, [], ["ticker", "date"])
    b.upsert("t", _df(spark, [("THIRD", "2024-01-04", 3.0)]))
    assert {r.ticker for r in a.table("t").collect()} == {"THIRD"}, (
        "stale pre-drop fold served as current"
    )


def test_cache_mutex_not_held_across_segment_io(spark, tmp_path, segmented):
    """_meta_cache_mu is handle-wide: holding it across a segment GET
    would serialize every table's manifest load on this handle behind
    one slow read. Block one table's segment read mid-load and prove a
    different table's load on the SAME handle still completes."""
    import threading

    lake = Lakehouse(spark, str(tmp_path / "lake"))
    for name, tick in (("slowt", "A"), ("fastt", "B")):
        lake.create(name, SCHEMA, [], ["ticker", "date"])
        lake.upsert(name, _df(spark, [(tick, "2024-01-02", 1.0)]))
        lake._load_meta(name)  # populate this handle's cache
    rival = Lakehouse(spark, lake.root)
    rival.upsert("slowt", _df(spark, [("A2", "2024-01-03", 2.0)]))
    rival.upsert("fastt", _df(spark, [("B2", "2024-01-03", 2.0)]))

    gate = threading.Event()
    entered = threading.Event()
    orig = lake._read_segment

    def stalling_read(name, v):
        if name == "slowt":
            entered.set()
            assert gate.wait(30), "test gate never opened"
        return orig(name, v)

    lake._read_segment = stalling_read
    out = {}
    t_slow = threading.Thread(
        target=lambda: out.update(slow=lake._load_meta("slowt").version)
    )
    t_slow.start()
    assert entered.wait(30)
    done = threading.Event()
    t_fast = threading.Thread(
        target=lambda: (out.update(fast=lake._load_meta("fastt").version), done.set())
    )
    t_fast.start()
    try:
        assert done.wait(10), (
            "another table's manifest load blocked behind a slow segment "
            "GET — the cache mutex is being held across filesystem I/O"
        )
    finally:
        gate.set()
        t_slow.join(30)
        t_fast.join(30)
    assert out["slow"] == rival._load_meta("slowt").version
    assert out["fast"] == rival._load_meta("fastt").version


def test_fence_hit_detects_recreated_life_at_same_version(spark, tmp_path, segmented):
    """The narrow r9 hole: drop+recreate whose NEW life reaches EXACTLY
    the version a stale handle has cached looks like a no-new-commits
    fence hit (same max segment version, contiguity trivially holds).
    The fence segment must be re-read and its table_uuid checked, or the
    handle serves the dead life's fold as current state."""
    a = Lakehouse(spark, str(tmp_path / "lake"))
    a.create("t", SCHEMA, [], ["ticker", "date"])
    for i in range(3):
        a.upsert("t", _df(spark, [("OLD", f"2024-01-{2 + i:02d}", float(i))]))
    assert a.table("t").count() == 3  # a's cache now holds life-1's fold

    b = Lakehouse(spark, a.root)
    b.drop("t")
    b.create("t", SCHEMA, [], ["ticker", "date"])
    for i in range(3):
        b.upsert("t", _df(spark, [("NEW", f"2025-01-{2 + i:02d}", float(i))]))
    # the trap requires the exact version coincidence — prove we built it
    assert b._load_meta("t").version == a._meta_cache["t"]["version"]
    assert {r.ticker for r in a.table("t").collect()} == {"NEW"}, (
        "fence-only cache hit served a dead table life"
    )


def test_replace_fails_loudly_if_log_segments_cannot_move(spark, tmp_path, segmented):
    """create(mode='replace') depends on _log/ ending EMPTY — a leftover
    old-life segment could alias a rival's cached version AND carry the
    old life's uuid, defeating both cache guards. Relocation is
    best-effort elsewhere; here a failure must fail the replace."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", SCHEMA, [], ["ticker", "date"])
    lake.upsert("t", _df(spark, [("A", "2024-01-02", 1.0)]))
    assert lake._log_segments("t")
    orig = Lakehouse._relocate_log_segments
    try:
        Lakehouse._relocate_log_segments = lambda self, name, cutoff: None
        with pytest.raises(IOError, match="could not clear"):
            lake.create("t", SCHEMA, [], ["ticker", "date"], mode="replace")
    finally:
        Lakehouse._relocate_log_segments = orig
    # and with relocation working, the same replace succeeds and empties _log/
    lake.create("t", SCHEMA, [], ["ticker", "date"], mode="replace")
    assert not lake._log_segments("t")


def test_log_mode_is_sticky_after_shrink(spark, tmp_path):
    """A table that entered log mode and then shrank under the threshold
    must KEEP committing segments — a small-path commit would be
    invisible to segment-based cache invalidation."""
    orig = Lakehouse._LOG_SEGMENT_THRESHOLD
    Lakehouse._LOG_SEGMENT_THRESHOLD = 3
    try:
        lake = Lakehouse(spark, str(tmp_path / "lake"))
        lake.create("t", SCHEMA, ["year"], ["date", "ticker"])
        rows = [(f"T{y}", f"{2000 + y}-01-02", 1.0) for y in range(6)]
        lake.upsert("t", _df(spark, rows))  # 6 partitions > threshold
        lake.upsert("t", _df(spark, [("X", "2001-01-03", 2.0)]))
        assert lake._log_segments("t"), "table never entered log mode"
        # shrink to one partition: now under the threshold
        lake.delete_where("t", F.col("year") != 2001)
        lake.optimize("t")
        assert len(lake._load_meta("t").committed) <= 2
        before = set(lake._log_segments("t")) | set(lake._archived_segments("t"))
        lake.upsert("t", _df(spark, [("Y", "2001-01-04", 3.0)]))
        after = set(lake._log_segments("t")) | set(lake._archived_segments("t"))
        assert after - before, "post-shrink commit bypassed the log"
        # and a rival handle agrees on the state
        assert _state(lake, "t") == _state(Lakehouse(spark, lake.root), "t")
    finally:
        Lakehouse._LOG_SEGMENT_THRESHOLD = orig


def test_vacuum_retains_generations_of_relocated_mid_segment_versions(
    spark, tmp_path, lake
):
    """r10 regression: vacuum's retained-version sweep read
    ``_history_versions ∪ _log_segments`` — but r9 relocates folded
    segments to ``_history/segments/``, so a generation referenced ONLY
    by a mid-segment version whose diff segment had been relocated was
    reclaimed even INSIDE the retain_versions window, and time travel
    to that version raised SnapshotExpiredError despite the retention
    promise. The sweep must include relocated segments."""
    lake.create("t", SCHEMA, ["year"], ["date", "ticker"], retain_versions=200)
    # three consecutive same-partition rewrites: each upsert's generation
    # is referenced only by its own version's manifest once superseded
    supers = []
    for i in range(3):
        lake.upsert("t", _df(spark, [("A", "2024-01-02", float(i))]))
        supers.append(lake._load_meta("t").version)
    # drive the log well past a checkpoint so those versions' segments
    # relocate out of _log/
    for i in range(2 * Lakehouse._LOG_CHECKPOINT_EVERY + 3):
        _meta_commit(lake, "t", "tick", str(i))
    relocated = set(lake._archived_segments("t"))
    anchors = set(lake._history_versions("t"))
    target = next(v for v in supers if v in relocated and v not in anchors)
    # precondition: target's manifest is reconstructible and references
    # a generation no anchor references
    assert lake._version_meta("t", target).version == target
    lake.vacuum("t", grace_s=0)
    # the retention window covers target: its snapshot must still read
    got = {r.close for r in lake.table("t", version=target).collect()}
    assert got == {float(supers.index(target))}, got
