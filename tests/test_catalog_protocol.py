"""Commit-protocol tests: optimistic concurrency detection (both the
version-moved and token-vanished race paths), legacy-layout refusal,
single-execution inserts, and partition-rel spelling round-trips
(double / fractional-timestamp partition values, where Python ``str(v)``
and Spark's directory spelling differ)."""

from __future__ import annotations

import datetime
import json
import types

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from at_data_pipelines_spark.catalog import (
    ConcurrentWriteError,
    Lakehouse,
    LegacyLayoutError,
)

SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("close", T.DoubleType()),
    ]
)


@pytest.fixture
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "lake"))


def _df(spark, rows):
    return spark.createDataFrame(
        [(t, datetime.date.fromisoformat(d), int(d[:4]), c) for t, d, c in rows],
        SCHEMA,
    )


@pytest.fixture
def slow_path_only():
    """Force the distributed insert/upsert path (the protocol these race
    tests were written to exercise) by zeroing the fast-path row guard."""
    orig = Lakehouse._FAST_UPSERT_MAX_ROWS
    Lakehouse._FAST_UPSERT_MAX_ROWS = 0
    yield
    Lakehouse._FAST_UPSERT_MAX_ROWS = orig


def test_concurrent_append_rebases_onto_rival_commit(lake, spark, slow_path_only):
    """Writer A loads the manifest, writes its generation; writer B commits
    in between. Sequence numbers are uniquely reserved (no directory is
    shared), and two appends commute — A's commit REBASES onto B's fresh
    manifest instead of raising, so BOTH batches become visible with one
    call each (r6 verdict #4)."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 10.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_seq

    def interleaved(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        # rival commits AFTER our data is written, BEFORE our commit PUT
        rival.insert("prices", _df(spark, [("R", "2024-01-03", 1.0)]))
        return token

    lake._write_seq = types.MethodType(interleaved, lake)
    lake.insert("prices", _df(spark, [("L", "2024-01-04", 2.0)]))
    del lake.__dict__["_write_seq"]

    # both concurrent appends committed; nothing lost, nothing clobbered
    got = {r.ticker for r in lake.table("prices").collect()}
    assert got == {"A", "R", "L"}
    # and the table still optimizes cleanly (both deltas absorbed)
    lake.optimize("prices")
    got = {r.ticker for r in lake.table("prices").collect()}
    assert got == {"A", "R", "L"}


def test_concurrent_writer_token_vanished_loses(lake, spark, slow_path_only):
    """A racing writer assigned the same sequence number clears the
    generation dir (taking the attempt token with it) but has not yet
    committed — the manifest version is unchanged, so only the token
    check can catch it. It must."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    orig = Lakehouse._write_seq

    def write_then_clobber(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        self.fs.delete(token)  # rival reused our seq and cleared the dir
        return token

    lake._write_seq = types.MethodType(write_then_clobber, lake)
    with pytest.raises(ConcurrentWriteError, match="token vanished"):
        lake.insert("prices", _df(spark, [("A", "2024-01-02", 10.0)]))
    del lake.__dict__["_write_seq"]
    # nothing committed: the table is still empty
    assert lake.table("prices").count() == 0


def test_fast_insert_concurrent_append_rebases(lake, spark):
    """The driver-side fast insert keeps the same rebase semantics as the
    distributed path: a rival append committed between its file writes
    and its manifest PUT is rebased onto, both batches visible."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 10.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_rel_file
    fired = {"done": False}

    def interleaved(self, table, rel_dir):
        orig(self, table, rel_dir)
        if not fired["done"]:
            fired["done"] = True
            rival.insert("prices", _df(spark, [("R", "2024-01-03", 1.0)]))

    lake._write_rel_file = types.MethodType(interleaved, lake)
    lake.insert("prices", _df(spark, [("L", "2024-01-04", 2.0)]))
    del lake.__dict__["_write_rel_file"]

    got = {r.ticker for r in lake.table("prices").collect()}
    assert got == {"A", "R", "L"}


def test_legacy_layout_refused(lake, spark):
    """Pre-manifest metadata over an old-layout data dir (hive dirs not
    wrapped in _seq=K) must refuse loudly instead of reading 0 rows."""
    d = lake._dir("old")
    lake.fs.mkdirs(f"{d}/data/year=2024")
    lake.fs.write_text(
        f"{d}/_bl_meta.json",
        json.dumps(
            {
                "name": "old",
                "schema_json": json.dumps(SCHEMA.jsonValue()),
                "partition_keys": ["year"],
                "primary_keys": [],
                "next_seq": 1,
                "dirty_partitions": [],
                "all_dirty": False,
            }
        ),
    )
    with pytest.raises(LegacyLayoutError, match="pre-manifest"):
        lake.table("old")


def test_retired_manifest_fields_on_disk_are_refused(lake, spark):
    """A manifest declaring CHECK constraints (which nothing enforces) or a
    dirty partition recorded as a value tuple (not a partition path) is
    refused at load, by reads and writes alike, instead of silently
    dropping the constraint or rewriting the entry."""
    rows = [("AAA", "2024-01-02", 1.0)]
    for name, field, value, match in (
        ("ck", "checks", {"close_pos": "close > 0"}, "CHECK"),
        ("dirty", "dirty_partitions", [[2024]], "dirty partition"),
    ):
        lake.create(name, SCHEMA, ["year"], ["ticker", "date"])
        lake.insert(name, _df(spark, rows))
        path = lake._meta_path(name)
        raw = json.loads(lake.fs.read_text(path))
        raw[field] = value
        lake.fs.write_text_atomic(path, json.dumps(raw))
        fresh = Lakehouse(spark, lake.root)
        with pytest.raises(LegacyLayoutError, match=match):
            fresh.table(name)
        with pytest.raises(LegacyLayoutError, match=match):
            fresh.upsert(name, _df(spark, rows))


def test_insert_executes_input_exactly_once(lake, spark):
    """The insert path must evaluate the input plan exactly once (dirty
    partitions are read off the written directory names, not via a second
    select().distinct() execution of the input). An accumulator inside a
    UDF on the input counts plan executions × rows."""
    acc = spark.sparkContext.accumulator(0)

    def bump(t):
        acc.add(1)
        return t

    u = F.udf(bump, "string")
    rows = [(f"T{i}", f"202{i % 2}-01-02", float(i)) for i in range(100)]
    df = _df(spark, rows).withColumn("ticker", u("ticker"))
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", df)
    assert acc.value == 100, f"input plan executed {acc.value / 100:.1f}x"
    # and the dirty partitions were still discovered correctly
    meta = lake._load_meta("prices")
    assert sorted(meta.dirty_partitions) == ["year=2020", "year=2021"]


def test_large_upsert_executes_expensive_plan_exactly_once(lake, spark):
    """r6 verdict #1: a >20k-row upsert whose input plan contains a
    shuffle must NOT run the upstream DAG twice (once for the small-batch
    probe's limit-collect, once for the distributed fallback write). The
    probe and the write share one lazily-localCheckpointed input, so an
    accumulator inside a post-aggregation UDF counts each row exactly
    once across the whole upsert."""
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return float(x)

    u = F.udf(bump, "double")
    n = 30_000
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("big", schema, [], ["k"])
    # aggregation => shuffle => expensive-to-recompute plan; the UDF runs
    # after it, so every (re)execution of the DAG re-counts all rows
    df = (
        spark.range(n)
        .groupBy(F.col("id").alias("k"))
        .agg(F.sum("id").alias("s"))
        .select("k", u(F.col("s")).alias("v"))
    )
    lake.upsert("big", df)
    assert lake.table("big").count() == n
    assert acc.value == n, f"expensive upstream plan executed {acc.value / n:.2f}x"


DW_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("w", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
    ]
)


def test_delete_where_double_partition_spelling(lake, spark):
    """Partition values whose Python str() differs from Spark's directory
    spelling (0.0001 -> '1.0E-4') must still match committed/written rels:
    a fully-deleted partition's manifest entry must actually go away."""
    lake.create("dw", DW_SCHEMA, ["w"], ["ticker", "w"])
    lake.insert(
        "dw",
        spark.createDataFrame(
            [("A", 0.0001, 1.0), ("B", 0.0001, 2.0), ("C", 1.5, 3.0)], DW_SCHEMA
        ),
    )
    lake.optimize("dw")
    meta = lake._load_meta("dw")
    assert any(r.startswith("w=1.0E-4") for r in meta.committed), meta.committed

    lake.delete_where("dw", F.col("w") == 0.0001)
    got = [(r.ticker, r.w) for r in lake.table("dw").collect()]
    assert got == [("C", 1.5)]
    meta = lake._load_meta("dw")
    assert not any(r.startswith("w=1.0E-4") for r in meta.committed), (
        "fully-deleted partition still has a manifest pointer: "
        f"{meta.committed}"
    )


TS_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("close", T.DoubleType()),
    ]
)


def test_fractional_timestamp_partition_roundtrip(lake, spark):
    """Fractional-second timestamp partition values must round-trip through
    directory names for both optimize (dirty-partition rewrite) and
    delete_where — no silent null-filter drop, no spelling miss."""
    t0 = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    t1 = datetime.datetime(2024, 1, 2, 3, 4, 6, 654321)
    lake.create("tsw", TS_SCHEMA, ["ts"], ["ticker", "ts"])
    lake.insert(
        "tsw", spark.createDataFrame([("A", t0, 1.0), ("B", t1, 2.0)], TS_SCHEMA)
    )
    # second insert of the same PK: optimize must rewrite the dirty
    # fractional-ts partition and keep the latest row
    lake.insert("tsw", spark.createDataFrame([("A", t0, 9.0)], TS_SCHEMA))
    lake.optimize("tsw")
    got = {(r.ticker, r.close) for r in lake.table("tsw").collect()}
    assert got == {("A", 9.0), ("B", 2.0)}, got

    lake.delete_where("tsw", F.col("ts") == F.lit(t0))
    got = {(r.ticker, r.close) for r in lake.table("tsw").collect()}
    assert got == {("B", 2.0)}
    meta = lake._load_meta("tsw")
    assert len(meta.committed) == 1, meta.committed


# -- driver-side small-commit fast path ------------------------------------


def _next_seq(lake, name):
    return lake._load_meta(name).next_seq


def test_fast_upsert_engages_and_matches_slow_path(lake, spark):
    """A small upsert must take the driver-side path (ONE generation per
    upsert — the distributed path burns two: staging + rewrite) and
    produce exactly the keep-latest state the distributed path would."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    s0 = _next_seq(lake, "prices")
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 10.0), ("B", "2024-01-02", 20.0)]))
    assert _next_seq(lake, "prices") == s0 + 1, "fast path should burn one seq"
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 11.0)]))  # PK merge
    assert _next_seq(lake, "prices") == s0 + 2
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2024-01-02"): 11.0, ("B", "2024-01-02"): 20.0}
    meta = lake._load_meta("prices")
    assert meta.live_deltas == [] and meta.dirty_partitions == []


def test_fast_upsert_interoperates_with_distributed_path(lake, spark):
    """Fast-path generations and Spark-written generations must read
    together: fast upsert, then a big-batch (forced distributed) upsert,
    then fast again — one coherent keep-latest table throughout."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))
    # force the distributed path via the row guard
    orig = Lakehouse._FAST_UPSERT_MAX_ROWS
    Lakehouse._FAST_UPSERT_MAX_ROWS = 0
    try:
        lake.upsert("prices", _df(spark, [("A", "2024-01-02", 2.0), ("C", "2023-05-01", 3.0)]))
    finally:
        Lakehouse._FAST_UPSERT_MAX_ROWS = orig
    lake.upsert("prices", _df(spark, [("C", "2023-05-01", 4.0)]))
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2024-01-02"): 2.0, ("C", "2023-05-01"): 4.0}
    # partition pruning still works over mixed generations
    assert lake.table("prices").filter(F.col("year") == 2023).count() == 1


def test_fast_upsert_defers_to_pending_deltas(lake, spark):
    """With un-optimized insert() deltas pending, upsert must fall back to
    the distributed path so optimize() absorbs them (the fast path never
    merges another write's live state)."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))  # pending delta
    assert lake._load_meta("prices").live_deltas
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2024-01-02"): 2.0}
    meta = lake._load_meta("prices")
    assert meta.live_deltas == [] and meta.dirty_partitions == []


def test_fast_upsert_bails_on_unrenderable_partition_type(lake, spark):
    """Double partition values spell differently in Python str() vs Spark's
    CAST-AS-STRING dirs (1e-4 vs 1.0E-4) — the fast path must refuse and
    leave the distributed path to write them, or the same logical
    partition would split into two directories."""
    schema = T.StructType(
        [
            T.StructField("ticker", T.StringType()),
            T.StructField("w", T.DoubleType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("dw", schema, ["w"], ["ticker", "w"])
    lake.upsert("dw", spark.createDataFrame([("A", 1e-4, 1.0)], schema))
    lake.upsert("dw", spark.createDataFrame([("A", 1e-4, 2.0)], schema))
    got = [(r.ticker, r.w, r.v) for r in lake.table("dw").collect()]
    assert got == [("A", 1e-4, 2.0)], got
    meta = lake._load_meta("dw")
    rels = list(meta.committed)
    assert len(rels) == 1, f"logical partition split across dirs: {rels}"


def test_fast_upsert_array_columns(lake, spark):
    """Array-typed payloads (the ANN codes-table shape) ride the fast path:
    arrow handles list columns end-to-end."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("centroid", T.LongType(), False),
            T.StructField("codes", T.ArrayType(T.IntegerType()), False),
        ]
    )
    lake.create("codes", schema, [], ["vec_id"])
    s0 = _next_seq(lake, "codes")
    lake.upsert("codes", spark.createDataFrame([(1, 0, [1, 2]), (2, 1, [3, 4])], schema))
    lake.upsert("codes", spark.createDataFrame([(2, 5, [9, 9])], schema))
    assert _next_seq(lake, "codes") == s0 + 2, "array columns should stay on the fast path"
    rows = {r.vec_id: (r.centroid, list(r.codes)) for r in lake.table("codes").collect()}
    assert rows == {1: (0, [1, 2]), 2: (5, [9, 9])}


def test_fast_upsert_concurrent_writer_detected(lake, spark):
    """The fast path keeps the optimistic-concurrency contract: a rival
    commit between its manifest load and its PUT must raise, and the
    rival's data must survive."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._fast_merge_write

    def interleaved(self, meta, batch, arrow_schema, seq_dir):
        out = orig(self, meta, batch, arrow_schema, seq_dir)
        rival.upsert("prices", _df(spark, [("R", "2024-01-03", 7.0)]))
        return out

    lake._fast_merge_write = types.MethodType(interleaved, lake)
    with pytest.raises(ConcurrentWriteError):
        lake.upsert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))
    del lake._fast_merge_write
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2024-01-02"): 1.0, ("R", "2024-01-03"): 7.0}
    # the loser's retry succeeds from fresh state
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows[("A", "2024-01-02")] == 2.0


def test_concurrent_disjoint_partition_upserts_both_commit(lake, spark):
    """r6 verdict #4, deterministic interleaving: writer B commits an
    upsert to year=2023 exactly between writer A's merge write and A's
    manifest PUT for year=2024. The partition sets are disjoint and
    append-only generations prove it, so A REBASES and both commits
    land — the table equals the serial result."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2023-01-02", 1.0), ("B", "2024-01-02", 2.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._fast_merge_write
    fired = {"done": False}

    def interleaved(self, meta, batch, arrow_schema, seq_dir):
        out = orig(self, meta, batch, arrow_schema, seq_dir)
        if not fired["done"]:
            fired["done"] = True
            rival.upsert("prices", _df(spark, [("A", "2023-01-02", 10.0)]))
        return out

    lake._fast_merge_write = types.MethodType(interleaved, lake)
    lake.upsert("prices", _df(spark, [("B", "2024-01-02", 20.0)]))
    del lake.__dict__["_fast_merge_write"]

    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    # == the serial result of both upserts, whatever their order
    assert rows == {("A", "2023-01-02"): 10.0, ("B", "2024-01-02"): 20.0}
    # PK dedup intact after both commits
    assert lake.table("prices").count() == 2


@pytest.mark.parametrize("rep", range(5))
def test_concurrent_upserts_two_threads_disjoint_partitions(lake, spark, rep):
    """Wall-clock thread race (non-deterministic interleaving): many
    upserts to DIFFERENT year= partitions from two threads must all
    commit — rebase absorbs any version race — and the final table must
    equal the serial result. Repeated 5× (parametrized) so a regression
    in commit atomicity cannot hide behind one lucky interleaving: the
    pre-r8 truncate-then-write manifest PUT failed this ~1 run in 3."""
    import threading

    name = f"prices_r{rep}"
    lake.create(name, SCHEMA, ["year"], ["date", "ticker"])
    lakes = [Lakehouse(spark, lake.root), Lakehouse(spark, lake.root)]
    errs: list = []
    barrier = threading.Barrier(2)

    def writer(i, year):
        try:
            barrier.wait(timeout=60)
            for step in range(3):
                lakes[i].upsert(
                    name,
                    _df(spark, [(f"T{i}", f"{year}-01-{2 + step:02d}", float(step))]),
                )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(0, "2023")),
        threading.Thread(target=writer, args=(1, "2024")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, f"concurrent disjoint upserts must not conflict: {errs}"
    rows = {(r.ticker, str(r.date)) for r in lake.table(name).collect()}
    assert rows == {
        (f"T{i}", f"{y}-01-{2 + s:02d}")
        for i, y in ((0, "2023"), (1, "2024"))
        for s in range(3)
    }


def test_append_rebase_redirties_partition_cleaned_by_rival_optimize(
    lake, spark, slow_path_only
):
    """Review fix: a delta appended to an ALREADY-dirty partition, racing
    an optimize() that cleans it, must re-dirty that partition on rebase
    — replayed from the partitions the delta WROTE, not a before/after
    dirty-set difference (which is empty here). Otherwise a later
    partition-pruned optimize clears live_deltas without absorbing the
    delta's rows: silent data loss."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))  # year=2024 dirty

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_seq
    fired = {"done": False}

    def interleaved(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        if not fired["done"]:
            fired["done"] = True
            rival.optimize("prices")  # absorbs A's delta, cleans the dirty set
        return token

    lake._write_seq = types.MethodType(interleaved, lake)
    lake.insert("prices", _df(spark, [("B", "2024-01-03", 2.0)]))  # rebases
    del lake.__dict__["_write_seq"]

    meta = lake._load_meta("prices")
    assert meta.dirty_partitions == ["year=2024"], (
        "rebased delta must re-dirty the partition it wrote"
    )
    # the loss scenario the invariant prevents: dirty a DIFFERENT
    # partition, run the pruned optimize, and B must survive it
    lake.insert("prices", _df(spark, [("C", "2023-01-02", 3.0)]))
    lake.optimize("prices")
    got = {r.ticker for r in lake.table("prices").collect()}
    assert got == {"A", "B", "C"}


def test_concurrent_mixed_ops_stress_converges(lake, spark):
    """Three threads, each upserting a sequence of values into its OWN
    year= partition, retrying on ConcurrentWriteError like a real client
    — whatever the interleaving (fast paths, rebases, occasional
    conflicts via shared optimize state), the final table must equal
    every thread's last write, PK-deduped, and still compact/vacuum
    cleanly."""
    import threading

    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lakes = [Lakehouse(spark, lake.root) for _ in range(3)]
    years = ["2021", "2022", "2023"]
    errs: list = []
    barrier = threading.Barrier(3)

    def writer(i):
        try:
            barrier.wait(timeout=60)
            for step in range(4):
                for attempt in range(6):
                    try:
                        lakes[i].upsert(
                            "prices",
                            _df(spark, [(f"T{i}", f"{years[i]}-01-02", float(step))]),
                        )
                        break
                    except ConcurrentWriteError:
                        if attempt == 5:
                            raise
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    assert not errs, f"stress writers failed: {errs}"
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {(f"T{i}", f"{years[i]}-01-02"): 3.0 for i in range(3)}
    lake.optimize("prices")
    assert lake.table("prices").count() == 3
    lake.vacuum("prices", grace_s=0)
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {(f"T{i}", f"{years[i]}-01-02"): 3.0 for i in range(3)}


def test_vacuum_grace_spares_in_flight_generations(lake, spark):
    """vacuum's grace window (the Delta retention-hours move) must skip
    unreferenced generations modified recently — they may belong to an
    in-flight writer whose commit hasn't landed yet; only with
    grace_s=0 (maintenance window) are they reclaimed immediately."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))
    # simulate an in-flight writer: a claimed, written, uncommitted gen
    meta = lake._load_meta("prices")
    seq = lake._reserve_seq("prices", meta)
    lake._write_seq("prices", meta, lake.table("prices"), seq)
    orphan = lake._seq_dir("prices", seq)
    assert lake.fs.exists(orphan)
    assert lake.vacuum("prices") == []  # default grace: spared
    assert lake.fs.exists(orphan)
    removed = lake.vacuum("prices", grace_s=0)  # maintenance window
    assert orphan in removed and not lake.fs.exists(orphan)
    # committed data untouched either way
    assert lake.table("prices").count() == 1


def test_concurrent_same_partition_upserts_still_raise(lake, spark):
    """Conflicting writers (same partition) must NOT rebase: the rival's
    commit repointed the very base our merge read, so the race surfaces
    as ConcurrentWriteError exactly as before."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._fast_merge_write
    fired = {"done": False}

    def interleaved(self, meta, batch, arrow_schema, seq_dir):
        out = orig(self, meta, batch, arrow_schema, seq_dir)
        if not fired["done"]:
            fired["done"] = True
            rival.upsert("prices", _df(spark, [("R", "2024-01-03", 7.0)]))
        return out

    lake._fast_merge_write = types.MethodType(interleaved, lake)
    with pytest.raises(ConcurrentWriteError, match="not provably disjoint"):
        lake.upsert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))
    del lake.__dict__["_fast_merge_write"]
    # the rival's commit is intact, the loser's rows never became visible
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2024-01-02"): 1.0, ("R", "2024-01-03"): 7.0}
    # the loser's retry from fresh state succeeds
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows[("A", "2024-01-02")] == 2.0


def test_optimize_conflicting_with_new_delta_raises(lake, spark, slow_path_only):
    """A compaction whose read snapshot went stale (rival appended a NEW
    delta after our load) must refuse to rebase — setting live_deltas=[]
    would silently drop the rival's rows."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_seq
    fired = {"done": False}

    def interleaved(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        if not fired["done"]:
            fired["done"] = True
            rival.insert("prices", _df(spark, [("R", "2024-01-03", 7.0)]))
        return token

    lake._write_seq = types.MethodType(interleaved, lake)
    with pytest.raises(ConcurrentWriteError, match="not provably disjoint"):
        lake.optimize("prices")
    del lake.__dict__["_write_seq"]
    # nothing lost: both deltas still visible, and a fresh optimize works
    got = {r.ticker for r in lake.table("prices").collect()}
    assert got == {"A", "R"}
    lake.optimize("prices")
    got = {r.ticker for r in lake.table("prices").collect()}
    assert got == {"A", "R"}


def test_fast_and_slow_upsert_paths_agree_on_hostile_values(lake, spark, tmp_path):
    """Differential test of the driver-side fast path vs the distributed
    path over batch sequences with hostile values: NULL and empty-string
    partition values (shared hive sentinel dir), hive-escaped characters
    (= / % space unicode) in partition values, NULL primary-key
    components, and PK ⊆ partition-cols rels. Both paths must produce
    the IDENTICAL table after every upsert — in particular the same
    hive-dir spelling, or the same logical partition would split across
    directories and keep-latest would silently miss merges."""
    import random

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("part", T.StringType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("b", T.LongType()),
        ]
    )
    parts = [None, "", "x y", "a=b", "p/q", "100%", "ünïcode", "plain", "2023"]
    keys = [None, "", "k1", "k2", "k=3", "k4"]

    fast = Lakehouse(spark, str(tmp_path / "fastlake"))
    slow = Lakehouse(spark, str(tmp_path / "slowlake"))
    for lk in (fast, slow):
        lk.create("t", schema, ["part"], ["k", "part"])

    rng = random.Random(41)
    orig = Lakehouse._FAST_UPSERT_MAX_ROWS
    for batch_no in range(4):
        combos = rng.sample([(k, p) for k in keys for p in parts], rng.randint(3, 12))
        rows = [(k, p, rng.random(), batch_no) for (k, p) in combos]
        df = spark.createDataFrame(rows, schema)
        fast.upsert("t", df)
        assert fast._load_meta("t").next_seq == batch_no + 1, "fast path not engaged"
        try:
            Lakehouse._FAST_UPSERT_MAX_ROWS = 0  # force distributed
            slow.upsert("t", df)
        finally:
            Lakehouse._FAST_UPSERT_MAX_ROWS = orig
        got = {(r.k, r.part, round(r.v, 9), r.b) for r in fast.table("t").collect()}
        want = {(r.k, r.part, round(r.v, 9), r.b) for r in slow.table("t").collect()}
        assert got == want, f"paths diverged after batch {batch_no}"
    # the same logical partitions must map to the same directory spellings
    assert set(fast._load_meta("t").committed) == set(slow._load_meta("t").committed)


def test_insert_overwrite_truncates_on_both_paths(lake, spark):
    """insert(mode='overwrite') resets visibility to the new batch alone —
    prior generations become vacuumable orphans — identically through the
    driver-side fast path and the distributed path."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2023-05-01", 1.0), ("B", "2024-01-02", 2.0)]))

    # fast-path overwrite
    lake.insert("prices", _df(spark, [("C", "2024-02-01", 3.0)]), mode="overwrite")
    assert {r.ticker for r in lake.table("prices").collect()} == {"C"}
    meta = lake._load_meta("prices")
    assert meta.committed == {} and len(meta.live_deltas) == 1

    # distributed overwrite (forced) behaves identically
    orig = Lakehouse._FAST_UPSERT_MAX_ROWS
    try:
        Lakehouse._FAST_UPSERT_MAX_ROWS = 0
        lake.insert("prices", _df(spark, [("D", "2024-03-01", 4.0)]), mode="overwrite")
    finally:
        Lakehouse._FAST_UPSERT_MAX_ROWS = orig
    assert {r.ticker for r in lake.table("prices").collect()} == {"D"}
    # orphaned generations reclaimed
    removed = lake.vacuum("prices", grace_s=0)
    assert removed, "expected orphaned pre-overwrite generations"
    assert {r.ticker for r in lake.table("prices").collect()} == {"D"}


def test_atomic_put_never_yields_torn_reads(lake, spark):
    """Hammer ``write_bytes_atomic`` from a writer thread while a reader
    loops: every read must parse as the complete JSON of SOME committed
    version — never empty, never truncated. The pre-r8 PUT
    (create overwrite=true) fails this within a few hundred iterations
    on file:// because Hadoop's create is truncate-then-write."""
    import threading

    lake.create("t", SCHEMA, [], [])
    p = f"{lake.root}/t/hammer.json"
    pad = "x" * 4096  # big enough that truncate→write is observable
    lake.fs.write_text_atomic(p, json.dumps({"v": 0, "pad": pad}))
    stop = threading.Event()
    bad: list = []

    def reader():
        while not stop.is_set():
            try:
                doc = json.loads(lake.fs.read_text(p))
            except Exception as e:  # pragma: no cover - failure capture
                bad.append(repr(e))
                return
            if doc.get("pad") != pad:  # pragma: no cover
                bad.append(f"torn content: keys={sorted(doc)}")
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(1, 400):
            lake.fs.write_text_atomic(p, json.dumps({"v": i, "pad": pad}))
    finally:
        stop.set()
        t.join(timeout=60)
    assert not bad, f"reader observed a torn manifest: {bad[:1]}"


def test_atomic_put_migrates_stale_checksum_sidecar(lake, spark):
    """A table written by the pre-atomic path has a ``.crc`` sidecar next
    to its manifest (LocalFileSystem checksums). The atomic PUT must drop
    it before the swap — otherwise every subsequent checksummed read
    fails with ChecksumException against the old checksum."""
    lake.create("t", SCHEMA, [], [])
    p = f"{lake.root}/t/migrate.json"
    # legacy overwrite PUT through the JVM ChecksumFileSystem (the r10
    # os-level fast path no longer produces .crc sidecars itself, so the
    # pre-r8 on-disk shape must be reproduced via Hadoop directly)
    stream = lake.fs._fs.create(lake.fs._Path(p), True)
    try:
        stream.write(bytearray(json.dumps({"v": "old"}).encode()))
    finally:
        stream.close()
    crc = f"{lake.root}/t/.migrate.json.crc"
    assert lake.fs.exists(crc), "precondition: legacy write leaves a .crc"
    lake.fs.write_text_atomic(p, json.dumps({"v": "new"}))
    assert not lake.fs.exists(crc)
    assert json.loads(lake.fs.read_text(p)) == {"v": "new"}
    # and the real manifest (atomic since r8) round-trips through both
    # the checksummed read path and _load_meta
    assert lake._load_meta("t").name == "t"


def test_read_meta_raw_retries_torn_manifest(lake, spark):
    """Defense in depth: even if a filesystem DID expose a truncated
    manifest, ``_read_meta_raw`` re-reads instead of surfacing
    JSONDecodeError. Simulated by patching read_text to return garbage
    the first two calls."""
    lake.create("t", SCHEMA, [], [])
    good = lake.fs.read_text(lake._meta_path("t"))
    calls = {"n": 0}
    orig = lake.fs.read_text

    def flaky(p):
        if p == lake._meta_path("t"):
            calls["n"] += 1
            if calls["n"] <= 2:
                return ""  # zero-length: mid-truncate snapshot
        return orig(p)

    lake.fs.read_text = flaky
    try:
        meta = lake._load_meta("t")
    finally:
        lake.fs.read_text = orig
    assert meta.name == "t" and calls["n"] == 3


def test_create_exclusive_atomic_under_thread_contention(lake, spark):
    """8 threads race create_exclusive on the same path: exactly one may
    win. Hadoop's RawLocalFileSystem create(overwrite=false) is
    exists-check-then-create and loses this (two winners); the POSIX
    O_CREAT|O_EXCL path must not."""
    import threading

    lake.fs.mkdirs(f"{lake.root}/claims")
    for round_i in range(20):
        p = f"{lake.root}/claims/c-{round_i}"
        wins: list = []
        barrier = threading.Barrier(8)

        def racer():
            barrier.wait(timeout=30)
            if lake.fs.create_exclusive(p):
                wins.append(1)

        ts = [threading.Thread(target=racer) for _ in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
        assert len(wins) == 1, f"round {round_i}: {len(wins)} winners"


def test_commit_lock_excludes_and_breaks_stale_holder(lake, spark):
    """The commit lock mutually excludes live holders, and a lock whose
    holder crashed (simulated via an aged mtime) is broken by the next
    acquirer instead of deadlocking."""
    import os
    import threading

    lake.create("t", SCHEMA, [], [])
    order: list = []

    def holder():
        with lake._commit_lock("t"):
            order.append("a-in")
            time.sleep(0.3)
            order.append("a-out")

    import time

    t = threading.Thread(target=holder)
    t.start()
    time.sleep(0.1)  # let the holder acquire
    with lake._commit_lock("t"):
        order.append("b-in")
    t.join(timeout=30)
    assert order == ["a-in", "a-out", "b-in"]

    # stale-holder break: plant a lock file aged past the lease
    lock = f"{lake.root}/t/_commit.lock"
    assert lake.fs.create_exclusive(lock)
    old = time.time() - (Lakehouse._LOCK_LEASE_MS / 1000.0) - 5
    os.utime(lake.fs._local_path(lock), (old, old))
    with lake._commit_lock("t"):
        order.append("breaker-in")
    assert order[-1] == "breaker-in"
    assert not lake.fs.exists(lock)


def test_vacuum_recheck_spares_generation_committed_mid_pass(lake, spark):
    """r7 advisory (medium): on object stores, directory mtimes are
    synthetic/zero, so the grace guard is blind there — a generation
    written before vacuum's manifest load but COMMITTED between that
    load and the delete pass must still be spared, via the last-moment
    manifest re-read. Simulated with mtimes forced to 0 (the S3A shape)
    and the commit interleaved into the candidate scan."""
    import types

    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))

    # in-flight writer: generation dir + file exist, not yet referenced
    gen = f"{lake.root}/prices/data/_seq=99"
    lake.fs.mkdirs(gen)
    lake.fs.write_text(f"{gen}/part-0.parquet", "pending")

    orig_max_mtime = lake.fs.max_mtime
    committed = {"done": False}

    def blind_mtime(p):
        # object-store shape: no usable mtime; and the writer's commit
        # lands while vacuum is scanning candidates
        if "_seq=99" in p and not committed["done"]:
            committed["done"] = True
            rival = Lakehouse(spark, lake.root)
            m = rival._load_meta("prices")
            m.live_deltas.append(99)
            m.dirty_partitions.append("year=2024")
            m.version += 1
            rival._save_meta(m)
        return 0

    lake.fs.max_mtime = blind_mtime
    try:
        removed = lake.vacuum("prices", grace_s=3600)
    finally:
        lake.fs.max_mtime = orig_max_mtime
    assert committed["done"], "interleaved commit did not fire"
    assert not any("_seq=99" in p for p in removed), removed
    assert lake.fs.exists(f"{gen}/part-0.parquet"), "committed data deleted"


def test_conditional_create_hook_arbitrates_seq_claims(lake, spark):
    """S3-shaped claim arbitration: with a conditional-create hook
    installed (modeling S3's If-None-Match PUT), 8 threads reserving a
    generation number against the SAME loaded manifest must get 8
    DISTINCT numbers — the hook is the only arbiter (no HEAD-then-PUT
    fallback involved)."""
    import threading

    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    meta = lake._load_meta("prices")
    claimed: set = set()
    mu = threading.Lock()
    calls = {"n": 0}

    def stub(p, data=b""):  # atomic CAS, as S3 If-None-Match provides
        with mu:
            calls["n"] += 1
            if p in claimed:
                return False
            claimed.add(p)
            return True

    orig_scheme = lake.fs.scheme
    lake.fs.conditional_create_hook = stub
    lake.fs.scheme = "s3a"
    seqs: list = []
    try:
        barrier = threading.Barrier(8)

        def worker():
            barrier.wait(timeout=30)
            s = lake._reserve_seq("prices", meta)
            with mu:
                seqs.append(s)

        ts = [threading.Thread(target=worker) for _ in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        lake.fs.scheme = orig_scheme
        del lake.fs.__dict__["conditional_create_hook"]
    assert len(seqs) == 8 and len(set(seqs)) == 8, seqs
    assert calls["n"] >= 8, "claims must route through the hook"


def test_boto3_conditional_create_412_maps_to_lost_claim(monkeypatch):
    """The boto3-backed hook translates S3's PreconditionFailed (412 on
    If-None-Match) into 'lost the claim' (False) and re-raises anything
    else — exercised against a fake boto3 injected into sys.modules, so
    the logic is tested without AWS."""
    import sys
    import types as _t

    from at_data_pipelines_spark import catalog as cat

    class FakeClientError(Exception):
        def __init__(self, code, status):
            self.response = {
                "Error": {"Code": code},
                "ResponseMetadata": {"HTTPStatusCode": status},
            }

    state = {"objects": set(), "bodies": {}}

    class FakeS3:
        def put_object(self, Bucket, Key, Body, IfNoneMatch):
            assert IfNoneMatch == "*"
            if (Bucket, Key) in state["objects"]:
                raise FakeClientError("PreconditionFailed", 412)
            state["objects"].add((Bucket, Key))
            state["bodies"][(Bucket, Key)] = Body

    fake_boto3 = _t.ModuleType("boto3")
    fake_boto3.client = lambda svc: FakeS3()
    fake_botocore = _t.ModuleType("botocore")
    fake_exc = _t.ModuleType("botocore.exceptions")
    fake_exc.ClientError = FakeClientError
    fake_botocore.exceptions = fake_exc
    monkeypatch.setitem(sys.modules, "boto3", fake_boto3)
    monkeypatch.setitem(sys.modules, "botocore", fake_botocore)
    monkeypatch.setitem(sys.modules, "botocore.exceptions", fake_exc)

    hook = cat._boto3_conditional_create_factory()
    assert hook is not None
    assert hook("s3a://bucket/t/_claims/seq-0") is True
    assert hook("s3a://bucket/t/_claims/seq-0") is False  # 412 -> lost
    assert hook("s3a://bucket/t/_claims/seq-1") is True
    # the payload reaches S3 as the object body — the commit lock's
    # holder token travels this path (empty Body = leaked locks, r8 bug)
    assert hook("s3a://bucket/t/_commit.lock", b"tok-123") is True
    assert state["bodies"][("bucket", "t/_commit.lock")] == b"tok-123"
    assert state["bodies"][("bucket", "t/_claims/seq-1")] == b""

    # non-412 errors re-raise (credentials, throttling must not look
    # like contention)
    class FakeS3Err(FakeS3):
        def put_object(self, **kw):
            raise FakeClientError("SlowDown", 503)

    fake_boto3.client = lambda svc: FakeS3Err()
    hook2 = cat._boto3_conditional_create_factory()
    import pytest as _pytest

    with _pytest.raises(FakeClientError):
        hook2("s3a://bucket/t/_claims/seq-2")


def test_commit_lock_token_roundtrip_through_hook_s3a(lake, spark):
    """s3a-shaped commit lock: the holder token must travel THROUGH the
    conditional-create hook into the lock body (r8 bug: the hook put
    Body=b'', so release's read-back-token check never matched and every
    commit leaked its lock — the next writer waited out the full 60 s
    lease). With a faithful stub: the lock carries the token while held,
    release deletes it, and an immediate re-acquisition is instant."""
    import os
    import time as _time

    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lock = f"{lake._dir('prices')}/_commit.lock"
    captured = {}

    def stub(p, data=b""):  # models S3 If-None-Match PUT with a Body
        if os.path.exists(p):
            return False
        captured[p] = data
        with open(p, "wb") as f:
            f.write(data)
        return True

    orig_scheme = lake.fs.scheme
    lake.fs.conditional_create_hook = stub
    lake.fs.scheme = "s3a"
    try:
        with lake._commit_lock("prices"):
            tok = lake.fs.read_bytes(lock)
            assert tok == captured[lock] and len(tok) == 32, (
                "lock body must carry the holder token"
            )
        assert not os.path.exists(lock), "release must delete a matching lock"
        # the leak's symptom was here: a second acquisition stalling 60 s
        t0 = _time.monotonic()
        with lake._commit_lock("prices"):
            pass
        assert _time.monotonic() - t0 < 5, "re-acquisition must not wait a lease"
        assert not os.path.exists(lock)
    finally:
        lake.fs.scheme = orig_scheme
        del lake.fs.__dict__["conditional_create_hook"]


def test_break_stale_lock_object_store_paths(lake, spark):
    """Object-store eviction must NOT use the rename dance (s3a rename is
    copy+delete: the tombstone always looks fresh and a genuinely stale
    lock was unbreakable — r8 advisory). With a delete_if_older_hook the
    eviction is one ETag-CAS delete; without one it is a
    recheck-then-delete. Both paths: stale lock goes, fresh lock stays."""
    import os
    import time as _time

    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lock = f"{lake._dir('prices')}/_commit.lock"

    def make_lock(age_s):
        with open(lock, "wb") as f:
            f.write(b"deadbeef" * 4)
        old = _time.time() - age_s
        os.utime(lock, (old, old))

    calls = []

    def dhook(p, cutoff_ms):  # models boto3 HEAD + DeleteObject If-Match
        calls.append((p, cutoff_ms))
        if os.path.exists(p) and os.stat(p).st_mtime * 1000 < cutoff_ms:
            os.remove(p)
            return True
        return False

    orig_scheme = lake.fs.scheme
    lake.fs.scheme = "s3a"
    try:
        # hook path: stale evicted, fresh survives
        lake.fs.delete_if_older_hook = dhook
        make_lock(age_s=120)
        lake._break_stale_lock(lock)
        assert calls and not os.path.exists(lock), "stale lock must be evicted"
        make_lock(age_s=0)
        lake._break_stale_lock(lock)
        assert os.path.exists(lock), "fresh lock must survive the hook path"
        os.remove(lock)
        # hookless path: recheck-then-delete
        lake.fs.delete_if_older_hook = None
        make_lock(age_s=120)
        lake._break_stale_lock(lock)
        assert not os.path.exists(lock), "stale lock must be evicted hookless"
        make_lock(age_s=0)
        lake._break_stale_lock(lock)
        assert os.path.exists(lock), "fresh lock must survive hookless"
    finally:
        lake.fs.scheme = orig_scheme
        lake.fs.__dict__.pop("delete_if_older_hook", None)


def test_boto3_delete_if_older_hook(monkeypatch):
    """The boto3 eviction hook against a fake S3: deletes only objects
    older than the cutoff, keys the delete on the HEAD's ETag (412 →
    False, the lock was re-acquired in between), 404 → False, and falls
    back to an unconditional delete where If-Match is unsupported."""
    import datetime as _dt
    import sys
    import types as _t

    from at_data_pipelines_spark import catalog as cat

    class FakeClientError(Exception):
        def __init__(self, code, status):
            self.response = {
                "Error": {"Code": code},
                "ResponseMetadata": {"HTTPStatusCode": status},
            }

    now = _dt.datetime.now(_dt.timezone.utc)
    state = {
        "objects": {
            ("b", "t/old.lock"): (now - _dt.timedelta(seconds=120), "etag-old"),
            ("b", "t/new.lock"): (now, "etag-new"),
            ("b", "t/raced.lock"): (now - _dt.timedelta(seconds=120), "etag-r"),
        },
        "deleted": [],
        "if_match_supported": True,
    }

    class FakeS3:
        def head_object(self, Bucket, Key):
            if (Bucket, Key) not in state["objects"]:
                raise FakeClientError("NoSuchKey", 404)
            ts, etag = state["objects"][(Bucket, Key)]
            return {"LastModified": ts, "ETag": f'"{etag}"'}

        def delete_object(self, Bucket, Key, IfMatch=None):
            if IfMatch is not None and not state["if_match_supported"]:
                raise FakeClientError("NotImplemented", 501)
            _, etag = state["objects"].get((Bucket, Key), (None, None))
            if IfMatch is not None and IfMatch != etag:
                raise FakeClientError("PreconditionFailed", 412)
            state["objects"].pop((Bucket, Key), None)
            state["deleted"].append((Bucket, Key, IfMatch))

    fake_boto3 = _t.ModuleType("boto3")
    fake_boto3.client = lambda svc: FakeS3()
    fake_botocore = _t.ModuleType("botocore")
    fake_exc = _t.ModuleType("botocore.exceptions")
    fake_exc.ClientError = FakeClientError
    fake_botocore.exceptions = fake_exc
    monkeypatch.setitem(sys.modules, "boto3", fake_boto3)
    monkeypatch.setitem(sys.modules, "botocore", fake_botocore)
    monkeypatch.setitem(sys.modules, "botocore.exceptions", fake_exc)

    hook = cat._boto3_delete_if_older_factory()
    assert hook is not None
    cutoff = int((now - _dt.timedelta(seconds=60)).timestamp() * 1000)
    assert hook("s3a://b/t/old.lock", cutoff) is True
    assert state["deleted"] == [("b", "t/old.lock", "etag-old")]
    assert hook("s3a://b/t/new.lock", cutoff) is False  # fresh: kept
    assert ("b", "t/new.lock") in state["objects"]
    assert hook("s3a://b/t/gone.lock", cutoff) is False  # 404 → already gone
    # raced re-acquisition: ETag changed between HEAD and DELETE → kept
    real_head = FakeS3.head_object

    def raced_head(self, Bucket, Key):
        out = real_head(self, Bucket, Key)
        if Key == "t/raced.lock":
            state["objects"][(Bucket, Key)] = (now, "etag-NEW")
        return out

    monkeypatch.setattr(FakeS3, "head_object", raced_head)
    assert hook("s3a://b/t/raced.lock", cutoff) is False
    assert ("b", "t/raced.lock") in state["objects"]
    monkeypatch.setattr(FakeS3, "head_object", real_head)
    # If-Match unsupported → unconditional delete right after the HEAD
    state["if_match_supported"] = False
    state["objects"][("b", "t/old2.lock")] = (
        now - _dt.timedelta(seconds=120),
        "etag-o2",
    )
    assert hook("s3a://b/t/old2.lock", cutoff) is True
    assert ("b", "t/old2.lock") not in state["objects"]

    # CLIENT-side rejection: botocore predating S3 conditional deletes
    # raises ParamValidationError for the IfMatch kwarg BEFORE any
    # request goes out — not a ClientError, so it must be caught
    # separately and take the same unconditional-delete fallback
    # (otherwise it escapes _break_stale_lock and a crashed holder's
    # lock becomes unbreakable).
    class FakeParamValidationError(Exception):
        pass

    fake_exc.ParamValidationError = FakeParamValidationError

    class OldSdkS3(FakeS3):
        def delete_object(self, Bucket, Key, IfMatch=None):
            if IfMatch is not None:
                raise FakeParamValidationError(
                    "Unknown parameter in input: IfMatch"
                )
            super().delete_object(Bucket, Key)

    fake_boto3.client = lambda svc: OldSdkS3()
    state["if_match_supported"] = True
    state["objects"][("b", "t/old3.lock")] = (
        now - _dt.timedelta(seconds=120),
        "etag-o3",
    )
    hook_old = cat._boto3_delete_if_older_factory()
    assert hook_old("s3a://b/t/old3.lock", cutoff) is True
    assert ("b", "t/old3.lock") not in state["objects"]

    # very old SDKs raise TypeError for an unknown kwarg — same fallback
    class AncientSdkS3(FakeS3):
        def delete_object(self, Bucket, Key, **kw):
            if kw:
                raise TypeError(
                    f"delete_object() got unexpected kwargs {sorted(kw)}"
                )
            super().delete_object(Bucket, Key)

    fake_boto3.client = lambda svc: AncientSdkS3()
    state["objects"][("b", "t/old4.lock")] = (
        now - _dt.timedelta(seconds=120),
        "etag-o4",
    )
    hook_ancient = cat._boto3_delete_if_older_factory()
    assert hook_ancient("s3a://b/t/old4.lock", cutoff) is True
    assert ("b", "t/old4.lock") not in state["objects"]


def test_compact_conflicting_with_new_delta_raises(lake, spark, slow_path_only):
    """compact() (PK-less merge) carries optimize()'s rmw guard: a rival
    delta landing in a dirty partition after our read snapshot must
    refuse to rebase — live_deltas=[] would silently drop its rows."""
    lake.create("events", SCHEMA, ["year"], [])  # no primary keys
    lake.insert("events", _df(spark, [("A", "2024-01-02", 1.0)]))

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_seq
    fired = {"done": False}

    def interleaved(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        if not fired["done"]:
            fired["done"] = True
            rival.insert("events", _df(spark, [("R", "2024-01-03", 7.0)]))
        return token

    lake._write_seq = types.MethodType(interleaved, lake)
    with pytest.raises(ConcurrentWriteError, match="not provably disjoint"):
        lake.compact("events")
    del lake.__dict__["_write_seq"]
    # nothing lost: both rows visible, a fresh compact absorbs both
    got = {r.ticker for r in lake.table("events").collect()}
    assert got == {"A", "R"}
    lake.compact("events")
    assert {r.ticker for r in lake.table("events").collect()} == {"A", "R"}
    assert lake._load_meta("events").live_deltas == []


def test_compact_rebases_over_disjoint_rival_append(lake, spark, slow_path_only):
    """A rival append to a CLEAN partition is provably disjoint from the
    compaction's read footprint — compact()'s commit must rebase onto it
    (preserving the rival's delta + dirty entry) instead of raising."""
    lake.create("events", SCHEMA, ["year"], [])
    lake.insert("events", _df(spark, [("A", "2023-06-01", 1.0)]))
    lake.compact("events")  # 2023 clean base
    lake.insert("events", _df(spark, [("B", "2024-01-02", 2.0)]))  # dirty: 2024

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_seq
    fired = {"done": False}

    def interleaved(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        if not fired["done"]:
            fired["done"] = True
            rival.insert("events", _df(spark, [("R", "2025-03-01", 9.0)]))
        return token

    lake._write_seq = types.MethodType(interleaved, lake)
    lake.compact("events")  # reads only year=2024; rival touched year=2025
    del lake.__dict__["_write_seq"]
    got = {r.ticker for r in lake.table("events").collect()}
    assert got == {"A", "B", "R"}
    meta = lake._load_meta("events")
    assert meta.live_deltas, "rival's un-absorbed delta must survive the rebase"
    assert meta.dirty_partitions == ["year=2025"]


def test_optimize_rebases_over_disjoint_rival_append(lake, spark, slow_path_only):
    """The compaction-liveness relaxation on the PK path: an optimize()
    racing a rival append to a CLEAN partition rebases, the rival's
    delta survives as pending state, and the final table equals the
    serial execution (append then optimize then absorb)."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2023-06-01", 1.0)]))  # 2023 clean
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 3.0)]))  # shadowing rev

    rival = Lakehouse(spark, lake.root)
    orig = Lakehouse._write_seq
    fired = {"done": False}

    def interleaved(self, name, meta, df, seq):
        token = orig(self, name, meta, df, seq)
        if not fired["done"]:
            fired["done"] = True
            rival.insert("prices", _df(spark, [("R", "2025-03-01", 9.0)]))
        return token

    lake._write_seq = types.MethodType(interleaved, lake)
    lake.optimize("prices")  # rewrites year=2024 only; rival touched year=2025
    del lake.__dict__["_write_seq"]
    meta = lake._load_meta("prices")
    assert meta.live_deltas, "rival delta must survive as pending state"
    assert meta.dirty_partitions == ["year=2025"]
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {
        ("A", "2023-06-01"): 1.0,
        ("A", "2024-01-02"): 3.0,  # keep-latest applied by the rewrite
        ("R", "2025-03-01"): 9.0,
    }
    lake.optimize("prices")  # absorbs the rival's delta; state unchanged
    rows2 = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows2 == rows
    assert lake._load_meta("prices").live_deltas == []


def test_concurrent_append_and_compact_stress(lake, spark, slow_path_only):
    """Liveness under real thread interleaving: a writer appending each
    batch to a FRESH partition while a second handle compacts in a loop.
    Every append is provably disjoint from every in-flight rewrite, so
    no compact may raise, at least one must land while the writer is
    active (pre-r10 every single one lost the race), and the final
    table must hold every appended row."""
    import threading
    import time

    lake.create("events", SCHEMA, ["year"], [])  # PK-less append-only
    lake.insert("events", _df(spark, [("seed", "1999-01-02", 0.0)]))
    lake.compact("events")

    writer_done = threading.Event()
    n_appends = 10
    compact_ok = []
    errs: list = []

    def writer():
        try:
            for i in range(n_appends):
                lake.insert(
                    "events", _df(spark, [(f"W{i}", f"{2000 + i}-01-02", float(i))])
                )
        except Exception as e:
            errs.append(repr(e))
        finally:
            writer_done.set()

    def compactor():
        rival = Lakehouse(spark, lake.root)
        try:
            while not writer_done.is_set():
                if rival.pending_deltas("events"):
                    rival.compact("events")
                    compact_ok.append(1)
                else:
                    time.sleep(0.02)
        except Exception as e:
            errs.append(repr(e))

    tw, tc = threading.Thread(target=writer), threading.Thread(target=compactor)
    tw.start(), tc.start()
    tw.join(), tc.join()
    assert errs == [], errs
    assert compact_ok, "compaction starved: no pass landed during ingest"
    lake.compact("events")  # absorb any tail deltas
    rows = {(r.ticker, float(r.close)) for r in lake.table("events").collect()}
    want = {("seed", 0.0)} | {(f"W{i}", float(i)) for i in range(n_appends)}
    assert rows == want, "rows lost or duplicated under append/compact race"
    meta = lake._load_meta("events")
    assert meta.live_deltas == [] and meta.dirty_partitions == []


def test_fs_os_fast_paths_agree_with_hadoop(lake, tmp_path):
    """r16: `mkdirs`/`exists` gained os-level file-scheme fast paths
    and `_local_path` returns plain paths without the JVM round-trip
    (profiled at ~70% of a 128-leaf arrow fast insert's wall). The
    fast paths must agree with the Hadoop FileSystem they shadow —
    including on the hostile names hive escaping produces — and a
    file in mkdirs' way must fall through so the error shape stays
    Hadoop's."""
    fs = lake.fs
    base = str(tmp_path / "fsagree")
    for rel in ["plain", "sp ace", "pct%25", "uni-é", "eq=v", ".hidden"]:
        d = f"{base}/{rel}"
        assert not fs.exists(d)
        fs.mkdirs(d)
        assert fs.exists(d)
        # the JVM-side view agrees the exact same path exists
        assert fs._fs.exists(fs._Path(d))
        fs.mkdirs(d)  # idempotent, like Hadoop's
    # _local_path: a plain path IS the OS path (no JVM traffic); the
    # file:-URI form keeps the Hadoop parse and lands on the same spot
    p = f"{base}/sp ace"
    assert fs._local_path(p) == p
    assert fs._local_path("file:" + p) == p
    # a FILE in the way: the os fast path steps aside and the Hadoop
    # error shape (an exception, not silent success) comes through
    f = f"{base}/plain/somefile"
    fs.write_text(f, "x")
    with pytest.raises(Exception):
        fs.mkdirs(f"{f}/child")
    assert not fs.exists(f"{f}/child")
