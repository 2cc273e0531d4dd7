"""Lakehouse protocol tests (SURVEY §2.1 S1-S4, §5 plan items 2-3).

Covers: create modes skip/replace, append insert, optimize PK-dedup
(keep latest), upsert idempotence, empty-table reads, partition pruning.
"""

from __future__ import annotations

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


@pytest.fixture(params=["plain", "file_uri"])
def lake(spark, tmp_path, request):
    """Both a plain local path and an explicit ``file:`` URI — the latter
    proves every catalog operation goes through the Hadoop FileSystem API
    (an ``os``/``shutil`` call would fail on the scheme-qualified root)."""
    root = str(tmp_path / "lake")
    if request.param == "file_uri":
        root = f"file://{root}"
    return Lakehouse(spark, root)


def _df(spark, rows):
    return spark.createDataFrame(
        [(t, __import__("datetime").date.fromisoformat(d), int(d[:4]), c) for t, d, c in rows],
        SCHEMA,
    )


def test_create_skip_and_replace(lake, spark):
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"], mode="skip")
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 10.0)]))
    # skip: re-create is a no-op, data survives
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"], mode="skip")
    assert lake.table("prices").count() == 1
    # replace: table is truncated
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"], mode="replace")
    assert lake.table("prices").count() == 0


def test_empty_table_read(lake, spark):
    lake.create("t", SCHEMA, ["year"], ["date", "ticker"])
    df = lake.table("t")
    assert df.count() == 0
    assert df.columns == ["ticker", "date", "year", "close"]


def test_upsert_keeps_latest(lake, spark):
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 10.0), ("B", "2024-01-02", 20.0)]))
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 11.0)]))  # revision
    lake.optimize("prices")
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2024-01-02"): 11.0, ("B", "2024-01-02"): 20.0}


def test_upsert_idempotent(lake, spark):
    """Insert same batch twice + optimize ⇒ identical table (re-runs safe —
    the reference's idempotent daily-flow property)."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    batch = _df(spark, [("A", "2024-01-02", 10.0), ("A", "2024-01-03", 10.5)])
    lake.upsert("prices", batch)
    lake.upsert("prices", batch)
    out = lake.table("prices")
    assert out.count() == 2
    assert out.select("ticker", "date").distinct().count() == 2


def test_optimize_only_rewrites_dirty_partitions(lake, spark):
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2023-06-01", 1.0), ("A", "2024-01-02", 2.0)]))
    # second upsert touches only 2024 — 2023 partition must not be rewritten
    import glob

    local = lake._dir("prices").removeprefix("file://")
    before = set(glob.glob(f"{local}/data/_seq=*/year=2023/*.parquet"))
    assert before, "expected 2023 partition files"
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 3.0)]))
    after = set(glob.glob(f"{local}/data/_seq=*/year=2023/*.parquet"))
    assert before == after, "clean partition was rewritten"
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows[("A", "2024-01-02")] == 3.0
    assert rows[("A", "2023-06-01")] == 1.0


def test_partition_pruning_in_plan(lake, spark):
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2023-06-01", 1.0), ("A", "2024-01-02", 2.0)]))
    plan = (
        lake.table("prices")
        .filter(F.col("year") == 2024)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "year" in plan
    # pruned scan reads one partition: verify row count via the fast path
    assert lake.table("prices").filter(F.col("year") == 2024).count() == 1


def test_unpartitioned_pk_table(lake, spark):
    schema = T.StructType(
        [T.StructField("date", T.DateType()), T.StructField("ret", T.DoubleType())]
    )
    import datetime

    lake.create("benchmark_returns", schema, [], ["date"])
    df1 = spark.createDataFrame([(datetime.date(2024, 1, 2), 0.01)], schema)
    df2 = spark.createDataFrame([(datetime.date(2024, 1, 2), 0.02)], schema)
    lake.upsert("benchmark_returns", df1)
    lake.upsert("benchmark_returns", df2)
    out = lake.table("benchmark_returns").collect()
    assert len(out) == 1 and out[0].ret == 0.02


def test_delete_where_partition_pruned(lake, spark):
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert(
        "prices",
        _df(spark, [("A", "2023-06-01", 1.0), ("B", "2023-06-01", 2.0), ("A", "2024-01-02", 3.0)]),
    )
    import glob

    local = lake._dir("prices").removeprefix("file://")
    before_2024 = set(glob.glob(f"{local}/data/_seq=*/year=2024/*.parquet"))
    lake.delete_where("prices", F.col("ticker") == "B")
    after_2024 = set(glob.glob(f"{local}/data/_seq=*/year=2024/*.parquet"))
    assert before_2024 == after_2024, "unaffected partition was rewritten"
    rows = {(r.ticker, str(r.date)) for r in lake.table("prices").collect()}
    assert rows == {("A", "2023-06-01"), ("A", "2024-01-02")}
    # delete the rest of a partition → its directories are reclaimed
    lake.delete_where("prices", F.col("year") == 2023)
    assert not glob.glob(f"{local}/data/_seq=*/year=2023/*")
    assert {r.ticker for r in lake.table("prices").collect()} == {"A"}


def test_delete_where_null_predicate_keeps_rows(lake, spark):
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("x", T.DoubleType())]
    )
    lake.create("t2", schema, [], ["k"])
    lake.upsert("t2", spark.createDataFrame([(1, None), (2, 5.0)], schema))
    lake.delete_where("t2", F.col("x") > 4)  # NULL for k=1 → must be kept
    assert {r.k for r in lake.table("t2").collect()} == {1}


def test_schema_projection_on_insert(lake, spark):
    """Inserts project onto the declared schema (reference ingestion
    pattern: infer then project, pipelines/stock_prices_flow.py:57)."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    import datetime

    # StructType.add mutates in place — build the widened schema on a copy
    widened = T.StructType(SCHEMA.fields + [T.StructField("noise", T.StringType())])
    extra = spark.createDataFrame(
        [("A", datetime.date(2024, 1, 2), 2024, 1.0, "junk")],
        widened,
    ).select("noise", "close", "year", "date", "ticker")  # shuffled cols + extra
    lake.insert("prices", extra)
    row = lake.table("prices").collect()[0]
    assert row.ticker == "A" and row.close == 1.0
    assert "noise" not in lake.table("prices").columns


def test_connect_s3_maps_storage_options(spark):
    """connect_s3 must translate fsspec-style options to fs.s3a.* Hadoop
    conf (no real S3 needed — the conf IS the observable contract) and
    normalize the scheme; a non-S3 root is rejected."""
    conf = spark._jsc.hadoopConfiguration()
    try:
        Lakehouse.connect_s3  # surface exists
        with pytest.raises(ValueError, match="s3"):
            Lakehouse.connect_s3(spark, "/local/path", {})
        try:
            Lakehouse.connect_s3(
                spark,
                "s3://bucket/lake",
                {
                    "aws_access_key_id": "AKID",
                    "secret": "SEKRET",
                    "endpoint_url": "http://minio:9000",
                    "anon": False,
                    "path.style.access": "true",  # passthrough knob
                },
            )
        except Exception:
            # instantiating the s3a FileSystem fails without the AWS jars;
            # the conf mapping below is what the API contracts
            pass
        # options land under the per-bucket namespace so two lakehouses
        # with different credentials can coexist in one session
        pre = "fs.s3a.bucket.bucket."
        assert conf.get(pre + "access.key") == "AKID"
        assert conf.get(pre + "secret.key") == "SEKRET"
        assert conf.get(pre + "endpoint") == "http://minio:9000"
        assert conf.get(pre + "connection.anonymous") == "false"
        assert conf.get(pre + "path.style.access") == "true"
        # and never clobber the session-global keys
        assert conf.get("fs.s3a.access.key") is None
        assert conf.get("fs.s3a.secret.key") is None
        try:
            Lakehouse.connect_s3(spark, "s3://other/lake", {"key": "AKID2"})
        except Exception:
            pass
        assert conf.get("fs.s3a.bucket.other.access.key") == "AKID2"
        assert conf.get(pre + "access.key") == "AKID"  # first bucket intact
    finally:
        pre = "fs.s3a.bucket.bucket."
        for k in [pre + "access.key", pre + "secret.key", pre + "endpoint",
                  pre + "connection.anonymous", pre + "path.style.access",
                  "fs.s3a.bucket.other.access.key"]:
            conf.unset(k)


def test_optimize_writes_pk_sorted_files(lake, spark):
    """Compaction lays each partition out PK-sorted in one file, so
    parquet row-group min/max stats support data skipping on key
    predicates."""
    import glob
    import random

    rng = random.Random(5)
    days = [f"2024-01-{d:02d}" for d in range(1, 29)]
    rng.shuffle(days)
    rows = [("T", d, float(i)) for i, d in enumerate(days)]
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, rows))
    local = lake._dir("prices").removeprefix("file://")
    files = glob.glob(f"{local}/data/_seq=*/year=2024/*.parquet")
    assert len(files) == 1, "partition rewrite should produce one clustered file"
    import duckdb

    con = duckdb.connect()
    dates = [r[0] for r in con.sql(f"SELECT date FROM '{files[0]}'").fetchall()]
    assert dates == sorted(dates), "file not PK-sorted"


def test_vacuum_removes_orphan_staging_dirs(lake, spark):
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))
    # simulate a crashed compaction: orphan staging dir with junk
    lake.fs.mkdirs(f"{lake._dir('prices')}/.compact_tmp/year=2024")
    removed = lake.vacuum(grace_s=0)
    assert any(".compact_tmp" in p for p in removed)
    assert not lake.fs.exists(f"{lake._dir('prices')}/.compact_tmp")
    # table untouched
    assert lake.table("prices").count() == 1
    assert lake.vacuum(grace_s=0) == []  # idempotent


def test_crashed_optimize_is_invisible_then_recovers(lake, spark):
    """Kill optimize between its data write and its manifest commit: a
    reader must see EXACTLY the pre-optimize state (never a mixture of
    old and new partition generations), a retry completes cleanly with no
    duplicate rows, and vacuum reclaims the orphaned attempt."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert(
        "prices", _df(spark, [("A", "2023-06-01", 1.0), ("A", "2024-01-02", 2.0)])
    )
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 3.0)]))  # revision
    before = sorted(
        (r.ticker, str(r.date), r.close) for r in lake.table("prices").collect()
    )
    assert len(before) == 3  # both versions visible pre-optimize

    real_save = lake._save_meta

    def boom(meta):
        raise RuntimeError("crash before commit")

    lake._save_meta = boom
    with pytest.raises(RuntimeError, match="crash before commit"):
        lake.optimize("prices")
    lake._save_meta = real_save

    # the half-written generation exists on disk but no reader sees it
    after_crash = sorted(
        (r.ticker, str(r.date), r.close) for r in lake.table("prices").collect()
    )
    assert after_crash == before

    lake.optimize("prices")  # retry completes the upsert
    rows = {(r.ticker, str(r.date)): r.close for r in lake.table("prices").collect()}
    assert rows == {("A", "2023-06-01"): 1.0, ("A", "2024-01-02"): 3.0}

    removed = lake.vacuum("prices", grace_s=0)
    assert lake.table("prices").count() == 2  # vacuum never touches live data
    assert removed == [] or all("_seq=" in p for p in removed)


def test_crashed_insert_retry_does_not_duplicate(lake, spark):
    """An insert that wrote its delta directory but died before its
    manifest commit must be invisible; retrying the same batch must not
    leak rows from the dead attempt."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    batch = _df(spark, [("A", "2024-01-02", 1.0), ("B", "2024-01-02", 2.0)])
    real_save = lake._save_meta
    lake._save_meta = lambda meta: (_ for _ in ()).throw(RuntimeError("die"))
    with pytest.raises(RuntimeError):
        lake.insert("prices", batch)
    lake._save_meta = real_save
    assert lake.table("prices").count() == 0  # dead attempt invisible
    lake.insert("prices", batch)  # retry (same seq — dir cleared first)
    assert lake.table("prices").count() == 2
    lake.optimize("prices")
    assert lake.table("prices").count() == 2


def test_unreferenced_generation_invisible_and_vacuumed(lake, spark):
    """A generation directory the manifest doesn't name (e.g. a partial
    copy from a dead writer) is unreachable by readers and reclaimed by
    vacuum — the object-store equivalent of 'readers never observe a
    half-swapped partition'."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.upsert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))
    # plant a foreign generation full of rows (as a non-atomic copy would)
    junk = _df(spark, [("Z", "2024-01-03", 9.0), ("Z", "2023-01-03", 9.0)])
    junk.withColumn("_seq", F.lit(99)).write.partitionBy("_seq", "year").mode(
        "append"
    ).parquet(f"{lake._dir('prices')}/data")
    assert {r.ticker for r in lake.table("prices").collect()} == {"A"}
    removed = lake.vacuum("prices", grace_s=0)
    assert any("_seq=99" in p for p in removed)
    assert {r.ticker for r in lake.table("prices").collect()} == {"A"}


def test_compact_merges_deltas_preserving_all_rows(lake, spark):
    """compact() on a PK-LESS table merges every pending delta into the
    base of the touched partitions WITHOUT deduplicating — append-only
    semantics mean duplicate rows are data, not revisions."""
    import glob

    lake.create("events", SCHEMA, ["year"], [])  # no primary keys
    # three small appends, one of them an exact duplicate row
    lake.insert("events", _df(spark, [("A", "2024-01-02", 1.0), ("B", "2024-01-02", 2.0)]))
    lake.insert("events", _df(spark, [("A", "2024-01-02", 1.0)]))  # dup row, kept
    lake.insert("events", _df(spark, [("C", "2024-02-01", 3.0)]))
    meta = lake._load_meta("events")
    assert meta.live_deltas, "precondition: pending deltas"
    before_rows = sorted(
        (r.ticker, str(r.date), r.close) for r in lake.table("events").collect()
    )
    assert len(before_rows) == 4  # duplicate visible pre-compact
    lake.compact("events")
    meta = lake._load_meta("events")
    assert meta.live_deltas == [] and meta.dirty_partitions == []
    after_rows = sorted(
        (r.ticker, str(r.date), r.close) for r in lake.table("events").collect()
    )
    assert after_rows == before_rows, "compact must preserve every row"
    # all rows of each partition now live in the single rewritten generation
    local = lake._dir("events").removeprefix("file://")
    seqs = {p.split("_seq=")[1].split("/")[0] for p in glob.glob(f"{local}/data/_seq=*/year=*/*.parquet")}
    assert len(seqs) == 1, f"deltas not absorbed into one generation: {seqs}"
    hist = lake.history("events")
    assert hist[-1]["action"] == "compact"


def test_compact_only_rewrites_dirty_partitions(lake, spark):
    import glob

    lake.create("events", SCHEMA, ["year"], [])
    lake.insert("events", _df(spark, [("A", "2023-06-01", 1.0), ("A", "2024-01-02", 2.0)]))
    lake.compact("events")
    local = lake._dir("events").removeprefix("file://")
    before = set(glob.glob(f"{local}/data/_seq=*/year=2023/*.parquet"))
    assert before, "expected 2023 partition files"
    lake.insert("events", _df(spark, [("B", "2024-01-03", 3.0)]))  # touches 2024 only
    lake.compact("events")
    after = set(glob.glob(f"{local}/data/_seq=*/year=2023/*.parquet"))
    assert before == after, "clean partition was rewritten"
    assert lake.table("events").count() == 3


def test_compact_unpartitioned_coalesces_small_files(lake, spark):
    import glob

    lake.create("events", SCHEMA, [], [])
    for i in range(6):
        lake.insert("events", _df(spark, [("T", f"2024-01-{2 + i:02d}", float(i))]))
    local = lake._dir("events").removeprefix("file://")
    n_before = len(glob.glob(f"{local}/data/_seq=*/*.parquet"))
    assert n_before >= 6, "precondition: one file per tiny append"
    lake.compact("events")
    n_after = len(glob.glob(f"{local}/data/_seq=*/*.parquet"))
    assert n_after < n_before, f"no file-count reduction: {n_before} -> {n_after}"
    assert lake.table("events").count() == 6
    # idempotent: nothing dirty, second call is a no-op commit-wise
    v = lake._load_meta("events").version
    lake.compact("events")
    assert lake._load_meta("events").version == v


def test_compact_delegates_to_optimize_for_pk_tables(lake, spark):
    """On a PK table keep-latest IS the correct merge: compact() must
    behave exactly like optimize() so schedulers can use one entry point."""
    lake.create("prices", SCHEMA, ["year"], ["date", "ticker"])
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 1.0)]))
    lake.insert("prices", _df(spark, [("A", "2024-01-02", 2.0)]))  # revision
    lake.compact("prices")
    out = lake.table("prices").collect()
    assert len(out) == 1 and out[0].close == 2.0
    assert lake.history("prices")[-1]["action"] == "optimize"


def test_rel_filter_survives_thousands_of_dirty_partitions(spark, tmp_path):
    """Regression (r10): the dirty-partition pruning predicate used to be
    a left-deep OR chain, which overflowed the JVM thread stack in the
    column-node conversion around ~500 rels — a single day's ingest
    footprint at scale. Single-key rel sets must collapse to one
    In/InSet; multi-key sets must fold as a balanced tree. Both shapes
    are driven through a real filter+count so the expression is actually
    converted and evaluated, not just constructed."""
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    two_key = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create("t2", two_key, ["a", "b"], [])
    df2 = spark.createDataFrame([(1, 1, 0.5), (2, 9999, 0.7)], two_key)
    lake.insert("t2", df2)
    meta2 = lake._load_meta("t2")
    rels2 = [f"a={i}/b={i}" for i in range(10, 4010)] + ["a=2/b=9999"]
    out2 = lake._read_raw("t2", meta2).filter(lake._rel_filter(meta2, rels2))
    assert [(r.a, r.b) for r in out2.collect()] == [(2, 9999)]
    # single-key shape: one isin, null sentinel still matched
    one_key = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t1", one_key, ["a"], [])
    df1 = spark.createDataFrame([("x7", 0.1), (None, 0.2), ("zz", 0.3)], one_key)
    lake.insert("t1", df1)
    meta1 = lake._load_meta("t1")
    rels1 = [f"a=k{i}" for i in range(4000)] + ["a=x7", "a=__HIVE_DEFAULT_PARTITION__"]
    cond1 = lake._rel_filter(meta1, rels1)
    got = sorted((r.a or "", r.v) for r in lake._read_raw("t1", meta1).filter(cond1).collect())
    assert got == [("", 0.2), ("x7", 0.1)]


def test_upsert_with_quote_and_backtick_partition_key(spark, tmp_path):
    """Partition-key NAMES reach the multi-key dirty-partition predicate
    as SQL text: a key holding a backtick and a single quote must be
    quoted as an identifier and as a struct field name, not spliced in
    raw. Several dirty partitions force the struct-IN shape, and each
    upsert is the distributed insert + optimize, off the driver-side fast
    path (which never builds the predicate). Every other write path that
    builds a column from the key (zone maps, Z-order, the rewrite
    ``update_where``) must quote it too."""
    key = "re`gi'on"
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("year", T.IntegerType()),
            T.StructField(key, T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", schema, ["year", key], ["id", "year", key])
    first = [(i, 2020 + i % 3, f"r{i % 2}", float(i)) for i in range(12)]
    lake.insert("t", spark.createDataFrame(first, schema), allow_fast=False)
    lake.optimize("t")
    second = [(i, 2020 + i % 3, f"r{i % 2}", 100.0 + i) for i in range(0, 12, 2)]
    second += [(20, 2021, "r0", 7.0)]
    lake.insert("t", spark.createDataFrame(second, schema), allow_fast=False)
    lake.optimize("t")

    want = {(i, y, r): v for i, y, r, v in first}
    want.update({(i, y, r): v for i, y, r, v in second})
    got = {(r["id"], r["year"], r[key]): r["v"] for r in lake.table("t").collect()}
    assert got == want

    # a partition-scoped rewrite names its scope with the same escaped
    # key as the directories Spark wrote, so its output is inside it
    lake.delete_where("t", F.col("id") == 4)
    del want[(4, 2021, "r0")]
    got = {(r["id"], r["year"], r[key]): r["v"] for r in lake.table("t").collect()}
    assert got == want

    # a Z-ordered optimize range-partitions and sorts by the key
    lake.optimize("t", zorder_by=["v"], zorder_files=2, full=True)
    got = {(r["id"], r["year"], r[key]): r["v"] for r in lake.table("t").collect()}
    assert got == want

    # zone maps are collected per partition of a distributed write, and a
    # rewrite update_where scans its scope by the key (PK-less: the
    # rewrite path); moving a row's key reads the target partition too
    lake.create("z", schema, ["year", key], [], stats_columns=["v"])
    lake.insert("z", spark.createDataFrame(first, schema), allow_fast=False)
    assert sorted(r["id"] for r in lake.scan("z", where={"v": (3.0, 5.0)}).collect()) == [3, 4, 5]
    lake.update_where("z", F.col("id") == 3, {key: F.lit("r9")}, mode="rewrite")
    moved = {(r["id"], r["year"], r[key]) for r in lake.table("z").collect()}
    assert moved == {(i, y, "r9" if i == 3 else r) for i, y, r, _ in first}



def test_backtick_value_column_reads_and_maintenance(spark, tmp_path, monkeypatch):
    """A VALUE column name holding a backtick reaches five builders that
    make a Column from it: the zone-map aggregate of a distributed write,
    ``scan(where=)``, ``optimize(zorder_by=)``'s ordinal, ``analyze()``
    and ``table_changes``' value columns. Each must quote the name, not
    parse it as SQL. Small batches take the driver-side fast path, which
    builds no zone-map aggregate, so the writes are forced distributed."""
    monkeypatch.setattr(Lakehouse, "_FAST_UPSERT_MAX_ROWS", 0)
    col = "v`al"
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("part", T.IntegerType()),
            T.StructField(col, T.DoubleType()),
        ]
    )
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    lake.create("t", schema, ["part"], ["id"], stats_columns=[col], retain_versions=10)
    rows = [(i, i % 2, float(i)) for i in range(10)]
    lake.upsert("t", spark.createDataFrame(rows, schema))
    assert sorted(r["id"] for r in lake.scan("t", where={col: (3.0, 5.0)}).collect()) == [3, 4, 5]
    v0 = lake._load_meta("t").version
    lake.upsert("t", spark.createDataFrame([(4, 0, 40.0)], schema))
    lake.optimize("t", zorder_by=[col], zorder_files=2, full=True)
    want = {i: float(i) for i in range(10)} | {4: 40.0}
    assert {r["id"]: r[col] for r in lake.table("t").collect()} == want
    stats = lake.analyze("t")
    assert stats["rows"] == 10 and stats["columns"][col]["nulls"] == 0
    changes = sorted(
        (r["id"], r[col], r["_change_type"]) for r in lake.table_changes("t", v0).collect()
    )
    assert changes == [(4, 4.0, "update_preimage"), (4, 40.0, "update_postimage")]

def test_compact_zorder_layout_on_pkless_table(lake, spark):
    """compact(zorder_by=...) lays a PK-less table out Morton-ordered
    with per-file zone maps, preserving every row — the re-clustering
    maintenance pass for append-only event tables."""
    import glob

    lake.create("events", SCHEMA, ["year"], [], stats_columns=["close"])
    rows = [("T", f"2024-01-{1 + i % 27:02d}", float(i % 13)) for i in range(40)]
    lake.insert("events", _df(spark, rows[:20]))
    lake.insert("events", _df(spark, rows[20:]))  # duplicates close values
    before = sorted((r.ticker, str(r.date), r.close) for r in lake.table("events").collect())
    lake.compact("events", zorder_by=["close"], zorder_files=2)
    after = sorted((r.ticker, str(r.date), r.close) for r in lake.table("events").collect())
    assert after == before, "zorder compact must preserve every row"
    meta = lake._load_meta("events")
    assert meta.live_deltas == []
    assert lake.history("events")[-1]["action"] == "compact(zorder=['close'])"
    # per-file zone maps recorded for the rewritten generation
    per_file = [k for k in meta.zone_maps if k.endswith(".parquet")]
    assert per_file, "zorder rewrite should record per-file zone maps"
    local = lake._dir("events").removeprefix("file://")
    files = glob.glob(f"{local}/data/_seq=*/year=2024/*.parquet")
    assert len(files) >= 2, "zorder_files should split the partition"
