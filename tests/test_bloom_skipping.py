"""Bloom data skipping (r10): tables created with ``bloom_columns``
record a small per-leaf membership filter alongside the zone maps
(reserved "<col>#bloom" key, [m, k, {word: bits}]), and
``scan(where={col: value})`` — the new scalar-equality predicate —
drops every leaf whose filter disproves the value. This is the Parquet
bloom-filter / Delta file-skipping move for point lookups on
high-cardinality ids, where min/max boxes span everything.

Soundness contract under test: scan(eq) ≡ table().filter(col == v)
EXACTLY (false positives only cost extra reads), leaves without an
entry never exclude, and the Spark-job write path and the driver-side
arrow fast path produce probe-identical filters.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from at_data_pipelines_spark.catalog import Lakehouse
from tests.conftest import zone_stats

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _docs(spark, lo, hi, bucket):
    return spark.createDataFrame(
        [(f"doc-{i:05d}", bucket, float(i)) for i in range(lo, hi)], SCHEMA
    )


@pytest.fixture
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "lake"))


def test_equality_scan_matches_filter_and_prunes(lake, spark):
    """Ten single-bucket generations; a point lookup must read only the
    leaves the filter cannot rule out (≈1 of 10) and return exactly the
    filter() rows."""
    lake.create("d", SCHEMA, ["bucket"], [], bloom_columns=["doc_id"])
    for b in range(10):
        lake.insert("d", _docs(spark, b * 100, b * 100 + 100, b), mode="append")
    all_files = len(lake.table("d").inputFiles())
    probe = "doc-00342"  # lives only in bucket 3's generation
    got = lake.scan("d", where={"doc_id": probe})
    assert [(r.doc_id, r.bucket) for r in got.collect()] == [(probe, 3)]
    assert len(got.inputFiles()) < all_files / 2, (
        f"bloom pruning read {len(got.inputFiles())}/{all_files} files"
    )
    # absent value: provably nowhere -> zero rows, (almost) zero files
    miss = lake.scan("d", where={"doc_id": "doc-99999"})
    assert miss.count() == 0
    assert len(miss.inputFiles()) < all_files / 2


def test_equality_scan_exact_under_false_positives(lake, spark):
    """A deliberately tiny filter (m=64) false-positives constantly; the
    scan must still return exactly the matching rows — pruning is an
    optimization, the == filter is the semantics."""
    lake.create(
        "d", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_m_bits=64,
        bloom_k=2, bloom_fpp=None,  # pin m: auto-sizing would rescue it
    )
    for b in range(5):
        lake.insert("d", _docs(spark, b * 20, b * 20 + 20, b), mode="append")
    for probe in ("doc-00007", "doc-00063", "doc-99999"):
        got = sorted(r.doc_id for r in lake.scan("d", where={"doc_id": probe}).collect())
        exp = sorted(
            r.doc_id
            for r in lake.table("d").filter(F.col("doc_id") == probe).collect()
        )
        assert got == exp, probe


def test_integer_and_multi_predicate(lake, spark):
    """Equality on an integer bloom column composes with a range
    predicate on a stats column in one where-dict."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    lake.create(
        "t", schema, [], [], stats_columns=["v"], bloom_columns=["k"]
    )
    for b in range(6):
        lake.insert(
            "t",
            spark.createDataFrame(
                [(b * 1000 + i, float(b * 1000 + i)) for i in range(50)], schema
            ),
            mode="append",
        )
    got = lake.scan("t", where={"k": 3025, "v": (3000.0, 3100.0)})
    assert [(r.k, r.v) for r in got.collect()] == [(3025, 3025.0)]
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())
    # equality value outside the range: empty, still exact
    assert lake.scan("t", where={"k": 3025, "v": (0.0, 1.0)}).count() == 0


def test_leaves_without_entries_never_excluded(lake, spark):
    """Generations written BEFORE bloom columns existed (simulated by
    stripping their entries) and all-NULL leaves must never be pruned —
    absence of evidence is not evidence of absence."""
    lake.create("d", SCHEMA, [], [], bloom_columns=["doc_id"])
    lake.insert("d", _docs(spark, 0, 50, 0), mode="append")
    # strip the first generation's bloom entries as if written pre-bloom
    meta = lake._load_meta("d")
    meta.zone_maps = {
        k: {c: v for c, v in stats.items() if not c.endswith("#bloom")}
        for k, stats in meta.zone_maps.items()
    }
    lake._commit_meta(meta, None, action="strip-blooms-for-test")
    lake.insert("d", _docs(spark, 50, 100, 1), mode="append")
    # all-NULL leaf: contributes no filter, must never exclude
    lake.insert(
        "d",
        spark.createDataFrame([(None, 9, 1.0), (None, 9, 2.0)], SCHEMA),
        mode="append",
    )
    got = lake.scan("d", where={"doc_id": "doc-00007"})  # in the stripped gen
    assert [r.doc_id for r in got.collect()] == ["doc-00007"]


def test_fast_path_blooms_probe_identical(lake, spark):
    """The driver-side arrow fast path must write the SAME filter bits
    the Spark-job path writes for the same rows — the scan cannot tell
    which writer produced a leaf."""
    lake.create("a", SCHEMA, [], [], bloom_columns=["doc_id", "bucket"])
    lake.create("b", SCHEMA, [], [], bloom_columns=["doc_id", "bucket"])
    rows = _docs(spark, 0, 30, 2)
    # handle a: force the Spark-job write path by disabling the fast path
    orig = lake._fast_insert
    lake._fast_insert = lambda *a, **k: False
    lake.insert("a", rows, mode="append")
    lake._fast_insert = orig
    lake.insert("b", rows, mode="append")  # small batch: arrow fast path
    # r16: zone_maps also carries per-file inventory keys (empty
    # stats) — compare the STATS entries via zone_stats
    za = list(zone_stats(lake, "a").values())
    zb = list(zone_stats(lake, "b").values())
    assert len(za) == len(zb) == 1
    for c in ("doc_id#bloom", "bucket#bloom"):
        assert za[0][c][0] == zb[0][c][0] and za[0][c][1] == zb[0][c][1]
        assert {k: int(v) for k, v in za[0][c][2].items()} == {
            k: int(v) for k, v in zb[0][c][2].items()
        }, c


def test_non_ascii_and_date_values(lake, spark):
    """UTF-8 strings (exact-bytes equality — no ordering subtleties) and
    DateType columns both probe correctly."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("day", T.DateType()),
        ]
    )
    lake.create("t", schema, [], [], bloom_columns=["token", "day"])
    rows = [
        ("héllo", dt.date(2024, 1, 2)),
        ("世界", dt.date(2024, 1, 3)),
        ("plain", dt.date(2024, 1, 4)),
    ]
    for r in rows:
        lake.insert("t", spark.createDataFrame([r], schema), mode="append")
    got = lake.scan("t", where={"token": "世界"})
    assert [r.day for r in got.collect()] == [dt.date(2024, 1, 3)]
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())
    got = lake.scan("t", where={"day": dt.date(2024, 1, 4)})
    assert [r.token for r in got.collect()] == ["plain"]
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())


def test_blooms_survive_optimize_and_restore(lake, spark):
    """Compaction rewrites leaves -> fresh filters for the new
    generation; restore brings back the restored version's entries."""
    lake.create(
        "d",
        SCHEMA,
        [],
        ["doc_id"],
        bloom_columns=["doc_id"],
        retain_versions=20,
    )
    for b in range(4):
        lake.insert("d", _docs(spark, b * 25, b * 25 + 25, b), mode="append")
    v_before = lake._load_meta("d").version
    lake.optimize("d")
    meta = lake._load_meta("d")
    assert any("doc_id#bloom" in s for s in meta.zone_maps.values()), (
        "compacted generation lost its bloom entries"
    )
    got = lake.scan("d", where={"doc_id": "doc-00042"})
    assert [r.doc_id for r in got.collect()] == ["doc-00042"]
    lake.restore("d", v_before)
    got = lake.scan("d", where={"doc_id": "doc-00042"})
    assert [r.doc_id for r in got.collect()] == ["doc-00042"]


def test_create_validation(lake, spark):
    """Type/key guards: float bloom columns, partition-key bloom
    columns, unknown columns, bad m."""
    with pytest.raises(ValueError, match="string/integer/date"):
        lake.create("t", SCHEMA, [], [], bloom_columns=["score"])
    with pytest.raises(ValueError, match="partition key"):
        lake.create("t", SCHEMA, ["bucket"], [], bloom_columns=["bucket"])
    with pytest.raises(ValueError, match="not in schema"):
        lake.create("t", SCHEMA, [], [], bloom_columns=["nope"])
    with pytest.raises(ValueError, match="multiple of 64"):
        lake.create("t", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_m_bits=100)
    with pytest.raises(ValueError, match="None"):
        lake.create("ok", SCHEMA, [], [], bloom_columns=["doc_id"])
        lake.scan("ok", where={"doc_id": None})


def test_scalar_string_no_longer_misparsed_as_range(lake, spark):
    """Pre-r10, a 2-character string scalar slipped through the range
    validation as tuple('a','b') — a silent wrong-shape predicate. It
    must now mean equality."""
    lake.create("d", SCHEMA, [], [], stats_columns=["doc_id"])
    lake.insert("d", spark.createDataFrame([("ab", 1, 1.0), ("aa", 1, 2.0)], SCHEMA))
    got = sorted(r.doc_id for r in lake.scan("d", where={"doc_id": "ab"}).collect())
    assert got == ["ab"], "2-char scalar treated as a range again"


def test_per_file_blooms_from_zordered_optimize(lake, spark):
    """A Z-ordered compaction records zone entries (and blooms) PER
    FILE; the equality scan must prune at file granularity through the
    same stats dicts."""
    lake.create(
        "d",
        SCHEMA,
        [],
        ["doc_id"],
        stats_columns=["score"],
        bloom_columns=["doc_id"],
    )
    for b in range(4):
        lake.insert("d", _docs(spark, b * 50, b * 50 + 50, b), mode="append")
    lake.optimize("d", zorder_by=["score"], zorder_files=4)
    meta = lake._load_meta("d")
    file_blooms = [
        k for k, s in meta.zone_maps.items()
        if k.endswith(".parquet") and "doc_id#bloom" in s
    ]
    assert len(file_blooms) >= 2, "no per-file bloom entries after zorder"
    got = lake.scan("d", where={"doc_id": "doc-00123"})
    assert [r.doc_id for r in got.collect()] == ["doc-00123"]
    assert len(got.inputFiles()) < len(lake.table("d").inputFiles())


def test_all_null_file_survives_per_file_scan_without_stats(lake, spark):
    """Review r10 #1: on a bloom-only table (no stats_columns) a
    Z-ordered optimize records per-file keys ONLY via the bloom cells
    job, which skips files with no non-null bloom values — and scan()
    treats the per-file list as the complete enumeration. An all-NULL
    file must still be enumerated (empty stats entry) or its rows
    silently vanish from every scan."""
    lake.create("d", SCHEMA, [], ["score"], bloom_columns=["doc_id"])
    rows = [(f"doc-{i:03d}", 0, float(i)) for i in range(40)]
    rows += [(None, 0, float(1000 + i)) for i in range(40)]  # NULL cluster
    lake.insert("d", spark.createDataFrame(rows, SCHEMA), mode="append")
    # zorder on score clusters the NULL doc_ids (score 1000+) into their
    # own output file(s)
    lake.optimize("d", zorder_by=["score"], zorder_files=4)
    meta = lake._load_meta("d")
    assert any(k.endswith(".parquet") for k in meta.zone_maps), "no per-file keys"
    got = lake.scan("d")  # NO predicate: must see every row
    assert got.count() == lake.table("d").count() == 80, (
        "all-NULL file dropped from the per-file enumeration"
    )


def test_cross_type_probe_does_not_prune(lake, spark):
    """Review r10 #2: Spark's equality implicit-casts ('05' = 5 is
    true), but md5('5') != md5('05') — a cross-type probe must skip
    bloom pruning entirely, never prune leaves the filter would match
    after the cast."""
    lake.create("d", SCHEMA, [], [], bloom_columns=["doc_id"])
    # numeric-looking strings only: under ANSI, col == 5 casts the string
    # side, and a non-numeric string would make the FILTER itself throw
    lake.insert(
        "d", spark.createDataFrame([("05", 1, 1.0), ("700", 1, 2.0)], SCHEMA),
        mode="append",
    )
    got = lake.scan("d", where={"doc_id": 5})  # int probe, string column
    exp = lake.table("d").filter(F.col("doc_id") == 5).collect()
    assert [r.doc_id for r in got.collect()] == [r.doc_id for r in exp] == ["05"], (
        "cross-type probe pruned a leaf Spark's cast-equality matches"
    )
    # int column probed with a string: same rule, other direction
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t", schema, [], [], bloom_columns=["k"])
    lake.insert(
        "t", spark.createDataFrame([(5, 1.0), (7, 2.0)], schema), mode="append"
    )
    got = lake.scan("t", where={"k": "05"})
    exp = lake.table("t").filter(F.col("k") == "05").collect()
    assert [r.k for r in got.collect()] == [r.k for r in exp] == [5]


def test_inlist_scan_prunes_and_matches_isin(lake, spark):
    """A SET predicate is an IN-list: prunes to the union of the listed
    values' leaves (a leaf survives if ANY value might be in it) and
    filters with isin — exactly table().filter(col.isin(...))."""
    lake.create("d", SCHEMA, ["bucket"], [], bloom_columns=["doc_id"])
    for b in range(10):
        lake.insert("d", _docs(spark, b * 100, b * 100 + 100, b), mode="append")
    probes = {"doc-00042", "doc-00742"}  # buckets 0 and 7
    got = lake.scan("d", where={"doc_id": probes})
    assert sorted((r.doc_id, r.bucket) for r in got.collect()) == [
        ("doc-00042", 0),
        ("doc-00742", 7),
    ]
    all_files = len(lake.table("d").inputFiles())
    assert len(got.inputFiles()) < all_files / 2, (
        f"IN-list pruning read {len(got.inputFiles())}/{all_files} files"
    )
    # one absent + one present: the present one's leaf must survive
    got = lake.scan("d", where={"doc_id": {"doc-00042", "doc-99999"}})
    assert [r.doc_id for r in got.collect()] == ["doc-00042"]
    # a cross-type value in the list disables bloom pruning (sound);
    # the isin filter itself keeps Spark's ANSI semantics, which THROW
    # on a malformed cast — exactly what table().filter(isin) does
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|cannot be cast"):
        lake.scan("d", where={"doc_id": {"doc-00042", 42}}).collect()
    with pytest.raises(ValueError, match="empty"):
        lake.scan("d", where={"doc_id": set()})
    with pytest.raises(ValueError, match="None"):
        lake.scan("d", where={"doc_id": {"doc-00042", None}})


def test_inlist_range_prunes_on_stats_only_table(lake, spark):
    """IN-lists also contribute a min/max span to zone-map pruning on
    tables with stats but no blooms."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    lake.create("t", schema, [], [], stats_columns=["k"])
    for b in range(6):
        lake.insert(
            "t",
            spark.createDataFrame(
                [(b * 1000 + i, float(i)) for i in range(50)], schema
            ),
            mode="append",
        )
    got = lake.scan("t", where={"k": {2010, 2040}})
    assert sorted(r.k for r in got.collect()) == [2010, 2040]
    assert len(got.inputFiles()) < len(lake.table("t").inputFiles())


def test_partition_equality_prunes_at_the_driver(lake, spark):
    """Equality/IN on a partition key must drop the excluded partitions
    from the DRIVER-side path enumeration, not merely let Catalyst prune
    their files: observable by deleting another partition's directory —
    a scan that still enumerated it would fail on the missing path."""
    # PKs + optimize move the partitions into the manifest's committed
    # map — the enumeration that never LISTs (live-delta globs skip a
    # missing dir naturally, committed paths do not)
    lake.create("d", SCHEMA, ["bucket"], ["doc_id"])
    for b in range(4):
        lake.insert("d", _docs(spark, b * 10, b * 10 + 10, b), mode="append")
    lake.optimize("d")
    # destroy partition 2's data out-of-band: any enumeration of its
    # path now raises, so a passing scan PROVES the driver pruned it
    meta = lake._load_meta("d")
    victim = [r for r in meta.committed if r.startswith("bucket=2")]
    assert victim, meta.committed
    for rel in victim:
        lake.fs.delete(f"{lake._dir('d')}/data/_seq={meta.committed[rel]}/{rel}")
    got = lake.scan("d", where={"bucket": 1})
    assert sorted(r.doc_id for r in got.collect()) == [
        f"doc-{i:05d}" for i in range(10, 20)
    ]
    got = lake.scan("d", where={"bucket": {0, 3}})
    assert got.count() == 20
    # cross-type probe must NOT prune (Spark's cast-equality semantics);
    # enumerating the destroyed partition then fails loudly = proof
    with pytest.raises(Exception):
        lake.scan("d", where={"bucket": "1"}).collect()


def test_fast_path_date_and_int_blooms_match_spark_path(lake, spark):
    """Cross-path parity for DATE and integer renderings specifically:
    the Spark job hashes CAST(col AS STRING); the arrow fast path hashes
    the Python rendering — for dates both must be ISO 'YYYY-MM-DD'."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("n", T.LongType()),
        ]
    )
    rows = [(dt.date(2024, 1, 2) + dt.timedelta(days=i), i - 5) for i in range(12)]
    lake.create("a", schema, [], [], bloom_columns=["day", "n"])
    lake.create("b", schema, [], [], bloom_columns=["day", "n"])
    df = spark.createDataFrame(rows, schema)
    orig = lake._fast_insert
    lake._fast_insert = lambda *a, **k: False
    lake.insert("a", df, mode="append")  # Spark-job write path
    lake._fast_insert = orig
    lake.insert("b", df, mode="append")  # arrow fast path
    (za,) = zone_stats(lake, "a").values()
    (zb,) = zone_stats(lake, "b").values()
    for c in ("day#bloom", "n#bloom"):
        assert {k: int(v) for k, v in za[c][2].items()} == {
            k: int(v) for k, v in zb[c][2].items()
        }, c
    # and the probe finds rows through BOTH tables' filters
    for t in ("a", "b"):
        got = lake.scan(t, where={"day": dt.date(2024, 1, 5), "n": -2})
        assert [(r.day.isoformat(), r.n) for r in got.collect()] == [
            ("2024-01-05", -2)
        ]


def test_auto_sized_bloom_dense_leaf_still_prunes(lake, spark):
    """r10 verdict #6: with the default fixed m=4096/k=5 a leaf holding
    ~4000 values saturates toward ~100% FPR and the skip stops pruning.
    Auto-sizing must pick a wider lattice m for the dense leaf and keep
    a point lookup opening ~1 file out of 10 (≈1% FPR target)."""
    lake.create("d", SCHEMA, ["bucket"], [], bloom_columns=["doc_id"])
    per_leaf = 4000  # 10x the default's ~400-value design point
    for b in range(10):
        lake.insert(
            "d", _docs(spark, b * per_leaf, (b + 1) * per_leaf, b), mode="append"
        )
    meta = lake._load_meta("d")
    ms = {int(s["doc_id#bloom"][0]) for s in meta.zone_maps.values()
          if "doc_id#bloom" in s}
    assert ms and all(m > 4096 for m in ms), f"dense leaves kept base m: {ms}"
    # predicted FPR at the chosen m must be ~the 1% target
    import math
    for m in ms:
        fpr = (1.0 - math.exp(-5 * per_leaf / m)) ** 5
        assert fpr <= 0.011, f"m={m} gives FPR {fpr:.3f}"
    probe = "doc-12345"  # leaf 3 only
    got = lake.scan("d", where={"doc_id": probe})
    assert [r.doc_id for r in got.collect()] == [probe]
    n_all = len(lake.table("d").inputFiles())
    assert len(got.inputFiles()) <= 2, (
        f"auto-sized bloom opened {len(got.inputFiles())}/{n_all} files"
    )


def test_auto_sized_blooms_probe_identical_across_write_paths(lake, spark):
    """The fast-path/job-path bit-identity invariant must survive
    auto-sizing: the job path folds down from the lattice top, the
    driver path computes at m_leaf directly — same (m, k, words)."""
    lake.create("a", SCHEMA, [], [], bloom_columns=["doc_id", "bucket"])
    lake.create("b", SCHEMA, [], [], bloom_columns=["doc_id", "bucket"])
    rows = _docs(spark, 0, 900, 2)  # enough values to trigger m growth
    orig = lake._fast_insert
    lake._fast_insert = lambda *a, **k: False
    lake.insert("a", rows, mode="append")  # Spark-job path
    lake._fast_insert = orig
    lake.insert("b", rows, mode="append")  # arrow fast path
    # r16: zone_maps also carries per-file inventory keys (empty
    # stats) — compare the STATS entries via zone_stats
    za = list(zone_stats(lake, "a").values())
    zb = list(zone_stats(lake, "b").values())
    assert len(za) == len(zb) == 1
    assert int(za[0]["doc_id#bloom"][0]) > 4096, "auto-sizing did not engage"
    for c in ("doc_id#bloom", "bucket#bloom"):
        assert za[0][c][0] == zb[0][c][0] and za[0][c][1] == zb[0][c][1], c
        assert {k: int(v) for k, v in za[0][c][2].items()} == {
            k: int(v) for k, v in zb[0][c][2].items()
        }, c


def test_bloom_fpp_validation(lake, spark):
    with pytest.raises(ValueError, match="bloom_fpp"):
        lake.create("t", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_fpp=1.5)


def test_extreme_fpp_underflow_takes_cap_instead_of_crashing(lake, spark):
    """Review r11: fpp so small that fpp^(1/k) underflows below one double
    ulp used to ZeroDivisionError on the first insert (create accepted
    it). It must now pick the lattice cap and keep working."""
    lake.create(
        "d", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_fpp=1e-300
    )
    lake.insert("d", _docs(spark, 0, 20, 0), mode="append")
    ents = [s["doc_id#bloom"] for s in lake._load_meta("d").zone_maps.values()
            if "doc_id#bloom" in s]
    assert ents and all(int(e[0]) == 4096 * 64 for e in ents)
    got = lake.scan("d", where={"doc_id": "doc-00007"})
    assert [r.doc_id for r in got.collect()] == ["doc-00007"]


def test_legacy_table_without_fpp_property_keeps_fixed_m(lake, spark):
    """Review r11: a table created before auto-sizing existed has no
    bloom.fpp property — both write paths must honor its hand-tuned
    fixed m, not silently auto-grow it (the pre-r11 contract)."""
    lake.create(
        "d", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_m_bits=256,
        bloom_k=2, bloom_fpp=None,
    )
    # simulate the pre-r11 manifest: the key is absent entirely
    meta = lake._load_meta("d")
    del meta.properties["bloom.fpp"]
    lake._commit_meta(meta, None, action="strip-fpp-for-test")
    # arrow fast path (small batch) and Spark-job path (forced)
    lake.insert("d", _docs(spark, 0, 900, 0), mode="append")
    orig = lake._fast_insert
    lake._fast_insert = lambda *a, **k: False
    lake.insert("d", _docs(spark, 900, 1800, 1), mode="append")
    lake._fast_insert = orig
    ms = [int(s["doc_id#bloom"][0]) for s in lake._load_meta("d").zone_maps.values()
          if "doc_id#bloom" in s]
    assert ms and all(m == 256 for m in ms), f"legacy fixed m violated: {ms}"


def test_banked_blooms_repair_density_past_m_cap(lake, spark):
    """r12 verdict task #3 — the repair branch of the r12 diagnostic: a
    leaf denser than the m-cap now splits into hash-assigned BANKS of
    cap-sized filters (probe checks only the value's own bank), so the
    r12 shape — 10k values at a 4096-bit cap, which used to read est FPR
    > 0.5 — keeps ~target FPR: analyze() stays silent, the entry carries
    its bank count, a present id still matches, and absent ids actually
    EXCLUDE the leaf (the pruning the saturated filter had lost)."""
    # tiny lattice: base m=64 bits -> cap 4096 bits; k=5 target 1% holds
    # ~450 values; 10k values = ~24x the cap -> 32 banks
    lake.create(
        "d", SCHEMA, ["bucket"], [], bloom_columns=["doc_id"], bloom_m_bits=64
    )
    lake.insert("d", _docs(spark, 0, 10_000, 0), mode="append")
    ents = [s["doc_id#bloom"] for s in lake._load_meta("d").zone_maps.values()
            if "doc_id#bloom" in s]
    assert ents and all(len(e) == 4 and int(e[3]) == 32 for e in ents), (
        "dense leaf must bank"
    )
    assert all(int(e[0]) == 4096 for e in ents), "banked m stays at the cap"
    stats = lake.analyze("d")
    assert "bloom_saturated" not in stats, stats.get("bloom_saturated")
    got = lake.scan("d", where={"doc_id": "doc-00123"})
    assert [r.doc_id for r in got.collect()] == ["doc-00123"]
    # absent ids: pruning preserved at ~target FPR — these five probes
    # are deterministic given the fixed data and hash family
    pruned = 0
    for probe in ("nope-1", "nope-2", "nope-3", "nope-4", "nope-5"):
        s = lake.scan("d", where={"doc_id": probe})
        assert s.count() == 0
        pruned += not s.inputFiles()
    assert pruned >= 4, f"banked filter lost its pruning ({pruned}/5)"
    # healthy table (default sizing, density under the cap): no banks
    lake.create("h", SCHEMA, ["bucket"], [], bloom_columns=["doc_id"])
    lake.insert("h", _docs(spark, 0, 4000, 0), mode="append")
    hs = [s["doc_id#bloom"] for s in lake._load_meta("h").zone_maps.values()
          if "doc_id#bloom" in s]
    assert hs and all(len(e) == 3 for e in hs), "under-cap leaf must not bank"
    assert "bloom_saturated" not in lake.analyze("h")


def test_analyze_surfaces_bloom_saturation_past_bank_cap(lake, spark):
    """The diagnostic's remit moves out to the BANK cap (r13): a leaf so
    dense that even 32 banks of cap-sized filters degrade (> 32x the
    m-cap's capacity) is still flagged by analyze() — visible, correct,
    degraded — and the probe still matches."""
    # 60k values at a 4096-bit cap need ~15 banks' capacity PER BANK:
    # per-bank est FPR ~ 0.59 at 32 banks
    lake.create(
        "d", SCHEMA, ["bucket"], [], bloom_columns=["doc_id"], bloom_m_bits=64
    )
    lake.insert("d", _docs(spark, 0, 60_000, 0), mode="append")
    stats = lake.analyze("d")
    sat = stats.get("bloom_saturated", {})
    assert sat, "60k-value leaf past the 32-bank cap must be flagged"
    assert all(key.endswith(":doc_id") for key in sat)
    assert all(est > 0.5 for est in sat.values()), sat
    got = lake.scan("d", where={"doc_id": "doc-00123"})
    assert [r.doc_id for r in got.collect()] == ["doc-00123"]


def test_banked_blooms_probe_identical_across_write_paths(lake, spark):
    """The fast-path/job-path bit-identity invariant must survive
    banking: the job folds a mod-32 bank assignment down to the leaf's
    B, the driver computes mod B directly — same (m, k, words, B)."""
    lake.create("a", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_m_bits=64)
    lake.create("b", SCHEMA, [], [], bloom_columns=["doc_id"], bloom_m_bits=64)
    rows = _docs(spark, 0, 3000, 2)  # ~7.3x cap -> 8 banks
    orig = lake._fast_insert
    lake._fast_insert = lambda *a, **k: False
    lake.insert("a", rows, mode="append")  # Spark-job path
    lake._fast_insert = orig
    lake.insert("b", rows, mode="append")  # arrow fast path
    # r16: zone_maps also carries per-file inventory keys (empty
    # stats) — compare the STATS entries via zone_stats
    za = list(zone_stats(lake, "a").values())
    zb = list(zone_stats(lake, "b").values())
    assert len(za) == len(zb) == 1
    ea, eb = za[0]["doc_id#bloom"], zb[0]["doc_id#bloom"]
    assert len(ea) == len(eb) == 4 and int(ea[3]) == int(eb[3]) == 8
    assert int(ea[0]) == int(eb[0]) == 4096
    assert {k: int(v) for k, v in ea[2].items()} == {
        k: int(v) for k, v in eb[2].items()
    }
