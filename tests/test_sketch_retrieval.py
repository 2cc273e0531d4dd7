"""KMV distinct sketch (ops/sketch.py) and BM25 retrieval
(llmops/retrieval.py): accuracy vs exact/reference, determinism, and
the 100 TB plan shapes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from at_data_pipelines_spark.llmops.retrieval import bm25_search
from at_data_pipelines_spark.ops.sketch import kmv_distinct


# -- KMV ------------------------------------------------------------------


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in range(g == "b" and 40 or 10)],
        ["g", "v"],
    )
    got = {r.g: r.distinct_est for r in kmv_distinct(df, ["g"], "v", k=64).collect()}
    assert got == {"a": 10.0, "b": 40.0}


def test_kmv_duplicates_do_not_inflate(spark):
    rows = [("g", v % 30) for v in range(3000)]  # 30 distinct, heavy dupes
    df = spark.createDataFrame(rows, ["g", "v"])
    (r,) = kmv_distinct(df, ["g"], "v", k=64).collect()
    assert r.distinct_est == 30.0


def test_kmv_accuracy_above_k(spark):
    n = 5000
    df = spark.createDataFrame([("g", v) for v in range(n)], ["g", "v"])
    for k, tol in ((64, 0.40), (256, 0.20)):
        (r,) = kmv_distinct(df, ["g"], "v", k=k).collect()
        rel = abs(r.distinct_est - n) / n
        # theoretical std err ~ 1/sqrt(k-2); tol is ~3 sigma
        assert rel < tol, f"k={k}: est {r.distinct_est} vs {n} (rel {rel:.3f})"


def test_kmv_deterministic_across_layouts(spark):
    rows = [("g", v) for v in range(2000)]
    a = kmv_distinct(
        spark.createDataFrame(rows, ["g", "v"]), ["g"], "v", k=64
    ).collect()
    b = kmv_distinct(
        spark.createDataFrame(rows[::-1], ["g", "v"]).repartition(13),
        ["g"],
        "v",
        k=64,
    ).collect()
    assert a == b  # estimate depends only on the value SET, never layout


# -- BM25 -----------------------------------------------------------------


def _bm25_reference(docs: list[tuple[int, str]], terms: list[str], k1=1.2, b=0.75):
    """Plain-Python Okapi BM25 for parity checking."""
    toks = {i: t.split() for i, t in docs}  # any whitespace, no empties
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for term in terms:
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, v in toks.items():
            tf = v.count(term)
            if tf:
                s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
                out[i] = out.get(i, 0.0) + s
    return out


def test_bm25_matches_reference(spark):
    docs = [
        (0, "spark join window agg spark"),
        (1, "join join join filter scan"),
        (2, "window window spark"),
        (3, "table scan filter value"),
        (4, "spark"),
    ]
    terms = ["spark", "join", "window"]
    got = {
        r.doc_id: r.score
        for r in bm25_search(
            spark.createDataFrame(docs, ["doc_id", "text"]), terms, top_k=5
        ).collect()
    }
    ref = _bm25_reference(docs, terms)
    assert set(got) == set(ref)  # doc 3 matches nothing -> absent
    for i, s in ref.items():
        assert abs(got[i] - s) < 1e-6


def test_bm25_duplicate_query_terms_count_once(spark):
    """r6 verdict #5: repeated query terms must not double their per-term
    contribution — query tf saturates at 1 (binary qtf), so a query with
    duplicates scores identically to its deduplicated form and matches
    the python reference on the deduped terms."""
    docs = [
        (0, "spark join window agg spark"),
        (1, "join join join filter scan"),
        (2, "window window spark"),
        (3, "spark"),
    ]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    dup = {r.doc_id: r.score for r in bm25_search(sdf, ["spark", "join", "spark", "spark"], top_k=4).collect()}
    ded = {r.doc_id: r.score for r in bm25_search(sdf, ["spark", "join"], top_k=4).collect()}
    assert dup == ded
    ref = _bm25_reference(docs, ["spark", "join"])
    assert set(dup) == set(ref)
    for i, s in ref.items():
        assert abs(dup[i] - s) < 1e-6


def test_bm25_ranking_and_tiebreak(spark):
    # identical docs => identical scores => doc_id ascending tiebreak
    docs = [(i, "spark join") for i in range(6)]
    top = bm25_search(
        spark.createDataFrame(docs, ["doc_id", "text"]), ["spark"], top_k=3
    ).collect()
    assert [r.doc_id for r in top] == [0, 1, 2]


def test_bm25_plan_shape(spark, sf_dir):
    """100 TB gates: document frequencies ride the 1-row corpus-stats
    broadcast, so no join shuffles both sides; top-k compiles to
    TakeOrderedAndProject; at most the one stats nested-loop attach."""
    from at_data_pipelines_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    df = bm25_search(d, ["spark", "join", "window"], top_k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop is the 1-row corpus-stats broadcast attach
    assert plan.count("BroadcastNestedLoopJoin") <= 1


# -- weighted sampling -----------------------------------------------------


def _aes_reference(ids_weights, n, salt="ws"):
    """Plain-Python replica of weighted_sample's selection: md5-48bit
    uniform, rank by ln(u)/w desc with id tiebreak."""
    import hashlib
    import math

    keyed = []
    for i, w in ids_weights:
        if w is None or w <= 0:
            continue
        u = int(hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:12], 16) / 16**12
        keyed.append((math.log(u) / w, i))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in keyed[:n]]


def test_weighted_sample_matches_python_reference(spark):
    from at_data_pipelines_spark.llmops.sampling import weighted_sample

    rows = [(i, float(1 + (i * 7) % 50)) for i in range(200)]
    rows += [(900, 0.0), (901, -3.0), (902, None)]  # never win
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = sorted(
        r.doc_id for r in weighted_sample(df, "w", 20, id_col="doc_id").collect()
    )
    assert got == sorted(_aes_reference(rows, 20))


def test_weighted_sample_is_weight_proportional(spark):
    """Statistical sanity across salts: an item with 10x the weight of
    the rest must be selected far more often."""
    from at_data_pipelines_spark.llmops.sampling import weighted_sample

    rows = [(i, 10.0 if i == 0 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    hits = sum(
        any(
            r.doc_id == 0
            for r in weighted_sample(df, "w", 10, id_col="doc_id", salt=f"s{t}").collect()
        )
        for t in range(12)
    )
    # P(select) ≈ 1 - (1-10/109)^10-ish ≈ 0.65; uniform would be ~0.1.
    assert hits >= 6, f"10x-weight item selected only {hits}/12 times"


def test_weighted_sample_grouped(spark):
    from at_data_pipelines_spark.llmops.sampling import weighted_sample

    rows = [(g, i, 1.0 + i) for g in ("a", "b") for i in range(50)]
    df = spark.createDataFrame(rows, ["g", "doc_id", "w"])
    out = weighted_sample(df, "w", 5, by=["g"], id_col="doc_id").collect()
    from collections import Counter

    assert Counter(r.g for r in out) == {"a": 5, "b": 5}


# -- count-min sketch ------------------------------------------------------


def test_cms_never_underestimates_and_exact_when_wide(spark):
    from collections import Counter

    from at_data_pipelines_spark.ops.sketch import cms_build, cms_estimate

    vals = [i % 37 for i in range(3000)]  # 37 distinct, skewed none
    vals += [999] * 500  # one heavy hitter
    true = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    items = df.distinct()
    # narrow sketch: only-overestimates property
    sk = cms_build(df, "x", d=4, w=64)
    est = {r.x: r.est for r in cms_estimate(sk, items, "x", d=4, w=64).collect()}
    assert set(est) == set(true)
    for v, t in true.items():
        assert est[v] >= t, f"underestimate for {v}"
    # wide sketch: no collisions => exact
    sk2 = cms_build(df, "x", d=4, w=65536)
    est2 = {
        r.x: r.est
        for r in cms_estimate(sk2, items, "x", d=4, w=65536).collect()
    }
    assert est2 == dict(true)


def test_cms_is_mergeable(spark):
    """Sketches of two shards merged by counter addition equal the sketch
    of the union — the property that makes CMS a distributed/streaming
    summary."""
    from at_data_pipelines_spark.ops.sketch import cms_build

    a = spark.createDataFrame([(i % 11,) for i in range(400)], ["x"])
    b = spark.createDataFrame([(i % 7,) for i in range(300)], ["x"])
    merged = (
        cms_build(a, "x", d=3, w=128)
        .unionByName(cms_build(b, "x", d=3, w=128))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(a.unionByName(b), "x", d=3, w=128)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_bm25_multiline_and_multispace_tokens(spark):
    """r6 review: newline/tab separators and space runs must tokenize
    like whitespace everywhere — a two-line doc matches its terms."""
    docs = [(0, "spark\njoin"), (1, "spark  join"), (2, "spark join")]
    got = {
        r.doc_id: r.score
        for r in bm25_search(
            spark.createDataFrame(docs, ["doc_id", "text"]), ["spark", "join"], top_k=3
        ).collect()
    }
    # all three docs are token-identical => identical scores
    assert len(got) == 3
    assert abs(got[0] - got[2]) < 1e-12 and abs(got[1] - got[2]) < 1e-12


# -- Bloom filter (ops/sketch.py, r7) ---------------------------------------


def test_bloom_no_false_negatives_and_fpr(spark):
    """Every inserted member MUST probe True (no false negatives —
    exact), and the false-positive rate on a disjoint probe set must sit
    near the theoretical (1 - e^(-kn/m))^k for the chosen geometry."""
    import math

    from at_data_pipelines_spark.ops.sketch import bloom_build, bloom_probe

    n, m, k = 2000, 1 << 14, 5  # theory fpr ~ 0.0094
    members = spark.range(n).select(F.concat(F.lit("doc-"), F.col("id")).alias("v"))
    sketch = bloom_build(members, "v", m_bits=m, k=k)
    got = {
        r.v: r.maybe_member
        for r in bloom_probe(sketch, members, "v", m_bits=m, k=k).collect()
    }
    assert len(got) == n and all(got.values()), "false negative!"
    absent = spark.range(n).select(
        F.concat(F.lit("other-"), F.col("id")).alias("v")
    )
    fp = sum(
        1
        for r in bloom_probe(sketch, absent, "v", m_bits=m, k=k).collect()
        if r.maybe_member
    )
    theory = (1 - math.exp(-k * n / m)) ** k
    assert fp / n < theory * 3 + 0.01, f"fpr {fp / n:.4f} vs theory {theory:.4f}"


def test_bloom_merge_equals_union_build(spark):
    """bit_or is associative and the hashes deterministic, so merging
    two sketches equals building one from the union EXACTLY (sketch
    row-for-row), and NULLs are never members."""
    from at_data_pipelines_spark.ops.sketch import bloom_build, bloom_probe

    a = spark.createDataFrame([("x",), ("y",), (None,)], ["v"])
    b = spark.createDataFrame([("y",), ("z",)], ["v"])
    m, k = 1 << 10, 3
    merged = (
        bloom_build(a, "v", m_bits=m, k=k)
        .unionByName(bloom_build(b, "v", m_bits=m, k=k))
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    direct = bloom_build(a.unionByName(b), "v", m_bits=m, k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    probed = {
        r.v: r.maybe_member
        for r in bloom_probe(
            merged, spark.createDataFrame([("x",), ("z",), (None,)], ["v"]), "v",
            m_bits=m, k=k,
        ).collect()
    }
    assert probed["x"] and probed["z"] and probed[None] is False


def test_bloom_plan_is_codegen_joins(spark):
    """The probe must stay a broadcast equi-join + aggregate — zero
    python UDFs, no nested-loop/cartesian plans."""
    from at_data_pipelines_spark.ops.sketch import bloom_build, bloom_probe

    members = spark.range(500).select(F.col("id").cast("string").alias("v"))
    sketch = bloom_build(members, "v", m_bits=1 << 12, k=4)
    plan = bloom_probe(sketch, members, "v", m_bits=1 << 12, k=4)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# -- quantile sketch (ops/sketch.py, r7) ------------------------------------


def test_quantile_sketch_accuracy_merge_and_plan(spark):
    """The quartet's quantile member: estimates within the O(1/sqrt(k))
    band on a known distribution, exact below k rows, merge ≡ union
    build exactly, deterministic across layouts, and the bottom-k
    compiles to TakeOrderedAndProject (never a global one-task
    window)."""
    from at_data_pipelines_spark.ops.sketch import quantile_estimate, quantile_sketch

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    sk = quantile_sketch(df, "v", "k", k=512)
    got = {r.q: r.value for r in quantile_estimate(sk, [0.1, 0.5, 0.9]).collect()}
    for p in (0.1, 0.5, 0.9):
        assert abs(got[p] - p * n) / n < 0.08, f"q{p}: {got[p]}"

    # exact below k: the sample IS the data
    small = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    sk_small = quantile_sketch(small, "v", "k", k=512)
    (r,) = quantile_estimate(sk_small, [0.5]).collect()
    assert r.value == 49.5  # exact PERCENTILE_CONT of 0..99

    # merge ≡ union build, row for row (deterministic hashes)
    a = spark.range(0, 5000).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    b = spark.range(5000, 10000).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    merged = sorted(map(tuple, quantile_sketch(a, "v", "k", k=128).unionByName(
        quantile_sketch(b, "v", "k", k=128)
    ).orderBy("h", "value").limit(128).collect()))
    direct = sorted(map(tuple, quantile_sketch(a.unionByName(b), "v", "k", k=128).collect()))
    assert merged == direct

    # layout independence
    shuffled = df.repartition(17)
    assert sorted(map(tuple, quantile_sketch(shuffled, "v", "k", k=64).collect())) == sorted(
        map(tuple, quantile_sketch(df, "v", "k", k=64).collect())
    )

    # plan: TakeOrderedAndProject, no global single-partition Sort+Window
    plan = quantile_sketch(df, "v", "k", k=512)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
