"""Deterministic hash-threshold sampling: stability, nesting, split
disjointness, stratified fractions, mixture realization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from at_data_pipelines_spark.io import load_table
from at_data_pipelines_spark.llmops.sampling import (
    deterministic_split,
    mixture_fractions,
    mixture_sample,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_split_is_deterministic_and_partitions_rows(docs):
    s1 = deterministic_split(docs, val_frac=0.1, test_frac=0.1)
    s2 = deterministic_split(docs, val_frac=0.1, test_frac=0.1)
    a = {(r.doc_id, r.split) for r in s1.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in s2.select("doc_id", "split").collect()}
    assert a == b  # rerun-stable
    counts = {r.split: r.n for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n  # every row labeled exactly once
    assert 0.05 < counts["val"] / n < 0.15
    assert 0.05 < counts["test"] / n < 0.15


def test_split_is_append_safe(docs):
    """A document's split label must not depend on what else is in the
    corpus: labeling a subset then the full set agrees on the subset."""
    subset = docs.filter(F.col("doc_id") % 3 == 0)
    full = {
        r.doc_id: r.split
        for r in deterministic_split(docs, val_frac=0.2).select("doc_id", "split").collect()
    }
    sub = {
        r.doc_id: r.split
        for r in deterministic_split(subset, val_frac=0.2).select("doc_id", "split").collect()
    }
    assert all(full[k] == v for k, v in sub.items())


def test_sample_fractions_nest(docs):
    def sample(frac):
        out = stratified_sample(docs, {}, default_frac=frac)
        return {r.doc_id for r in out.select("doc_id").collect()}

    small, big = sample(0.05), sample(0.30)
    assert small <= big  # threshold sampling composes across scales
    n = docs.count()
    assert 0.15 < len(big) / n < 0.45


def test_stratified_sample_respects_per_stratum_fractions(docs):
    sources = [r.source for r in docs.select("source").distinct().collect()]
    assert len(sources) >= 2
    fracs = {sources[0]: 1.0, sources[1]: 0.0}
    out = stratified_sample(docs, fracs, "source", "doc_id")
    got = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    full = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got.get(sources[0], 0) == full[sources[0]]  # frac 1.0 keeps all
    assert sources[1] not in got  # frac 0.0 drops all
    # strata not listed default to 0
    assert set(got) <= {sources[0]}


def test_mixture_fractions_no_upsampling_and_realized_weights(docs):
    sources = sorted(r.source for r in docs.select("source").distinct().collect())
    s0, s1 = sources[0], sources[1]
    fr = mixture_fractions(docs, {s0: 0.8, s1: 0.2}, "source")
    assert all(0.0 <= f <= 1.0 for f in fr.values())
    # the binding source is fully used (keep fraction 1) — no upsampling
    assert max(fr.values()) == pytest.approx(1.0, abs=1e-9)
    out = mixture_sample(docs, {s0: 0.8, s1: 0.2}, "source", "doc_id")
    got = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= {s0, s1}  # unlisted sources dropped
    realized = got[s0] / (got[s0] + got[s1])
    assert 0.7 < realized < 0.9  # hash-threshold sampling noise at fixture size


def test_mixture_missing_source_raises(docs):
    with pytest.raises(ValueError, match="absent"):
        mixture_fractions(docs, {"no_such_source": 1.0}, "source")


def test_temperature_weights_limits(docs):
    """T=1 reproduces natural proportions; T→0 flattens toward uniform;
    the flattened sample keeps the rarest source whole (no upsampling)."""
    from at_data_pipelines_spark.llmops.sampling import temperature_weights

    counts = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(counts.values())
    w1 = temperature_weights(docs, 1.0)
    for s, n in counts.items():
        assert w1[s] == pytest.approx(n / n_total)
    w0 = temperature_weights(docs, 0.0)
    for s in counts:
        assert w0[s] == pytest.approx(1 / len(counts))
    # the fixture's sources are balanced, so flattening needs a skewed
    # corpus to show: 900/90/10 docs across three sources
    spark = docs.sparkSession
    skew = spark.createDataFrame(
        [(i, "web") for i in range(900)]
        + [(1000 + i, "books") for i in range(90)]
        + [(2000 + i, "code") for i in range(10)],
        ["doc_id", "source"],
    )
    sk1 = temperature_weights(skew, 1.0)
    sk5 = temperature_weights(skew, 0.5)
    assert max(sk5.values()) < max(sk1.values())  # dominant source shrinks
    assert min(sk5.values()) > min(sk1.values())  # rare source grows

    flat = mixture_sample(skew, sk5)
    out = {
        r.source: r.n
        for r in flat.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert out["code"] == 10  # rarest kept whole, never upsampled
    # realized mixture ≈ flattened target (hash sampling is ±noise)
    tot_out = sum(out.values())
    for src in sk5:
        assert out[src] / tot_out == pytest.approx(sk5[src], rel=0.2)

    with pytest.raises(ValueError, match="temperature"):
        temperature_weights(docs, 1.5)
