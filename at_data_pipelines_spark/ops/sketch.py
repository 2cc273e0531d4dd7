"""KMV (k-minimum-values / bottom-k) distinct-count sketch.

The sketch behind Theta/KMV cardinality estimation (Bar-Yossef et al.
2002; the DataSketches theta family): hash every value to a uniform
number in [0, 1), keep only the k smallest DISTINCT hashes per group,
and estimate ``distinct ≈ (k-1) / u_(k)`` where ``u_(k)`` is the k-th
smallest hash. With fewer than k distinct hashes the count is exact.

Why this instead of Spark's builtin ``approx_count_distinct`` (HLL++):
same job — but this one is an ENGINE-INDEPENDENT deterministic
computation. The hash is ``md5(value)`` truncated to 48 bits, a plain
SQL expression any engine evaluates bit-identically, so the estimate is
exactly reproducible in DuckDB for the correctness oracle
(``oracle_sql`` in queries/sketches.py) — something no builtin sketch
with engine-private hashing can offer. Use the builtin when parity
doesn't matter; use this when two systems must agree on the estimate
(cross-engine reconciliation, contract tests, incremental re-checks).

Scale shape: one map-side projection computes the hash, ``distinct``
is a uniform shuffle on (group, hash) with map-side partial dedup, and
the bottom-k per group sorts only each group's DISTINCT hashes. Memory
per group downstream is O(k). No skew beyond genuine group skew — the
hash itself is uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

_HEX_BITS = 48  # 12 hex chars: exact in a double (< 2^53), cheap to compare


def uniform_hash(col: F.Column | str) -> F.Column:
    """Deterministic uniform hash of a value into [0, 1): the first 12 hex
    chars of md5 as a 48-bit integer, scaled. Exact in float64, and
    reproducible in any engine with md5 + string ops."""
    h = F.md5(F.col(col).cast("string") if isinstance(col, str) else col.cast("string"))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("double") / F.lit(
        float(16**12)
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Per-group distinct-count estimate of ``value_col`` via a bottom-k
    sketch (see module docstring). Exact below k distinct values;
    relative error ~ 1/sqrt(k-2) above it. Result is rounded to 6
    decimals (the engine-parity convention for irrational floats)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    # NULL values are not counted as a distinct value (SQL COUNT(DISTINCT)
    # semantics) — and a NULL hash would sort before every real hash and
    # corrupt the k-th-smallest statistic.
    # r17 (guide §2.3, the same aggregate-before-the-expensive-expression
    # move as cms_build): dedup the RAW (group, value) pairs first — a
    # plain shuffle with map-side partial dedup of narrow native values —
    # and evaluate the md5 uniform hash once per DISTINCT pair instead of
    # once per input row (at corpus scale the md5 bill drops from |rows|
    # to |distinct pairs|). The second distinct on (group, u) preserves
    # the sketch's exact semantics (the oracle dedups on u, so a 48-bit
    # hash collision between two values must still collapse to one row);
    # it runs on already-deduped pairs, so its partial agg is ~free.
    hashed = (
        df.select(*group_cols, F.col(value_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .distinct()
        .select(*group_cols, uniform_hash(F.col("_v")).alias("_u"))
        .distinct()
    )
    w = W.partitionBy(*group_cols).orderBy("_u")
    ranked = hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("_n"), F.max("_u").alias("_kth")
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("_kth")
    )
    return agg.select(*group_cols, F.round(est, 6).alias(out_col))


def _cms_cells(col: F.Column | str, d: int, w: int, salt: str) -> F.Column:
    """Array of (row, col) sketch coordinates for one value: row i uses
    the 48-bit md5 of (value, salt, i) mod w — independent-enough hash
    rows, each a plain SQL expression any engine reproduces exactly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(c.cast("string"), F.lit(salt), F.lit(str(i)))),
                            1,
                            12,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(w),
                ).alias("col"),
            )
            for i in range(d)
        ]
    )


def cms_build(
    df: DataFrame, value_col: str, d: int = 4, w: int = 1024, salt: str = "cms"
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of value
    frequencies: d hash rows × w counters as a (row, col, cnt)
    DataFrame of at most d·w rows — a fixed-size summary of an
    arbitrarily large stream, mergeable by simple cnt addition.
    Estimates only ever OVER-count (collisions add), by ≤ n·e/w with
    probability 1-e^-d. Like the KMV sketch, the hashes are md5-derived
    SQL expressions, so an external engine reproduces the sketch and
    its estimates bit-for-bit (the oracle for q68).

    r16 (guide §2.3, aggregate before you explode): frequencies are
    pre-aggregated per VALUE first — a cheap partial-agg count — and the
    d md5 cells are computed once per distinct value with the count as
    the weight, instead of d md5+concat evaluations per input ROW. The
    summed sketch is identical (Σ per-cell of per-value counts); at
    sf0.1 q68 measured 0.65 s vs 1.03 s (interleaved min-of-4), and at
    corpus scale the md5 bill drops from d·|rows| to d·|distinct|."""
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_c"))
    cells = counts.select(
        F.col("_c"), F.explode(_cms_cells(value_col, d, w, salt)).alias("c")
    ).select("_c", "c.row", "c.col")
    return cells.groupBy("row", "col").agg(F.sum("_c").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    salt: str = "cms",
    out_col: str = "est",
) -> DataFrame:
    """Point-frequency estimate for each item: min over the d probed
    counters (absent counter = 0). The sketch side is ≤ d·w rows —
    broadcast — so estimating any number of items is one map-side join."""
    probes = items.select(
        value_col, F.explode(_cms_cells(value_col, d, w, salt)).alias("c")
    ).select(value_col, "c.row", "c.col")
    joined = probes.join(F.broadcast(sketch), ["row", "col"], "left").fillna(
        {"cnt": 0}
    )
    return joined.groupBy(value_col).agg(F.min("cnt").alias(out_col))


def _bloom_positions(col: F.Column | str, k: int, m_bits: int, salt: str) -> F.Column:
    """Array of the k bit positions for one value: position i is the
    48-bit md5 of (value, salt, i) mod m — the same engine-reproducible
    hash family as the CMS rows."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(c.cast("string"), F.lit(salt), F.lit(str(i)))),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(m_bits),
            )
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
) -> DataFrame:
    """SPARSE distributed Bloom filter of ``value_col``'s members:
    m bits packed into 64-bit words, returned as a (word, bits)
    DataFrame holding only the non-zero words. Everything is codegen
    SQL (md5 positions, shiftleft masks, bit_or aggregate) — no UDF, no
    driver-side bitset — so the build is one uniform shuffle of ≤ k·n
    (word, mask) pairs and the filter itself scales past driver memory
    (a dense m=2^33 filter is just more rows). md5-derived positions
    make the sketch bit-reproducible across engines, like the KMV/CMS
    sketches. NULL is never a member. Mergeable: union two sketches and
    re-aggregate with ``bit_or`` — exactly equal to building from the
    union, since bit_or is associative and the hashes deterministic.

    Why alongside KMV/CMS: the membership sketch a 100 TB incremental
    dedup needs — "have we EVER ingested this content hash?" — with
    O(m/64) state instead of O(distinct), no false negatives, and FPR
    ≈ (1 - e^(-k·n/m))^k chosen at build time."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(_bloom_positions(value_col, k, m_bits, salt)).alias("pos"))
        .select(
            (F.col("pos") / F.lit(64)).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("mask"),
        )
    )
    return cells.groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))


def bloom_probe(
    sketch: DataFrame,
    items: DataFrame,
    value_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
    out_col: str = "maybe_member",
    broadcast: bool = True,
) -> DataFrame:
    """Membership probe: one row per distinct ``value_col`` with
    ``maybe_member`` — False is definitive (no false negatives), True
    is membership up to the filter's FPR. The probe explodes each item
    into its k (word, mask) coordinates and equi-joins the sparse
    sketch on ``word`` — ``broadcast=True`` (default) for the common
    small-filter case; pass ``broadcast=False`` for a dense multi-GB
    filter, which then probes via a uniform shuffle equi-join instead
    of an impossible broadcast. Both shapes are skew-free (md5
    positions are uniform). NULL probes report False: a NULL value
    hashes to k NULL positions, whose NULL words never join and whose
    NULL-mask hits are NULL, so the final coalesced bool_and is False —
    no special-case branch needed. Duplicate ``word`` rows in the
    sketch (a union of sketches not yet re-aggregated) are OR-collapsed
    before the mask test, so probing such a union is exactly as correct
    as probing its merged sketch."""
    if value_col in ("word", "bits"):
        raise ValueError(
            f"value_col {value_col!r} collides with the sketch's internal "
            "(word, bits) columns — rename the probe column first"
        )
    probes = items.select(
        F.col(value_col),
        F.explode(_bloom_positions(value_col, k, m_bits, salt)).alias("_bloom_pos"),
    ).select(
        value_col,
        (F.col("_bloom_pos") / F.lit(64)).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(_bloom_pos, 64) as int))").alias(
            "_bloom_mask"
        ),
    )
    sk = sketch.groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))
    sk = F.broadcast(sk) if broadcast else sk
    joined = probes.join(sk, ["word"], "left")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_bloom_mask"))
        != F.lit(0)
    ).alias("_bloom_hit")
    return (
        joined.select(value_col, hit)
        .groupBy(value_col)
        .agg(F.coalesce(F.expr("bool_and(_bloom_hit)"), F.lit(False)).alias(out_col))
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 256,
    salt: str = "qsk",
) -> DataFrame:
    """The quartet's QUANTILE member (next to KMV cardinality, CMS
    frequency, Bloom membership): a deterministic row sample — the k
    rows whose md5-uniform hash of (key, salt) is smallest — kept as
    (value, hash) rows. Because the hash orders ROWS (by their key),
    not values, the sample is uniform over rows and any quantile of the
    sample estimates the population quantile with the standard
    O(1/sqrt(k)) error; because it is md5-derived it is deterministic,
    layout-independent, engine-reproducible, and MERGEABLE: union two
    sketches and re-take the bottom-k — exactly the sketch of the
    union. Spark's builtin approx_percentile does this job faster but
    with engine-private internals no oracle can replay. NULL values and
    NULL keys are excluded (a quantile of NULLs is undefined; a NULL key
    cannot be hashed).

    ``key_col`` MUST identify rows uniquely (a PK or row id): the hash
    draws once per KEY, so duplicate keys share one draw and the
    (h, value) tiebreak then keeps the smallest values of the tied
    cluster — with non-unique keys the sample, and every quantile from
    it, is biased LOW, not uniform. Synthesize a unique key (e.g.
    ``concat(key, '#', file, '#', pos)``) when no natural one exists;
    the hash input just has to be a deterministic row identity both
    engines can rebuild."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = uniform_hash(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(F.col(value_col).alias("value"), h.alias("h"))
    # bottom-k via sort+limit = TakeOrderedAndProject: per-partition
    # top-k then a k-row merge on the driver side of the exchange —
    # never a global single-task window. `value` tiebreak keeps
    # duplicate-key ties deterministic.
    return base.orderBy("h", "value").limit(k)


def quantile_estimate(
    sketch: DataFrame, quantiles: list[float], out_col: str = "q"
) -> DataFrame:
    """Quantile estimates from the sample: the ANSI PERCENTILE_CONT
    (linear interpolation) of the sampled values at each requested
    quantile — one row per quantile, deterministic given the sketch."""
    qs = list(quantiles)
    aggs = [
        F.expr(f"percentile(value, {float(p)!r})").alias(f"_q{i}")
        for i, p in enumerate(qs)
    ]
    row = sketch.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(F.lit(float(p)).alias(out_col), F.col(f"_q{i}").alias("value"))
            for i, p in enumerate(qs)
        ]
    )
    return row.select(F.explode(pairs).alias("p")).select(f"p.{out_col}", "p.value")
