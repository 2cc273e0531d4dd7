"""Deterministic sampling for training-data pipelines: train/val splits,
stratified sampling, domain-mixture resampling.

Everything here is HASH-THRESHOLD sampling — keep a row iff
``hash(id, salt) mod M < frac·M`` — never ``df.sample()``:

- **deterministic**: the same row lands on the same side of every split
  on every run, cluster size, and partitioning (``sample()`` is
  per-partition RNG — repartition and your eval set silently changes);
- **composable**: a 1% sample is a strict subset of the 10% sample with
  the same salt (thresholds nest), so scaling experiments share data;
- **join-free leakage checks**: membership is a pure column expression,
  so "is this doc in val?" never needs a lookup table.

The salt isolates decisions: different salts give independent samples,
one salt gives a reproducible one. All expressions are JVM-side columns;
the only driver-side work is ``mixture_fractions``'s per-source count
(one row per source — intrinsically tiny).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_M = 1_000_000  # hash-bucket resolution: fractions quantize to 1e-6


def _bucket(id_col: str | Column, salt: str) -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(F.xxhash64(c, F.lit(salt)), F.lit(_M))


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.01,
    test_frac: float = 0.0,
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Attach a stable train/val(/test) label per row.

    Buckets [0, val) → val, [val, val+test) → test, rest → train. The
    label is a function of (id, salt) only — growing the corpus never
    moves an existing document between splits (append-safe, unlike
    fraction-of-current-count schemes)."""
    b = _bucket(id_col, salt)
    val_cut = int(val_frac * _M)
    test_cut = val_cut + int(test_frac * _M)
    label = (
        F.when(b < val_cut, F.lit("val"))
        .when(b < test_cut, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(out_col, label)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strata-v1",
    default_frac: float = 0.0,
) -> DataFrame:
    """Per-stratum keep fraction (deterministic ``sampleBy``): rows whose
    stratum is missing from ``fractions`` keep with ``default_frac``.
    One column expression — no join, no per-stratum jobs."""
    cut = None
    for k, f in fractions.items():
        c = F.when(F.col(strata_col) == k, F.lit(int(f * _M)))
        cut = c if cut is None else cut.when(F.col(strata_col) == k, F.lit(int(f * _M)))
    cut = (cut.otherwise(F.lit(int(default_frac * _M)))
           if cut is not None else F.lit(int(default_frac * _M)))
    return df.filter(_bucket(id_col, salt) < cut)


def mixture_fractions(
    df: DataFrame,
    target_weights: dict[str, float],
    strata_col: str = "source",
) -> dict[str, float]:
    """Per-source keep fractions that realize a target domain mixture
    with NO upsampling: find the largest total size T such that every
    source s can supply ``w_s·T`` rows from its ``n_s`` available
    (T = min over s of n_s/w_s), then keep ``w_s·T / n_s`` of source s.

    The per-source counts are one aggregate row per source — a tiny
    driver collect, same class as partition-value listings."""
    total_w = sum(target_weights.values())
    weights = {k: w / total_w for k, w in target_weights.items()}
    counts = {
        r[strata_col]: r["n"]
        for r in df.filter(F.col(strata_col).isin(*weights))
        .groupBy(strata_col)
        .agg(F.count("*").alias("n"))
        .collect()
    }
    missing = set(weights) - set(counts)
    if missing:
        raise ValueError(f"sources absent from corpus: {sorted(missing)}")
    t = min(counts[s] / w for s, w in weights.items() if w > 0)
    return {s: min(1.0, w * t / counts[s]) for s, w in weights.items()}


def mixture_sample(
    df: DataFrame,
    target_weights: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mixture-v1",
) -> DataFrame:
    """Resample the corpus to a target domain mixture (downsampling
    over-represented sources; sources outside ``target_weights`` are
    dropped). Deterministic given (corpus, weights, salt)."""
    fracs = mixture_fractions(df, target_weights, strata_col)
    return stratified_sample(df, fracs, strata_col, id_col, salt, default_frac=0.0)


def temperature_weights(
    df: DataFrame, temperature: float, strata_col: str = "source"
) -> dict[str, float]:
    """Temperature-flattened mixture weights ``w_s ∝ n_s^T`` — the
    multilingual/multi-domain rebalancing rule (T=1 keeps natural
    proportions, T→0 approaches uniform; mT5/XLM-R use T≈0.3–0.7). One
    aggregate row per source (tiny collect); feed the result to
    ``mixture_sample``."""
    if not 0 <= temperature <= 1:
        raise ValueError(f"temperature must be in [0, 1], got {temperature}")
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    raw = {s: float(n) ** temperature for s, n in counts.items()}
    z = sum(raw.values())
    return {s: w / z for s, w in raw.items()}


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    by: list[str] | None = None,
    id_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis A-ES reservoir (Inf. Proc. Letters 2006): each
    item draws u ~ Uniform(0,1) and the n largest u^(1/w) win, which
    selects exactly with probability proportional to weight. Here u is
    the 48-bit md5 hash of (id, salt) — ops/sketch.py's engine-
    reproducible uniform — and items are ranked by the order-equivalent
    ln(u)/w (monotone of u^(1/w), avoids a pow), so the SAME items win
    in any engine evaluating the same expression: the curation move for
    quality-weighted corpus subsampling, reproducible run-to-run.

    ``by`` groups make it a per-group reservoir (one window shuffle);
    without ``by`` it is a global top-n (TakeOrderedAndProject — no full
    sort). Rows with NULL or non-positive weight never win. Ties (u
    collisions) break by id for full determinism."""
    from pyspark.sql.window import Window as W

    from ..ops.sketch import uniform_hash

    u = uniform_hash(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    key = F.log(u) / F.col(weight_col)
    base = df.filter(F.col(weight_col) > 0).withColumn("_wkey", key)
    if by:
        w = W.partitionBy(*by).orderBy(F.desc("_wkey"), F.col(id_col))
        out = (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .drop("_rn")
        )
    else:
        out = base.orderBy(F.desc("_wkey"), F.col(id_col)).limit(n)
    return out.drop("_wkey")
