"""Deduplication operators for document corpora.

All hash functions are md5-derived (hex-prefix → int64) so results are
engine-independent and reproducible — the DuckDB oracle computes the exact
same integers (``('0x'||substr(md5(s),1,15))::BIGINT``).

Scale design (100 TB corpus):

- **exact_dedup** — one hash-shuffle on the digest; digests are uniform so
  no skew; map-side partial aggregation halves the shuffle.
- **MinHash** — signatures are computed in ONE pass over exploded shingles
  with k min-aggregates (no k× row blowup); the only wide shuffle is on
  doc_id (uniform). LSH banding then turns near-dup detection from O(n²)
  into a per-bucket join; hot buckets (boilerplate docs) are the skew risk
  — cap candidate generation per bucket or salt in production.
- **SimHash** — 32 conditional aggregates in one groupBy pass, not a
  32× bit-explosion. Near-dup pairs use a pigeonhole band equi-join
  (exact: ≤ ``max_hamming`` differing bits over ``max_hamming+1`` bands
  means at least one band matches exactly) — never an all-pairs scan.
- **Jaccard** — exact sub-quadratic via prefix filtering (the
  Vernica/Bayardo set-similarity-join design): order shingles by global
  document frequency, join only on each document's prefix (the
  ``|d| − ⌈t·|d|⌉ + 1`` rarest shingles — the canonically smallest
  shared shingle of any qualifying pair provably lands in both
  prefixes), then verify exact Jaccard on the candidates. Same output
  as the all-pairs join, without the boilerplate-shingle k² blowup.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def hash32(col: Column) -> Column:
    """32-bit variant (for SimHash bit sampling)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by content digest, keep the lowest id (deterministic winner)."""
    return df.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def word_shingle_array(tokens_col: Column, n: int = 3, distinct: bool = True) -> Column:
    """Array of word n-gram shingles from a PRE-SPLIT token array column
    (distinct by default; ``distinct=False`` keeps occurrences for
    frequency-based metrics). The tokens must be a materialized column,
    not an inline ``split(...)`` expression: Spark does no
    common-subexpression elimination inside higher-order lambdas, so an
    inline split re-runs per element access — O(len²) per document
    (measured ~10× slower)."""
    w = tokens_col
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)])  # noqa: E731
    arr = F.transform(idx, gram)
    if distinct:
        arr = F.array_distinct(arr)
    return F.when(F.size(w) >= n, arr).otherwise(F.array().cast("array<string>"))


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows, distinct per document."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    return toks.select(
        F.col(id_col), F.explode(word_shingle_array(F.col("_w"), n)).alias("shingle")
    )


def _hashed_shingle_set_col(w: Column, n: int) -> Column:
    """Array of the DISTINCT xxhash64 shingle hashes of a token-array
    column — the set representation of a document's word n-grams, built
    entirely inside one projection (no explode, no shuffle). The hash is
    computed directly from the n token slots inside the transform lambda
    (multi-arg xxhash64 folds each token into the running hash — tokens
    are space-free, so the triple is as collision-unique as the joined
    string), and ``array_distinct`` deduplicates 8-byte longs instead of
    strings."""
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    gram = lambda i: F.xxhash64(*[F.element_at(w, i + j) for j in range(n)])  # noqa: E731
    arr = F.array_distinct(F.transform(idx, gram))
    return F.when(F.size(w) >= n, arr).otherwise(F.array().cast("array<bigint>"))


def hashed_word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sh_h) rows — the xxhash64 of each distinct word n-gram per
    document, WITHOUT ever materializing the shingle string (r16, guide
    §1.2 per-task work): see ``_hashed_shingle_set_col``. For consumers
    that only need shingle IDENTITY (jaccard_pairs joins/counts on the
    hash anyway) this skips, per shingle: one concat_ws string
    allocation, the string dedup, the string explode traffic, and the
    separate hash projection. Measured at sf0.1 (interleaved min-of-4):
    q46 2.79 s vs 4.45 s with the string path — identical output pairs.
    Collision note: dedup moves from distinct-strings to distinct-longs,
    so a 64-bit in-document collision would merge two shingles — the
    same ~(n_distinct)²/2⁶⁵ regime the hash join below already accepts.

    The array expression is placed INSIDE the explode select on purpose
    (r17): exploding it as a named column from an intermediate select
    trips ``InferFiltersFromGenerate`` — Catalyst infers a
    ``size(child) > 0`` filter on the generator's child, pushes it below
    the projection, and the pushdown inlines ``split(text)`` into every
    ``element_at`` of the re-materialized array expression (the same
    O(len²)-per-document trap documented on ``word_shingle_array``),
    re-evaluating the whole shingle array twice per row in an
    interpreted Filter. Measured at sf0.1: 0.80 s direct vs 9.4 s via
    the intermediate select — identical output. Generator-embedded
    expressions are exempt from that inference rule."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    arr = _hashed_shingle_set_col(F.col("_w"), n)
    return toks.select(F.col(id_col), F.explode(arr).alias("sh_h"))


# universal-hash family for MinHash permutations: h_i = (a_i·h + b_i) mod p
# over a 28-bit md5-derived base hash. p = 2^31−1 (prime); a_i·h ≤ 2^61 so
# the product never overflows signed int64 in any engine. Coefficients are
# fixed (seeded) so Spark and the SQL oracle agree exactly.
MINHASH_PRIME = 2147483647


def minhash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MINHASH_PRIME)), int(rng.integers(0, MINHASH_PRIME)))
        for _ in range(num_hashes)
    ]


def minhash_base_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, h) rows — the distinct 28-bit md5-derived MinHash base hashes
    of each document's word n-grams, computed INSIDE the transform lambda
    (r17, guide §1.2 per-task work / §2.3 shuffle fewer bytes): the
    oracle-pinned ``conv(substr(md5(shingle),1,7),16,10)`` is evaluated
    per token window, so the shingle string lives only as a transient
    ``concat_ws`` argument — never materialized into an array of strings,
    never string-deduplicated, never exploded as string rows. Dedup runs
    on the LONG base hash instead of the shingle string, which is exactly
    output-equivalent for MinHash: every permutation ``(a·h+b) mod p`` is
    a function of h alone, so shingles sharing h contribute identical min
    terms and the min over the distinct-h set equals the min over the
    distinct-string multiset."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    w = F.col("_w")
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    gram = lambda i: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)])), 1, 7
        ),
        16,
        10,
    ).cast("long")
    arr = F.array_distinct(F.transform(idx, gram))
    arr = F.when(F.size(w) >= n, arr).otherwise(F.array().cast("array<bigint>"))
    return toks.select(F.col(id_col), F.explode(arr).alias("h"))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document: mh_i = MIN over shingles of
    (a_i·h(shingle) + b_i) mod p. ONE md5 per shingle + k cheap integer
    permutations (k separate salted md5s would dominate the runtime),
    aggregated in a single groupBy pass over the in-lambda base hashes
    (``minhash_base_hashes`` — no shingle string ever materialized)."""
    sh = minhash_base_hashes(df, text_col, id_col, shingle_n)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature into (id, band, band_key) — docs agreeing on all
    rows of any band land in the same bucket.

    Single pass: one explode of a per-row band array (a union of per-band
    selects would recompute the signature pipeline `bands` times)."""
    structs = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        structs.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("band_key")
            )
        )
    return sig.select(F.col(id_col), F.explode(F.array(*structs)).alias("_b")).select(
        id_col, F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    bands_df: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket.

    The join key (band, band_key) is the bucket — per-bucket cost is
    |bucket|². ``max_bucket_size`` drops buckets above the cap before
    pair generation: a bucket of k boilerplate docs would emit k²/2
    pairs on ONE shuffle key (the straggler that kills a 1000-executor
    job), and a band key shared by thousands of documents is
    boilerplate, not near-dup signal. Capping trades recall for a
    bounded per-key cost; leave ``None`` for exhaustive candidates.
    """
    if max_bucket_size is not None:
        sizes = bands_df.groupBy("band", "band_key").agg(F.count("*").alias("_bsz"))
        bands_df = (
            bands_df.join(sizes, ["band", "band_key"])
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash → LSH bands → candidate near-dup pairs."""
    assert num_hashes % bands == 0
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    return lsh_candidate_pairs(
        lsh_bands(sig, id_col, bands, num_hashes // bands), id_col, max_bucket_size
    )


def _ranked_shingles(sh: DataFrame, id_col: str) -> DataFrame:
    """Attach (_df, _n, _pos) to each (id, sh_h) row via chained windows:
    global doc-frequency of the shingle, doc size, and the shingle's rank
    inside its doc under the canonical (doc-freq asc, hash asc) order.

    All three are window functions over the SAME relation (no joins —
    a join-based size/DF attach would add two more shuffles), and every
    downstream consumer derives from this one relation so the logical
    plan stays a single tree (see the branch-recompute note in
    ``jaccard_pairs``)."""
    return (
        sh.withColumn("_df", F.count("*").over(W.partitionBy("sh_h")))
        .withColumn("_n", F.count("*").over(W.partitionBy(id_col)))
        .withColumn(
            "_pos", F.row_number().over(W.partitionBy(id_col).orderBy("_df", "sh_h"))
        )
    )


def _prefix_candidates(ranked: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Exact candidate pairs via prefix + positional + index-prefix
    filtering (Bayardo All-Pairs / PPJoin / Xiao et al. / Vernica et al.
    MapReduce set-similarity join).

    Asymmetric prefixes (r12, the PPJoin-family index-prefix reduction):
    the join's PROBE side keeps each document's ``|d| − ⌈t·|d|⌉ + 1``
    canonically-first shingles, but the INDEX side — by convention the
    SMALLER document of the pair — only needs
    ``|d| − ⌈2t/(1+t)·|d|⌉ + 1``: for a qualifying pair with
    |a| ≥ |b|, the overlap o ≥ α = t/(1+t)·(|a|+|b|) ≥ 2t/(1+t)·|b|,
    so the canonically smallest SHARED shingle ranks ≤ |b| − o + 1
    within b's index prefix (and o ≥ t·|a| puts it within a's probe
    prefix). At t = 0.8 the index side shrinks from 0.2·|d| to
    0.11·|d| — the candidate join's build side nearly halves with zero
    recall loss. Role assignment (probe = larger doc, ties by larger
    id) is a total order, so every unordered pair is generated exactly
    once; output is normalized back to id_a < id_b.

    Remaining join conditions, all necessary conditions evaluated on
    that smallest shared shingle (so the pair always survives through
    it):

    - size filter: t·|a| ≤ |b| (probe is the larger side by role);
    - PPJoin positional bound: common shingles all rank ≥ the smallest
      one, so o ≤ 1 + min(|a|−pos_a, |b|−pos_b), which must reach the
      required overlap α — prunes matches that sit too late in either
      prefix.
    """
    # ceil(t·n) with a downward epsilon: fp noise making t·n = k + 1e-16
    # would shorten the prefix below the lossless bound; erring toward a
    # longer prefix only adds candidates (verify stays exact)
    probe_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
    idx_frac = 2.0 * threshold / (1.0 + threshold)
    index_len = F.col("_n") - F.ceil(F.lit(idx_frac) * F.col("_n") - F.lit(1e-9)) + 1
    # the index side STACKS its (tighter) filter on top of the probe
    # prefix instead of filtering `ranked` independently: both join
    # inputs then share one canonical subplan below the extra filter,
    # so on the recompute path (persist off) Catalyst's ReuseExchange
    # can still serve the expensive window pipeline once — two
    # independent filters would make the sides non-identical and
    # recompute it per branch
    pref = ranked.filter(F.col("_pos") <= probe_len).select(
        id_col, "sh_h", "_n", "_pos"
    )
    a = pref.alias("a")
    b = pref.filter(F.col("_pos") <= index_len).alias("b")
    na, nb = F.col("a._n"), F.col("b._n")
    aid, bid = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    alpha = F.lit(threshold) / (1 + threshold) * (na + nb) - F.lit(1e-9)
    return (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            # probe = larger doc (ties: larger id) — a strict total order,
            # so each unordered pair joins through exactly one role split
            & ((na > nb) | ((na == nb) & (aid > bid)))
            & (F.lit(threshold) * na - F.lit(1e-9) <= nb.cast("double"))
            & (
                (1 + F.least(na - F.col("a._pos"), nb - F.col("b._pos"))).cast("double")
                >= alpha
            ),
        )
        .select(
            F.least(aid, bid).alias("id_a"), F.greatest(aid, bid).alias("id_b")
        )
        .distinct()
    )


# shingle relations persisted by jaccard_pairs(persist_shingles=True),
# awaiting release — at most one entry in steady state (each new call
# releases its predecessors)
_SHINGLE_CACHE_REGISTRY: list[DataFrame] = []


def release_shingle_caches() -> int:
    """Unpersist every shingle relation persisted by earlier
    ``jaccard_pairs(persist_shingles=True)`` calls. Safe at any time:
    unpersisting only drops cached blocks — a query still referencing the
    relation recomputes it from lineage. Returns the number released."""
    n = 0
    while _SHINGLE_CACHE_REGISTRY:
        rel = _SHINGLE_CACHE_REGISTRY.pop()
        try:
            # blocking: callers use this to bound residency deterministically
            # (a lazy unpersist would leave the blocks counted against the
            # next measurement or workload)
            rel.unpersist(blocking=True)
        except Exception:
            pass  # session already stopped
        n += 1
    return n


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    persist_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, sub-quadratic by default.

    Candidate generation is prefix filtering (``_prefix_candidates``) —
    exact, so the output is identical to an all-pairs shingle join but
    the join keys are each document's rarest shingles only. Verification
    joins the candidate pairs back to the full shingle sets (two
    equi-joins) and computes exact |a∩b| / |a∪b|.

    ``candidates`` overrides the candidate stage with caller-provided
    (id_a, id_b) pairs (e.g. ``minhash_candidates`` for probabilistic
    LSH recall at lower cost). ``max_doc_freq`` additionally drops
    shingles seen in more than that many documents from CANDIDATE
    GENERATION only (verification still uses all shingles, so reported
    jaccard values stay exact) — a recall heuristic for corpora where
    boilerplate dominates even the prefixes; a pair whose every shared
    shingle is boilerplate can be missed, so leave ``None`` for the
    lossless default.

    ``persist_shingles`` caches the ranked shingle relation
    (MEMORY_AND_DISK) so candidate generation and both verify sides read
    one materialization instead of re-running tokenize+explode per branch
    (the Vernica et al. staged design). Results are identical either way;
    see the recompute-vs-persist trade note below for when to flip it.

    Cache lifecycle: each ``persist_shingles=True`` call first releases
    the relations persisted by PREVIOUS calls (their queries only lose
    cached blocks — lineage recomputes if one is somehow still running),
    so repeated invocations in one session hold at most ONE shingle
    relation resident instead of accumulating several×-corpus-size
    residency per call. Call ``release_shingle_caches()`` when done to
    drop the last one too (bench/correctness sweeps do).
    """
    # join on the xxhash64 of the shingle instead of the shingle string:
    # 8-byte keys shrink the shuffle ~3× and compare faster. A 64-bit
    # collision would miscount an intersection with probability
    # ~(n_distinct)²/2⁶⁵ — ~1e-10 at millions of shingles — far below fp
    # noise elsewhere. r16: the hash is computed INSIDE the shingle
    # transform (hashed_word_shingles) so the string is never built —
    # ~1.6× on the whole query at sf0.1, identical output.
    sh = hashed_word_shingles(df, text_col, id_col, shingle_n)
    # The ranked relation feeds candidate generation AND both verify
    # sides. The branches apply different projections/filters before
    # their exchanges, so Catalyst's ReuseExchange does NOT fire and the
    # tokenize+explode pipeline re-runs per branch (4 scans in the
    # physical plan). Measured at sf0.1 this is the RIGHT trade: the
    # branches stay column-pruned and fully pipelined, while persisting
    # either the narrow (id,hash) or the wide ranked relation benched
    # equal-or-slower cold (cache materialization defeats pruning).
    # Measured at sf0.1 (local[32], cache cleared, min of 3):
    # recompute 3.62 s vs persist_shingles 2.82 s — the crossover has
    # arrived already at this SF, because the window ranking above the
    # tokenize makes each re-run expensive. Persist is the Vernica et
    # al. staged design; its cost is cache residency (MEMORY_AND_DISK —
    # at corpus scale the shingle relation is several × corpus size, so
    # budget executor disk or stay with recompute when storage is the
    # binding constraint).
    rel = _ranked_shingles(sh, id_col)
    if persist_shingles:
        from pyspark import StorageLevel

        release_shingle_caches()
        if max_doc_freq is None:
            # _df only feeds the max_doc_freq candidate filter — when
            # that's off, dropping it before persist cuts the cached
            # relation (the thing that starts spilling at the top ladder
            # rungs) by one long column with identical results
            rel = rel.drop("_df")
        rel = rel.persist(StorageLevel.MEMORY_AND_DISK)
        _SHINGLE_CACHE_REGISTRY.append(rel)
    if candidates is None:
        cand_src = rel
        if max_doc_freq is not None:
            cand_src = rel.filter(F.col("_df") <= max_doc_freq)
        candidates = _prefix_candidates(cand_src, id_col, threshold)
    cand = candidates.select("id_a", "id_b")

    # exact verify: fan each candidate pair out over a's shingles, keep
    # the ones b also has (equi-join on (id_b, sh_h)), count per pair;
    # doc sizes ride along on the verify rows (_n), no extra size join.
    # The verify sides only need (id, sh_h, _n) — when recomputing
    # (persist off), derive them from the RAW shingle relation with a
    # single doc-size window instead of re-running the full ranking
    # (which adds the doc-frequency shuffle over sh_h and the per-doc
    # rarity sort that only candidate generation uses). Same values,
    # ~half the work per verify branch; with persist on, both verify
    # sides read the one cached ranked materialization as before.
    #
    # r17 dead end, measured and NOT taken (guide §1.2 "a fresh
    # implementation of the ideal plan is usually slower at first"):
    # joining the candidates to each doc's whole shingle-hash SET (one
    # array row per doc, map-side, |a∩b| = one codegen array_intersect
    # per pair — no verify windows, no fan-out rows, no re-aggregation)
    # produced identical output and a strictly simpler plan, but under
    # the driver's fresh-JVM 2-warmup/min-of-3 protocol it measured
    # 2.47-2.53 s vs 1.93-2.30 s for this shape (3 alternating fresh
    # sessions each) — the array-building broadcast jobs and extra
    # codegen units cost more wall at sf0.1 than the removed operators,
    # and warm-session A/B was flat. The exploded-verify shape stays;
    # the set-array shape is the right one only when verify input is
    # large relative to fixed per-stage latency.
    if persist_shingles:
        ver = rel
    else:
        ver = sh.withColumn("_n", F.count("*").over(W.partitionBy(id_col)))
    a = ver.select(F.col(id_col), "sh_h", F.col("_n")).alias("a")
    b = ver.select(F.col(id_col), "sh_h", F.col("_n")).alias("b")
    inter = (
        cand.join(a, cand.id_a == F.col(f"a.{id_col}"))
        .join(
            b,
            (cand.id_b == F.col(f"b.{id_col}")) & (F.col("a.sh_h") == F.col("b.sh_h")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("a._n")).alias("na"),
            F.first(F.col("b._n")).alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint over whitespace tokens (occurrence-weighted).

    One groupBy with ``bits`` conditional aggregates — no row blowup.

    r16 dead end, measured and NOT taken: packing the per-bit ±1 sums as
    two 32-bit lane counters per long (bits/2 + 1 aggregate buffers, md5
    projected once below the aggregate, bit_b set iff 2·count_b > n)
    produced identical fingerprints but no win — interleaved min-of-6 at
    sf0.1 twice: 0.73/0.78 s original vs 0.77/0.88 s packed. Whole-stage
    codegen's subexpression elimination already evaluates the md5 once
    per row across all 32 aggregate expressions, and the halved buffer
    count is repaid by the unpack projection, so the simpler plan stays.
    """
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = hash32(F.col("tok"))
    sums = [
        F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s_{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy(id_col).agg(*sums)
    fp = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long")),
        range(bits),
        F.lit(0).cast("long"),
    )
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation
    (label(n) converges to MIN(id) over n's component — a unique
    fixpoint, so any engine/algorithm agrees exactly).

    The driver loop runs O(component diameter) rounds; near-dup clusters
    are shallow (diameter ≲ 5), so a handful of uniform-key shuffles.
    Each round: push labels across edges, take the min per node. This is
    the GraphFrames/Pregel CC without the dependency.

    Each round's labels are ``localCheckpoint``-ed, not just persisted:
    persist caches data but keeps the logical plan, so N rounds nest N
    join/agg plans and Catalyst re-optimization cost (and driver heap)
    grows superlinearly — measured as a driver OOM near round ~10 on a
    plain 1 GiB driver. Checkpointing cuts the lineage so every round
    plans against a leaf. Graphs DEEPER than ``max_iter`` rounds raise
    rather than return a split labeling.
    """
    bi = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        pushed = (
            bi.join(labels, bi.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") < F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausted max_iter with labels still moving: silently returning
        # would split one true component into several "canonical" ids and
        # under-dedup with no signal — refuse instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget); raise max_iter"
        )
    return labels.select(F.col("node").alias(node_col), F.col("label").alias("cluster"))


def dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    shingle_n: int = 3,
    use_lsh: bool = False,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup dedup: Jaccard pairs → connected components →
    (id, cluster) with cluster = min id of the duplicate group; keep rows
    where id == cluster for the deduplicated corpus.

    Default edge generation is the exact prefix-filtered Jaccard join —
    already sub-quadratic, so clusters are deterministic and lossless.
    ``use_lsh=True`` swaps the candidate stage for MinHash-LSH
    (``minhash_candidates``) feeding the same exact Jaccard verify:
    cheaper on corpora whose prefixes are still boilerplate-heavy, but a
    true pair missed by every band (p = (1−j^r)^b, ≈3% per pair at
    j=0.8 with 4 bands × 2 rows) can split a cluster — probabilistic
    recall, not a correctness bug, and the reason it is opt-in.
    """
    if use_lsh:
        cand = minhash_candidates(
            df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket_size
        )
        pairs = jaccard_pairs(df, text_col, id_col, threshold, shingle_n, candidates=cand)
    else:
        pairs = jaccard_pairs(df, text_col, id_col, threshold, shingle_n)
    nodes = df.select(F.col(id_col))
    return connected_components(nodes, pairs, id_col, "id_a", "id_b")


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming — pigeonhole band join.

    Split the ``bits``-bit fingerprint into ``max_hamming + 1`` disjoint
    bit bands: a pair within the radius has too few differing bits to
    touch every band, so it agrees EXACTLY on ≥1 band (lossless, unlike
    MinHash-LSH). Candidates come from per-band equi-joins on the band
    value — uniform ~(bits/(h+1))-bit keys, so per-bucket cost is
    |bucket|² over hash-sized buckets instead of an O(n²) theta join —
    then the exact Hamming verify runs on candidates only.
    """
    s = simhash(df, text_col, id_col, bits)
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    structs, off = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        band_val = F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << width) - 1))
        structs.append(F.struct(F.lit(i).alias("band"), band_val.alias("val")))
        off += width
    bands = s.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*structs)).alias("_b")
    ).select(id_col, "simhash", F.col("_b.band").alias("band"), F.col("_b.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _ws_tokens(col):
    """Whitespace tokenization with NO phantom empties: ``F.split`` keeps
    edge empty strings for leading/trailing whitespace (``F.trim`` strips
    only ASCII space, not tab/newline), which would shift every span
    offset and leak separators into rebuilt text. Filtering empties makes
    the token model exactly Python's ``text.split()`` on ASCII input —
    the reference the parity tests and the q73 oracle compute against."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


# second-lane salt for the 128-bit gram digest: any fixed non-default
# value works — it only has to make lane 2 a differently-keyed xxhash64
# than lane 1 (xxhash64 of (salt, gram) vs xxhash64 of (gram,))
_GRAM_SALT = 0x9E3779B9


def _gram_digest(g):
    """128-bit shuffle key for a gram string: two differently-keyed
    xxhash64 lanes as a struct. A false duplicate-gram group needs BOTH
    lanes to collide simultaneously, so the effective key is 128-bit:
    expected colliding pairs ≈ G²/2^129 ≈ 1.5e-15 at G = 10^12 grams
    (one day of a 100 TB corpus), vs ~27k false groups for one 64-bit
    lane at the same G. Struct-of-two-longs (16 bytes) shuffles cheaper
    than the 32-byte md5 hex alternative and stays codegen-friendly."""
    return F.struct(
        F.xxhash64(g).alias("h1"), F.xxhash64(F.lit(_GRAM_SALT), g).alias("h2")
    )


def _dup_gram_positions(
    df: DataFrame, text_col: str, id_col: str, n: int, mark: str
) -> DataFrame:
    """(id, pos) rows for every duplicated word n-gram occurrence.

    ``mark="all"``: every occurrence of an n-gram that appears more than
    once in the corpus (intra- or cross-document). ``mark="keep_first"``:
    all but the canonical first occurrence (lowest ``(id, pos)``) — the
    Lee et al. 2022 exact-substring-dedup semantic, where one copy of the
    repeated text survives.

    Scale shape: one map-side posexplode, then ONE hash shuffle on the
    gram digest. "all" uses groupBy+count then a hash join back — AQE's
    skew-join splits the viral-boilerplate gram that a window over the
    digest could not. "keep_first" needs a total order per gram, so a
    row_number window over the digest is unavoidable; its skew bound is
    the hottest single n-gram's occurrence count.

    The digest is 128-bit (see ``_gram_digest``): a single 64-bit key is
    exact at test scale but at ~10^12 corpus grams birthday collisions
    would manufacture tens of thousands of false duplicate-gram groups,
    each able to cut a legitimate span — silent corruption of the removal
    half. With 128 bits the expected number of colliding pairs at 10^12
    grams is ~1.5e-15.
    """
    toks = df.select(
        F.col(id_col), _ws_tokens(F.col(text_col)).alias("_w")
    ).where(F.size("_w") >= n)
    gram = lambda i: _gram_digest(  # noqa: E731
        F.concat_ws(" ", *[F.element_at(F.col("_w"), i + j) for j in range(n)])
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(1), F.size("_w") - (n - 1)), gram)
        ).alias("pos", "_g"),
    )
    if mark == "all":
        counts = grams.groupBy("_g").agg(F.count("*").alias("_c")).where("_c > 1")
        return grams.join(counts, "_g").select(id_col, "pos")
    if mark == "keep_first":
        # _rn > 1 alone implies the gram occurs more than once — a
        # count-over-window conjunct would be a second full window
        # aggregate over the exploded gram set for nothing
        w = W.partitionBy("_g").orderBy(F.col(id_col), F.col("pos"))
        return (
            grams.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > 1)
            .select(id_col, "pos")
        )
    raise ValueError(f"mark must be 'all' or 'keep_first', got {mark!r}")


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    mark: str = "all",
) -> DataFrame:
    """Exact substring dedup, detection half (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every maximal token
    span covered by word n-grams that occur more than once in the corpus.

    A true distributed suffix array is not a Spark shape; the standard
    scalable approximation is n-gram fingerprinting — any duplicated
    substring of ≥ n tokens is covered end-to-end by duplicated n-grams,
    so merging overlapping/adjacent duplicated n-gram intervals
    ``[pos, pos+n)`` recovers the maximal duplicated spans exactly (for
    spans ≥ n; shorter repeats are below the dedup threshold by design).

    Returns one row per document that contains at least one duplicated
    span: ``(id, spans array<struct<span_start,span_end>>, n_spans,
    dup_tokens)`` with 0-based token offsets, end exclusive.

    Merge semantics: intervals merge when the gap between consecutive
    duplicated gram starts is ≤ n (overlapping or token-contiguous runs).
    Islands via the classic gaps-and-islands window — two narrow shuffles
    on ``id`` after the gram shuffle, all codegen, no UDFs.
    """
    dup = _dup_gram_positions(df, text_col, id_col, n, mark)
    w = W.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > n), 1).otherwise(0)
    islands = dup.withColumn("_isl", F.sum(brk).over(w))
    spans = islands.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("span_start"), (F.max("pos") + n).alias("span_end")
    )
    return spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
