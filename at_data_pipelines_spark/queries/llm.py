"""LLM-training-data operator queries over documents/embeddings.

First tranche: exact dedup, token statistics, prefix fingerprinting.
(MinHash-LSH, SimHash, n-gram Jaccard, embedding ANN land in the llmops
module with their own oracle queries.)

Scale notes: all of these are single-pass groupBy-on-digest shapes — the
canonical 100 TB dedup plan (hash shuffle on the digest, map-side partial
aggregation, no skew since digests are uniform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .registry import register


# --------------------------------------------------------------------------
# q40 — exact-dedup census, both fingerprint families union-tagged in one
#        query: full-content md5 (keep-lowest-id per group) and the
#        first-5-token prefix digest (a cheap near-dup candidate
#        generator). Each branch is the canonical single-pass
#        groupBy-on-digest dedup plan; the union costs nothing extra since
#        the branches share the documents scan.
# --------------------------------------------------------------------------
@register(
    "q40_exact_dedup",
    oracle="""
    SELECT 'content' AS kind, md5(text) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    UNION ALL
    SELECT 'prefix',
           md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')),
           MIN(doc_id), COUNT(*)
    FROM documents
    GROUP BY 2
    """,
)
def q40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    content = d.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select(F.lit("content").alias("kind"), "fingerprint", "keep_id", "n_copies")
    prefix_fp = F.md5(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " "))
    prefix = d.groupBy(prefix_fp.alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select(F.lit("prefix").alias("kind"), "fingerprint", "keep_id", "n_copies")
    return content.unionByName(prefix)


# --------------------------------------------------------------------------
# q41 — per-document text features in ONE projection pass: whitespace token
#        stats, stopword-ratio quality heuristics (reference-free corpus
#        filtering), BPE-ish regex token counts (LLM token-count proxy:
#        letter runs, digit runs, punctuation marks — Java and RE2-family
#        engines agree on this character-class-only pattern), and the
#        marker-lexicon language-ID hit counts + argmax prediction
#        (deterministic tiebreak = lexicographically greatest code, 'und'
#        when nothing fires). One scan over documents computes all of
#        them; splitting these into separate queries would re-read and
#        re-tokenize the corpus per feature family.
# --------------------------------------------------------------------------
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

from ..llmops.text import LANG_MARKERS  # noqa: E402

_Q41_LANG_HIT_SQL = ",\n".join(
    f"LEN(list_filter(string_split(text, ' '), t -> list_contains({LANG_MARKERS[c]!r}, t))) AS {c}_hits"
    for c in sorted(LANG_MARKERS)
)
_Q41_LANG_CASE_SQL = " ".join(
    f"WHEN {c}_hits = best AND best > 0 THEN '{c}'"
    for c in sorted(LANG_MARKERS, reverse=True)
)


@register(
    "q41_text_features",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id, lang, source,
               n_chars,
               LEN(string_split(text, ' ')) AS n_tokens,
               ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                     / LEN(string_split(text, ' ')), 6) AS avg_token_len,
               LEN(list_filter(string_split(text, ' '),
                   t -> list_contains({_STOPWORDS!r}, t))) AS n_stopwords,
               ROUND(CAST(LEN(list_filter(string_split(text, ' '),
                   t -> list_contains({_STOPWORDS!r}, t))) AS DOUBLE)
                     / LEN(string_split(text, ' ')), 6) AS stopword_ratio,
               LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                 AS n_bpe_tokens,
               {_Q41_LANG_HIT_SQL}
        FROM documents),
    best AS (SELECT *, GREATEST(de_hits, en_hits, es_hits, fr_hits) AS best FROM feats)
    SELECT doc_id, lang, source, n_chars, n_tokens, avg_token_len,
           n_stopwords, stopword_ratio, n_bpe_tokens,
           de_hits, en_hits, es_hits, fr_hits,
           CASE {_Q41_LANG_CASE_SQL} ELSE 'und' END AS lang_pred
    FROM best
    """,
)
def q41_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.text import bpe_tokens, langid

    d = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    sw = F.array([F.lit(s) for s in _STOPWORDS])
    # count stopword OCCURRENCES (not distinct), matching the SQL list_filter
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
    hit_cols = []
    for code in sorted(LANG_MARKERS):
        markers = F.array([F.lit(m) for m in LANG_MARKERS[code]])
        hit_cols.append(
            F.size(F.filter(tokens, lambda t: F.array_contains(markers, t))).alias(f"{code}_hits")
        )
    return langid(d, "text").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(tokens).alias("n_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(tokens),
            6,
        ).alias("avg_token_len"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / F.size(tokens), 6).alias("stopword_ratio"),
        F.size(bpe_tokens(F.col("text"))).alias("n_bpe_tokens"),
        *hit_cols,
        "lang_pred",
    )


# --------------------------------------------------------------------------
# q44 — word frequency via explode (R4) — corpus vocabulary census.
# --------------------------------------------------------------------------
@register(
    "q44_word_frequency",
    oracle="""
    SELECT word, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def q44_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    return words.groupBy("word").agg(
        F.count("*").alias("freq"), F.countDistinct("doc_id").alias("n_docs")
    )


# shared oracle CTE: distinct 3-word shingles per doc (DuckDB 1-based lists)
_SH_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(LEN(w)-1, 1)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks)
"""

_NUM_HASHES = 8
_BANDS = 4  # 4 bands × 2 rows

from ..llmops.dedup import MINHASH_PRIME, minhash_coefficients  # noqa: E402

_MH_COLS_SQL = ",\n".join(
    f"MIN(({a}*(('0x'||substr(md5(shingle),1,7))::BIGINT)+{b}) % {MINHASH_PRIME}) AS mh_{i}"
    for i, (a, b) in enumerate(minhash_coefficients(_NUM_HASHES))
)
_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, md5(CAST(mh_{2*b} AS VARCHAR)||','||CAST(mh_{2*b+1} AS VARCHAR)) AS band_key FROM mh"
    for b in range(_BANDS)
)


# --------------------------------------------------------------------------
# q45 — MinHash + LSH candidate pairs (8 hashes, 4 bands × 2 rows).
#        Hashes are md5-hex-prefix int64s → engine-independent.
# --------------------------------------------------------------------------
@register(
    "q45_minhash_lsh_candidates",
    oracle=f"""
    WITH {_SH_SQL},
    mh AS (SELECT doc_id, {_MH_COLS_SQL} FROM sh GROUP BY doc_id),
    bands AS ({_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def q45_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import minhash_candidates

    d = load_table(spark, sf_dir, "documents")
    return minhash_candidates(
        d, "text", "doc_id", num_hashes=_NUM_HASHES, bands=_BANDS, shingle_n=3
    )


# --------------------------------------------------------------------------
# q46 — exact n-gram Jaccard near-dup pairs (threshold 0.6).
# --------------------------------------------------------------------------
@register(
    "q46_jaccard_near_dups",
    oracle=f"""
    WITH {_SH_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.6
    """,
)
def q46_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    # persist_shingles=False: the recompute plan re-runs tokenize+explode
    # per branch but stays fully pipelined with zero storage-memory
    # footprint. Measured at sf0.1 (local[32], min-of-3): quiet session
    # persist 2.8 s vs recompute 3.6 s, but in a session carrying prior
    # workload (pipeline DAGs) persist degrades to 6.2-8.4 s — cache
    # materialization fights the pressured heap — while recompute holds
    # 2.5-4.0 s. Robust-under-load beats best-case-quiet for a default;
    # callers with a quiet session and executor storage to spare can
    # still pass persist_shingles=True (lifecycle-managed, see dedup.py).
    return jaccard_pairs(d, "text", "doc_id", threshold=0.6, shingle_n=3)


# --------------------------------------------------------------------------
# q47 — 32-bit SimHash fingerprint per document.
# --------------------------------------------------------------------------
@register(
    "q47_simhash32",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,8))::BIGINT AS th FROM toks),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                    THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
        FROM h, (SELECT UNNEST(range(0, 32)) AS b) bs
        GROUP BY doc_id, b)
    SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q47_simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import simhash

    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "text", "doc_id", bits=32)


# --------------------------------------------------------------------------
# q48 — brute-force cosine top-5 neighbors for query vectors (vec_id < 20).
#        Sequential-fold dot products are bit-identical to DuckDB's
#        list_dot_product (verified empirically).
# --------------------------------------------------------------------------
@register(
    "q48_cosine_top5",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 20),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
        FROM q JOIN n c ON c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs) t
    WHERE rank <= 5
    """,
)
def q48_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id", "cosine", "rank")


# --------------------------------------------------------------------------
# q53 — duplicate clustering: connected components over the Jaccard≥0.6
#        near-dup graph, cluster id = MIN doc_id of the component (unique
#        fixpoint → engine-independent). Spark: iterative min-label
#        propagation; oracle: recursive-CTE transitive closure.
# --------------------------------------------------------------------------
@register(
    "q53_dup_clusters",
    oracle=f"""
    WITH {_SH_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.6),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
        SELECT * FROM r)
    SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a
    """,
)
def q53_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    return dedup_clusters(d, "text", "doc_id", threshold=0.6)


# --------------------------------------------------------------------------
# q51 — SimHash near-dup PAIRS: hamming(simhash) ≤ 4 over all pairs
#        (bit_count(xor) in both engines; at corpus scale the pigeonhole
#        band split in llmops.dedup.simhash_near_dups replaces all-pairs).
# --------------------------------------------------------------------------
_Q47_SIMHASH_CTE = """
    toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,8))::BIGINT AS th FROM toks),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                    THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
        FROM h, (SELECT UNNEST(range(0, 32)) AS b) bs
        GROUP BY doc_id, b),
    sh AS (SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
"""


@register(
    "q51_simhash_near_dup_pairs",
    oracle=f"""
    WITH {_Q47_SIMHASH_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    """,
)
def q51_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import simhash_near_dups

    d = load_table(spark, sf_dir, "documents")
    out = simhash_near_dups(d, "text", "doc_id", max_hamming=4, bits=32)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --------------------------------------------------------------------------
# q42 — corpus-quality filters: Gopher/RefinedWeb-style repetition metrics
#        (top-2-gram fraction, duplicate-2-gram fraction — boilerplate and
#        degenerate-repetition signals) plus eval-set decontamination
#        (5-gram overlap against a held-out set, here doc_id % 97 == 0):
#        the standard pre-training hygiene pass over a raw corpus.
# --------------------------------------------------------------------------
@register(
    "q42_quality_filters",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g2 AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, GREATEST(LEN(w), 1)),
                      i -> w[i] || ' ' || w[i+1])) AS g
        FROM toks),
    per AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
    rep AS (
        SELECT doc_id, MAX(c) AS max_c, SUM(c) AS n_grams,
               COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS dup_occ
        FROM per GROUP BY doc_id),
    g5 AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(LEN(w)-3, 1)),
                      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS g
        FROM toks),
    ev AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0),
    overl AS (
        SELECT g5.doc_id, COUNT(*) AS n_overlap
        FROM g5 JOIN ev USING (g)
        WHERE g5.doc_id % 97 <> 0
        GROUP BY g5.doc_id)
    SELECT d.doc_id,
           CAST(r.n_grams AS BIGINT) AS n_2grams,
           ROUND(CAST(r.max_c AS DOUBLE) / r.n_grams, 6) AS top_2gram_frac,
           ROUND(CAST(r.dup_occ AS DOUBLE) / r.n_grams, 6) AS dup_2gram_frac,
           COALESCE(o.n_overlap, 0) AS n_eval_overlap,
           COALESCE(o.n_overlap, 0) > 0 AS contaminated
    FROM documents d
    JOIN rep r USING (doc_id)
    LEFT JOIN overl o USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    """,
)
def q42_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.text import decontamination_overlap, repetition_metrics

    d = load_table(spark, sf_dir, "documents")
    rep = repetition_metrics(d, "text", "doc_id", n=2)
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    decon = decontamination_overlap(corpus, eval_docs, "text", "doc_id", n=5)
    return (
        corpus.select("doc_id")
        # inner: docs with < 2 tokens have no 2-grams (none in this corpus)
        .join(rep, "doc_id")
        .join(decon, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").alias("n_2grams"),
            F.col("top_gram_frac").alias("top_2gram_frac"),
            F.col("dup_gram_frac").alias("dup_2gram_frac"),
            F.coalesce(F.col("n_eval_overlap"), F.lit(0)).alias("n_eval_overlap"),
            (F.coalesce(F.col("n_eval_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# q49 — embedding-cosine near-dup pairs (threshold 0.45): the embedding
#        flavor of dedup. Registered plan is the EXACT blocked distributed
#        GEMM (llmops.similarity.cosine_threshold_pairs_blocked): hash
#        vectors into B blocks, one fp64 matmul per block pair emits only
#        candidates ≥ t − 1e-9, then the order-deterministic fold cosine
#        (bit-identical to DuckDB list_dot_product) applies the exact cut.
#        Shuffle volume is O(n·B) rows and B(B+1)/2 uniform matmul tasks —
#        never an O(n²)-row theta join. LSH/IVF candidates are deliberately
#        NOT used here: at t=0.45 on near-isotropic embeddings the LSH
#        exponent is ρ≈0.62 (p₁≈0.65 vs p₂=0.5 per hyperplane bit), so any
#        affordable table count leaves a miss probability that would break
#        the exact oracle contract.
# --------------------------------------------------------------------------
@register(
    "q49_embedding_near_dups",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
    """,
)
def q49_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.similarity import cosine_threshold_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_threshold_pairs_blocked(emb, threshold=0.45, n_blocks=8)


# --------------------------------------------------------------------------
# q50 — temperature-flattened domain mixture plan: the mT5/XLM-R
#        rebalancing rule (w_s ∝ n_s^T) plus the largest-total-size
#        NO-UPSAMPLING keep fractions (T_size = min_s n_s/w_s, keep
#        w_s·T_size/n_s). This puts llmops.sampling's mixture math —
#        previously only pytest-checked — under the DuckDB oracle gate:
#        the result is the per-source resampling plan a 100 TB curation
#        run would execute via stratified_sample. Counts are one
#        aggregate row per source (tiny collect, same class as a
#        partition listing); pow/div parity is double-precision on both
#        sides, rounded to 6 per the registry determinism policy.
# --------------------------------------------------------------------------
@register(
    "q50_temperature_mixture",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT source, n, POW(CAST(n AS DOUBLE), 0.7) AS raw FROM c),
    z AS (SELECT SUM(raw) AS z FROM t),
    w AS (SELECT source, n, raw / z AS w FROM t, z),
    ts AS (SELECT MIN(n / w) AS tsize FROM w WHERE w > 0)
    SELECT source, n AS n_docs,
           ROUND(w, 6) AS target_share,
           ROUND(LEAST(1.0, w * tsize / n), 6) AS keep_frac
    FROM w, ts
    """,
)
def q50_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.sampling import mixture_fractions, temperature_weights

    d = load_table(spark, sf_dir, "documents")
    weights = temperature_weights(d, temperature=0.7, strata_col="source")
    fracs = mixture_fractions(d, weights, strata_col="source")
    counts = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    rows = [
        (s, counts[s], round(weights[s], 6), round(fracs[s], 6))
        for s in sorted(counts)
    ]
    return d.sparkSession.createDataFrame(
        rows, "source string, n_docs long, target_share double, keep_frac double"
    )


# --------------------------------------------------------------------------
# q65 — BM25 ranked retrieval: top-10 documents for a 3-term query, the
#        inverted-postings plan from llmops/retrieval.py (term-filtered
#        explode before the shuffle, broadcast df/corpus stats, fixed-order
#        score addition for cross-engine bit-reproducibility).
# --------------------------------------------------------------------------
@register(
    "q65_bm25_search",
    oracle="""
    WITH base AS (SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'), t -> t <> '')
                         AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    st AS (SELECT tf.doc_id, tf.term,
                  ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                    * (tf * 2.2)
                    / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
           FROM tf JOIN dfq USING (term)
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN corpus),
    agg AS (SELECT doc_id,
                   COALESCE(SUM(CASE WHEN term = 'spark'  THEN s END), 0)
                 + COALESCE(SUM(CASE WHEN term = 'join'   THEN s END), 0)
                 + COALESCE(SUM(CASE WHEN term = 'window' THEN s END), 0) AS sc
            FROM st GROUP BY doc_id)
    SELECT doc_id, ROUND(sc, 6) AS score FROM agg
    ORDER BY ROUND(sc, 6) DESC, doc_id LIMIT 10
    """,
)
def q65_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.retrieval import bm25_search

    d = load_table(spark, sf_dir, "documents")
    return bm25_search(d, ["spark", "join", "window"], top_k=10)


# --------------------------------------------------------------------------
# q70 — fixed-width overlapping character chunking (llmops/packing.py's
#        chunk_documents): 200-char windows, 50-char overlap (stride
#        150). Pure codegen sequence+posexplode+substring; the oracle
#        replays the identical window arithmetic with range/substr, so
#        chunk boundaries, overlap bytes, and the empty-text edge all
#        sit under exact parity.
# --------------------------------------------------------------------------
@register(
    "q70_chunk_documents",
    oracle="""
    WITH d AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
    x AS (
      SELECT doc_id, t,
             unnest(range(1 + CAST(ceil(greatest(length(t) - 200, 0) / 150.0) AS INT)))
               AS chunk_id
      FROM d
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 150 AS BIGINT) AS chunk_start,
           substr(t, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text
    FROM x
    ORDER BY doc_id, chunk_id
    """,
)
def q70_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.packing import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_chars=200, overlap=50).orderBy(
        "doc_id", "chunk_id"
    )


# --------------------------------------------------------------------------
# q73 — exact substring dedup (Lee et al. 2022): maximal duplicated word
#        8-gram spans per document (llmops/dedup.py duplicate_ngram_spans,
#        mark="all"). Spark groups occurrences by xxhash64 of the gram;
#        the oracle groups by the gram string itself — the same partition
#        of occurrences barring a 64-bit collision, so spans (the only
#        output) agree exactly. Islands merge when consecutive duplicated
#        gram starts are ≤ n apart (overlapping or token-contiguous).
#        Oracle tokenizer: separator class spelled out as [ \t\n\v\f\r]+
#        = Java's \s exactly (RE2's \s lacks \v, which would tokenize
#        \v-containing text differently than Spark), empties filtered —
#        the same no-phantom-token model as llmops.dedup._ws_tokens.
# --------------------------------------------------------------------------
@register(
    "q73_dup_ngram_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+'),
                         x -> x <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, pos, array_to_string(t[pos+1 : pos+8], ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(range(len(t) - 7)) AS pos) _
      WHERE len(t) >= 8
    ), d AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM g
      ) WHERE c > 1
    ), isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM d)
    ), sp AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(e - s) AS BIGINT) AS dup_tokens,
           CAST(min(s) AS BIGINT) AS first_start,
           CAST(max(e) AS BIGINT) AS last_end
    FROM sp GROUP BY doc_id ORDER BY doc_id
    """,
)
def q73_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmops.dedup import duplicate_ngram_spans

    d = load_table(spark, sf_dir, "documents")
    spans = duplicate_ngram_spans(d, "text", "doc_id", n=8, mark="all")
    return spans.select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.element_at("spans", 1)["span_start"].cast("long").alias("first_start"),
        F.element_at("spans", -1)["span_end"].cast("long").alias("last_end"),
    ).orderBy("doc_id")
