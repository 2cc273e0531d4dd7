"""Similarity search over embedding columns (``array<float>``).

- **Exact top-k** (``cosine_topk``, q48): brute-force cosine via JVM-side
  sequential fold (``zip_with`` + ``aggregate``) — deterministic,
  oracle-matchable, stays in codegen. Cost O(|queries| × |corpus| × d):
  right when the query set is small/broadcastable.
- **Exact threshold join** (``cosine_threshold_pairs_blocked``, q49):
  all pairs with cosine ≥ t as a blocked distributed GEMM.
- **IVF-PQ index** (``ivfpq_train`` / ``ivfpq_encode`` / ``ivfpq_probe``):
  the approximate index that ``ann_index`` persists and the streaming
  ANN sink maintains.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — order-deterministic (matches DuckDB's
    list_dot_product exactly)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors (cosine) for each query vector.

    queries is broadcast (small side); per-query ranking via row_number —
    Spark turns the window-over-rank into a per-partition top-k.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce")
    ).withColumn("cn", norm(F.col("ce")))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qe")).withColumn(
        "qn", norm(F.col("qe"))
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    ranked = pairs.select("query_id", "neighbor_id", cos.alias("cosine")).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k)


def cosine_threshold_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-9,
) -> DataFrame:
    """EXACT cosine-threshold self-join (all pairs with cosine ≥ t) as a
    blocked distributed GEMM — the scale shape for exact semantics on
    dense embeddings.

    Why not LSH/IVF candidates: exactness at a low threshold on
    near-isotropic embeddings is the hard regime for data-oblivious
    hashing. At t=0.45 a qualifying pair collides on one hyperplane bit
    with p₁ = 1 − arccos(t)/π ≈ 0.65 vs p₂ = 0.5 for background → LSH
    exponent ρ = ln p₁/ln p₂ ≈ 0.62, so guaranteed-recall candidate
    generation needs hundreds of OR-amplified tables, and any finite
    table count leaves a nonzero miss probability that breaks the exact
    contract. (This fixture measures exactly that: qualifying pairs sit
    at 0.455–0.60 over a ≈0.37 background.) The honest exact plan does
    the O(n²) FLOPs — but as per-task BLAS matmuls with O(n·B) data
    movement, never as an O(n²)-row shuffle:

    1. hash each vector into one of B blocks (uniform keys);
    2. replicate each vector B times keyed by the (lo, hi) block pair it
       participates in — total shuffle volume n·B rows, task count
       B(B+1)/2, each task a ~(n/B)² matmul → pick B ≈ √tasks_wanted;
    3. inside each group, one fp64 GEMM emits only pairs with
       approx-cosine ≥ t − margin (candidates, not the full product);
    4. re-derive the cosine JVM-side with the order-deterministic
       sequential fold (bit-identical to DuckDB's list_dot_product) and
       apply the exact ≥ t cut. The GEMM margin (default 1e-9) covers
       fp reassociation — a 64-dim fp64 dot differs from the fold by
       ≲1e-14 — so stage 3 never prunes a true pair.
    """
    emb = corpus.select(F.col(id_col), F.col(vec_col))
    # pair schema follows the id column's type (long ids, string ids, ...);
    # ordering inside a pair is the id type's natural order in both the
    # numpy kernel below and any downstream join
    id_type = corpus.schema[id_col].dataType.simpleString()
    pair_schema = f"id_a {id_type}, id_b {id_type}"
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    partners = F.explode(F.array([F.lit(i) for i in range(n_blocks)])).alias("p")
    # each vector lands in a block-pair group (lo, hi) exactly once per
    # distinct partner value — no dedup filter is needed (and none would
    # do anything: either blk or p IS the least by construction)
    keyed = (
        emb.withColumn("blk", blk)
        .select(id_col, vec_col, "blk", partners)
        .withColumn("lo", F.least("blk", "p"))
        .withColumn("hi", F.greatest("blk", "p"))
    )
    lo_t = float(threshold) - float(margin)

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["lo"].iloc[0]), int(pdf["hi"].iloc[0])
        id_dtype = pdf[id_col].dtype
        empty = pd.DataFrame({"id_a": pd.Series(dtype=id_dtype), "id_b": pd.Series(dtype=id_dtype)})

        def side(mask):
            sub = pdf[mask]
            m = np.stack(sub[vec_col].to_numpy()).astype(np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            return sub[id_col].to_numpy(), m
        if lo == hi:
            if not (pdf["blk"] == lo).any():
                return empty  # empty hash block (tiny corpus, many blocks)
            ids_a, A = side(pdf["blk"] == lo)
            sims = A @ A.T
            ii, jj = np.nonzero(np.triu(sims >= lo_t, k=1))
            ia, ib = ids_a[ii], ids_a[jj]
        else:
            if not ((pdf["blk"] == lo).any() and (pdf["blk"] == hi).any()):
                return empty  # one side's hash block is empty
            ids_a, A = side(pdf["blk"] == lo)
            ids_b, B = side(pdf["blk"] == hi)
            ii, jj = np.nonzero(A @ B.T >= lo_t)
            ia, ib = ids_a[ii], ids_b[jj]
        # elementwise comparison works for numeric and string/object ids
        # alike (np.minimum's numeric-only fast path does not)
        a_first = ia <= ib
        return pd.DataFrame(
            {"id_a": np.where(a_first, ia, ib), "id_b": np.where(a_first, ib, ia)}
        )

    cand = (
        keyed.groupBy("lo", "hi")
        .applyInPandas(gemm, pair_schema)
    )
    a = emb.select(F.col(id_col).alias("id_a"), _as_double(vec_col).alias("ea"))
    b = emb.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("eb"))
    cos = dot(F.col("ea"), F.col("eb")) / (norm(F.col("ea")) * norm(F.col("eb")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _train_sample_vectors(
    corpus: DataFrame, vec_col: str, n: int, seed: int
) -> np.ndarray:
    """Seeded, layout-independent draw of ``n`` training vectors: order by
    a salted ``xxhash64`` of the vector and take the first ``n``. Spark
    compiles orderBy+limit into TakeOrderedAndProject (per-partition
    top-n then a driver merge — one scan, no global sort shuffle), and
    the hash order is a property of the VALUES, so a source- or
    date-clustered corpus yields exactly the same sample as a shuffled
    one. A bare ``limit(n)`` instead trains the quantizer on whichever
    partitions the scan lists first — on a clustered corpus, one corner
    of the embedding space."""
    rows = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.lit(int(seed)), F.col(vec_col)))
        .limit(int(n))
        .collect()
    )
    return np.stack([r[0] for r in rows])


def kmeans_fit(vectors: np.ndarray, k: int, iters: int = 20, seed: int = 42) -> np.ndarray:
    """Plain numpy Lloyd's k-means (cosine space: vectors and centroids
    L2-normalized). Deterministic seed; good enough for an IVF coarse
    quantizer (sklearn absent in this environment)."""
    rng = np.random.default_rng(seed)
    X = np.asarray(vectors, dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
    return C


def pq_fit(
    vectors: np.ndarray, m: int = 8, k: int = 16, iters: int = 15, seed: int = 42
) -> np.ndarray:
    """Product-quantization codebooks: split the (L2-normalized) vector
    into ``m`` subspaces and run k-means with ``k`` centroids in each —
    returns (m, k, d/m). The classic memory/compute compression for
    billion-scale ANN (FAISS IVFPQ's quantizer): a d-dim float vector
    becomes m small codes."""
    X = np.asarray(vectors, dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    n, d = X.shape
    assert d % m == 0, "dim must divide into m subspaces"
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        C = sub[rng.choice(n, size=k, replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def ivfpq_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    train_sample: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Train the IVF coarse quantizer and residual PQ codebooks on a
    corpus sample: returns ``(centroids (n_centroids, d), codebooks
    (m, k, d/m))`` — the few-KB state that ``ann_index`` persists."""
    sample = _train_sample_vectors(corpus, vec_col, train_sample, seed).astype(
        np.float64
    )
    sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    C = kmeans_fit(sample, n_centroids, seed=seed)
    assign = (sample @ C.T).argmax(axis=1)
    books = pq_fit(sample - C[assign], m, k, seed=seed)
    return C, books


def ivfpq_encode(
    corpus: DataFrame,
    C: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign + residual-encode the corpus in one Arrow pass →
    ``(id, centroid, codes array<int>)`` — the compressed inverted-file
    representation the ADC scan reads (persistable via ``ann_index``)."""
    m, _, dsub = books.shape

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            X = X / np.linalg.norm(X, axis=1, keepdims=True)
            cid = (X @ C.T).argmax(axis=1)
            R = X - C[cid]
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                sub = R[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "centroid": cid, "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, centroid long, codes array<int>"
    )


def ivfpq_probe(
    enc: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    C: np.ndarray,
    books: np.ndarray,
    topk: int = 10,
    n_probe: int = 4,
    n_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a pre-encoded IVF+PQ corpus: ADC scan over the queries'
    ``n_probe`` nearest lists, then the exact fold-cosine re-rank against
    the original vectors."""
    m, k, dsub = books.shape
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qe"))
    qrows = q.collect()
    qids = np.array([r.query_id for r in qrows])
    Q = np.array([r.qe for r in qrows], dtype=np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probes = np.argsort(-(Q @ C.T), axis=1)[:, :n_probe]  # (nq, n_probe)
    # per (query, probed centroid) residual distance tables (m, k)
    probe_rows = []
    for qi in range(len(qids)):
        for cid in probes[qi]:
            r = Q[qi] - C[cid]
            table = np.empty((m, k))
            for j in range(m):
                sub = r[j * dsub : (j + 1) * dsub]
                table[j] = ((books[j] - sub[None, :]) ** 2).sum(axis=1)
            probe_rows.append((int(qids[qi]), int(cid), table))
    # group tables by centroid for the scan closure
    by_centroid: dict[int, list[tuple[int, np.ndarray]]] = {}
    for qid, cid, table in probe_rows:
        by_centroid.setdefault(cid, []).append((qid, table))

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for cid, grp in pdf.groupby("centroid"):
                hits = by_centroid.get(int(cid))
                if not hits:
                    continue
                codes = np.stack(grp["codes"].to_numpy())
                nids = grp[id_col].to_numpy()
                for qid, table in hits:
                    dist = np.zeros(len(nids))
                    for j in range(m):
                        dist += table[j, codes[:, j]]
                    keep = min(n_candidates, len(nids))
                    part = np.argpartition(dist, keep - 1)[:keep]
                    out.extend((qid, int(nids[r]), float(dist[r])) for r in part)
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "adc"])

    partial = enc.mapInPandas(adc, "query_id long, neighbor_id long, adc double")
    cand = (
        partial.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
            ),
        )
        .filter(F.col("rank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce"))
    cos = dot(F.col("qe"), F.col("ce")) / (norm(F.col("qe")) * norm(F.col("ce")))
    return (
        cand.join(c, "neighbor_id")
        .join(q, "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
            ),
        )
        .filter(F.col("rank") <= topk)
    )
