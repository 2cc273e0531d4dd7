"""Persistent ANN indexes: IVF+PQ training state and encoded corpus as
lakehouse tables, so an index built once is reusable across jobs and
streams (the shape ``streaming/ingest.py`` already uses for its MinHash
band index).

What persists, and why these shapes:

- ``{prefix}_centroids`` — (centroid, vector): the IVF coarse quantizer,
  ``n_centroids`` rows. PK ``centroid``.
- ``{prefix}_codebooks`` — (subspace, code, vector): the residual PQ
  codebooks, ``m·k`` rows. PK (subspace, code).
- ``{prefix}_codes`` — (id, centroid, codes): the encoded corpus — the
  expensive artifact (one Arrow pass over every vector). PK ``id``, so
  re-encoding a changed document is a plain lakehouse upsert and a
  streaming ingest can maintain the index incrementally.

Training state totals a few KB; it rides the lakehouse rather than a
driver pickle so any job (or language) can read it, and so index and
corpus stay versioned together under the same commit protocol.

Scale: probes read ``{prefix}_codes`` — a partition-prunable scan of m
small ints per vector instead of d floats — and the few-KB quantizer
state is closure-broadcast into ``similarity.ivfpq_probe``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..catalog import Lakehouse
from .similarity import ivfpq_encode, ivfpq_probe, ivfpq_train

_CENTROIDS_SCHEMA = T.StructType(
    [
        T.StructField("centroid", T.IntegerType(), False),
        T.StructField("vector", T.ArrayType(T.DoubleType()), False),
    ]
)
_CODEBOOKS_SCHEMA = T.StructType(
    [
        T.StructField("subspace", T.IntegerType(), False),
        T.StructField("code", T.IntegerType(), False),
        T.StructField("vector", T.ArrayType(T.DoubleType()), False),
    ]
)


@dataclass
class IvfPqIndex:
    """In-memory handle on trained IVF+PQ state."""

    centroids: np.ndarray  # (n_centroids, d)
    codebooks: np.ndarray  # (m, k, d/m)


def train_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    train_sample: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
) -> IvfPqIndex:
    C, books = ivfpq_train(corpus, n_centroids, m, k, train_sample, seed, vec_col)
    return IvfPqIndex(C, books)


def _codes_schema(id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("centroid", T.LongType(), False),
            T.StructField("codes", T.ArrayType(T.IntegerType()), False),
        ]
    )


def save_index(
    lake: Lakehouse,
    prefix: str,
    index: IvfPqIndex,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
) -> None:
    """Persist the quantizer state (and optionally an encoded corpus)
    as lakehouse tables. A save is a full snapshot REPLACE: a retrained
    quantizer invalidates every row of the previous one, and PK-merging
    would leave stale centroid/codebook rows behind when the new geometry
    is smaller (fewer centroids, smaller m·k) — ``load_index`` infers
    dimensions from the stored rows, so those stale rows would silently
    reconstruct a corrupted quantizer. Same for ``{prefix}_codes``: codes
    encoded under the old quantizer are meaningless under the new one.

    Incremental corpus maintenance under an UNCHANGED quantizer (the
    streaming-ingest path) upserts ``{prefix}_codes`` directly via
    ``lake.upsert`` — that is the PK-merge case, and it stays one."""
    spark = lake.spark
    lake.create(f"{prefix}_centroids", _CENTROIDS_SCHEMA, [], ["centroid"], mode="replace")
    lake.create(f"{prefix}_codebooks", _CODEBOOKS_SCHEMA, [], ["subspace", "code"], mode="replace")
    cent = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(index.centroids)],
        _CENTROIDS_SCHEMA,
    )
    m, k, _ = index.codebooks.shape
    books = spark.createDataFrame(
        [
            (j, c, [float(x) for x in index.codebooks[j, c]])
            for j in range(m)
            for c in range(k)
        ],
        _CODEBOOKS_SCHEMA,
    )
    lake.upsert(f"{prefix}_centroids", cent)
    lake.upsert(f"{prefix}_codebooks", books)
    # The codes table is replaced UNCONDITIONALLY: even a quantizer-only
    # save invalidates every previously-encoded row (old-quantizer codes
    # decode as garbage under the new centroids/codebooks), so leaving
    # them in place would silently corrupt later probes. A quantizer-only
    # save therefore yields an EMPTY codes table that the streaming
    # maintenance path repopulates under the new geometry.
    lake.create(f"{prefix}_codes", _codes_schema(id_col), [], [id_col], mode="replace")
    if encoded is not None:
        lake.upsert(f"{prefix}_codes", encoded)


def load_index(lake: Lakehouse, prefix: str) -> IvfPqIndex:
    """Rebuild the in-memory quantizer from the persisted tables (tiny
    collects: ``n_centroids`` and ``m·k`` rows)."""
    cent = sorted(
        lake.table(f"{prefix}_centroids").collect(), key=lambda r: r.centroid
    )
    C = np.array([r.vector for r in cent], dtype=np.float64)
    rows = lake.table(f"{prefix}_codebooks").collect()
    m = max(r.subspace for r in rows) + 1
    k = max(r.code for r in rows) + 1
    dsub = len(rows[0].vector)
    books = np.empty((m, k, dsub))
    for r in rows:
        books[r.subspace, r.code] = r.vector
    return IvfPqIndex(C, books)


def encode_corpus(
    corpus: DataFrame,
    index: IvfPqIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return ivfpq_encode(corpus, index.centroids, index.codebooks, id_col, vec_col)


def topk(
    corpus: DataFrame,
    queries: DataFrame,
    index: IvfPqIndex,
    encoded: DataFrame | None = None,
    k: int = 10,
    n_probe: int = 4,
    n_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ top-k with a reusable index: pass ``encoded`` (e.g.
    ``lake.table(f"{prefix}_codes")``) to skip the per-call corpus
    encoding pass entirely; otherwise encodes on the fly."""
    if encoded is None:
        encoded = encode_corpus(corpus, index, id_col, vec_col)
    return ivfpq_probe(
        encoded,
        corpus,
        queries,
        index.centroids,
        index.codebooks,
        k,
        n_probe,
        n_candidates,
        id_col,
        vec_col,
    )
