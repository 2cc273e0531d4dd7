"""Document chunking for retrieval indexing: split long documents into
fixed-width overlapping character windows (q70). Pure codegen, no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 1000,
    overlap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-width overlapping character chunks — the retrieval-prep
    split of long documents for INDEXING/RAG. Chunk i of a
    document covers ``[i·s, i·s + chunk_chars)`` with stride
    ``s = chunk_chars - overlap``; the last chunk is the first one
    whose window reaches the end, so every character is covered and
    consecutive chunks share ``overlap`` characters of context.

    Pure codegen: one ``sequence() + posexplode`` per row, a
    ``substring`` per chunk — no UDF, no shuffle (chunking is
    embarrassingly row-parallel; the explode multiplies rows in place).
    Output: (id, chunk_id, chunk_text, chunk_start) with chunk_id
    0-based per document and chunk_start the 0-based character offset.
    NULL/empty text yields one empty chunk (chunk_id 0) so no document
    silently disappears from the index."""
    if overlap >= chunk_chars:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_chars ({chunk_chars})"
        )
    step = chunk_chars - overlap
    ln = F.coalesce(F.length(F.col(text_col)), F.lit(0))
    # chunks needed: 1 + ceil(max(L - chunk_chars, 0) / step)
    n = F.lit(1) + F.ceil(
        F.greatest(ln - F.lit(chunk_chars), F.lit(0)) / F.lit(float(step))
    ).cast("int")
    out = df.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(0), n - F.lit(1))).alias("chunk_id", "_i"),
        F.col(text_col),
    ).select(
        id_col,
        "chunk_id",
        (F.col("chunk_id").cast("long") * F.lit(step)).alias("chunk_start"),
        F.coalesce(
            F.substring(
                F.col(text_col), F.col("chunk_id") * F.lit(step) + F.lit(1), chunk_chars
            ),
            F.lit(""),
        ).alias("chunk_text"),
    )
    return out
