"""Document chunking: full coverage, exact overlap, boundary-exact
window arithmetic."""

from __future__ import annotations


def test_chunk_documents_boundaries_and_overlap(spark):
    """Window arithmetic: full coverage, exact overlap bytes, one chunk
    for short/empty/NULL text, boundary-exact lengths."""
    from at_data_pipelines_spark.llmops.packing import chunk_documents

    import pytest

    docs = spark.createDataFrame(
        [
            (1, "a" * 10),          # < chunk: one chunk
            (2, "b" * 20),          # == chunk: exactly one chunk
            (3, "x" * 21),          # chunk+1: two chunks
            (4, "".join(chr(ord("a") + i % 26) for i in range(53))),
            (5, ""),                # empty: one empty chunk
            (6, None),              # NULL: one empty chunk
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_chars=20, overlap=5).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.chunk_id)
    assert [len(by_doc[i]) for i in (1, 2, 3, 5, 6)] == [1, 1, 2, 1, 1]
    assert by_doc[5][0].chunk_text == "" and by_doc[6][0].chunk_text == ""
    # doc 4 (len 53, step 15): chunks at 0/15/30/45 — reassembling the
    # de-overlapped pieces reproduces the text exactly
    rows = by_doc[4]
    assert [r.chunk_start for r in rows] == [0, 15, 30, 45]
    text = "".join(chr(ord("a") + i % 26) for i in range(53))
    rebuilt = rows[0].chunk_text + "".join(r.chunk_text[5:] for r in rows[1:])
    assert rebuilt == text
    # consecutive chunks share exactly `overlap` characters
    for a, b in zip(rows, rows[1:]):
        assert a.chunk_text[-5:] == b.chunk_text[:5] or len(a.chunk_text) < 20
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_chars=10, overlap=10)
