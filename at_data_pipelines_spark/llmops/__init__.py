"""LLM-training-data operators (north-star extension, BASELINE.json).

- ``dedup``      — exact, MinHash+LSH, SimHash, n-gram Jaccard, duplicate
                   n-gram spans, connected-component clustering.
- ``similarity`` — exact cosine top-k and threshold join, plus the IVF-PQ
                   quantizer behind ``ann_index``.
- ``ann_index``  — the lakehouse-persisted IVF-PQ index the streaming ANN
                   sink maintains.
- ``text``       — tokenization, quality scoring, language-ID heuristic,
                   repetition and decontamination metrics.
- ``retrieval``  — BM25 ranked retrieval.
- ``sampling``   — deterministic hash-threshold splits and mixtures.
- ``packing``    — overlapping document chunking.
- ``curate``     — the curation funnel behind the ``curate`` CLI command.
"""

from . import ann_index, curate, dedup, sampling, similarity, text  # noqa: F401
