"""at_data_pipelines_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query / data-processing capabilities of the
reference system (Atium-Research/at-data-pipelines, a Polars+Prefect quant
pipeline stack) re-expressed Spark-first:

- ``session``   — SparkSession factory (AQE, UTC, Arrow on).
- ``io``        — parquet table loaders for the driver test data.
- ``catalog``   — lakehouse table layer: create/insert/optimize (PK-dedup
                  upsert), mirroring the reference's bear-lake protocol.
- ``ops``       — relational operator wrappers (SURVEY §2.2-2.8).
- ``ts``        — panel time-series ops: pct_change, rolling, ewm, zscore
                  (SURVEY §2.5).
- ``kernels``   — grouped numerical kernels via applyInPandas: rolling OLS,
                  rolling covariance, covariance assembly, portfolio QP
                  (SURVEY §2.10) — pure numpy (no scipy/statsmodels/cvxpy
                  in this environment).
- ``pipelines`` — the reference's daily flows re-expressed as Spark jobs.
- ``streaming`` — Structured Streaming ops over the events table.
- ``llmops``    — LLM-training-data operators: dedup (exact/MinHash-LSH/
                  SimHash/Jaccard/embedding), exact similarity search and
                  the IVF-PQ index, BM25, sampling, chunking, text
                  analysis.
- ``queries``   — the registry of driver-checkable queries with DuckDB
                  oracle SQL (the correctness gate).

Everything is plain DataFrame API — Catalyst does the planning; no RDDs,
no custom strategies. Designed for 1000-executor / 100 TB scale even
though tests run on local[32].
"""

__version__ = "0.1.0"
