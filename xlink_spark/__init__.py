"""xlink_spark — a PySpark-native entity-linking / record-linkage engine.

A from-scratch rebuild of the capabilities of solitaryzero/XLink
(reference at /root/reference, cited by file:line in docstrings) as a
blocking → pairwise-scoring → transitive-clustering pipeline over a
parquet/Iceberg lake of interleaved text+media documents.

Design stance (SURVEY.md §7.0):
  * pyspark.sql DataFrames everywhere; no RDDs, no per-row Python.
  * Python surface restricted to vectorized pandas/Arrow UDFs.
  * Broadcast dictionaries for mention detection; AQE skew-join splitting
    and BlockSplit for skew.
  * Iterative large-star/small-star connected components for clustering.
  * Snapshot-directory checkpointing with a manifest for resumability.
"""

__version__ = "0.1.0"
