"""Long-document chunking: overlapping token windows for context prep.

``chunk_documents`` is pure column expressions over the token array — one
projection, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    stride: int,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows for context prep.

    Chunk k (0-based) covers tokens ``[k*stride + 1, k*stride + max_tokens]``
    of the whitespace tokenization; the last chunk may be short. With
    ``stride < max_tokens`` consecutive chunks overlap by
    ``max_tokens - stride`` tokens (the standard sliding-window long-doc
    treatment). Output one row per chunk: ``(doc_id, chunk_id, n_tokens,
    char_start, chunk_text)`` where ``char_start`` is the chunk's first
    character position in the single-space-joined token stream (equals the
    original text position when the input is single-space normalized).
    Documents with zero tokens yield no chunks.

    Pure column expressions over the token array — one projection, no
    shuffle, no UDF: chunking is embarrassingly parallel and stays inside
    whole-stage codegen, so at 100 TB it runs at parquet scan speed.
    """
    if max_tokens <= 0 or stride <= 0:
        raise ValueError("max_tokens and stride must be positive")
    ts = F.filter(F.split(F.col(text), r"\s+"), lambda t: t != "")
    base = (
        df.select(doc_id, ts.alias("_ts"))
        .withColumn("_n", F.size("_ts"))
        .withColumn(
            "_n_chunks",
            F.when(F.col("_n") <= 0, F.lit(0)).otherwise(
                F.lit(1)
                + F.greatest(
                    F.lit(0),
                    F.expr(f"(_n - {max_tokens} + {stride} - 1) div {stride}"),
                )
            ),
        )
    )
    k = base.select(
        doc_id,
        "_ts",
        F.explode(
            F.when(
                F.col("_n_chunks") > 0,
                F.sequence(F.lit(0), (F.col("_n_chunks") - 1).cast("int")),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("chunk_id"),
    )
    chunk = F.slice("_ts", F.col("chunk_id") * stride + 1, max_tokens)
    return k.select(
        doc_id,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        (
            F.length(
                F.array_join(F.slice("_ts", 1, F.col("chunk_id") * stride), " ")
            )
            + F.when(F.col("chunk_id") > 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("char_start"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
