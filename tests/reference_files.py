"""Writers for XLink's reference file formats, used to build test inputs for
the readers in ``xlink_spark.sources`` and ``jobs/run_ingest.py``."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xlink_spark.sources.dictionary import SEP, URI_SEP


def write_entity_dictionary(kb: DataFrame, path: str) -> None:
    """kb_entities → the reference's 4-col text format (one text file
    per partition; concatenate or coalesce upstream as needed)."""
    out = kb.select(
        F.concat_ws(
            SEP,
            F.col("title"),
            F.coalesce("sub_title", F.lit("")),
            F.concat_ws(URI_SEP, F.coalesce("uris", F.array())),
            F.col("entity_id"),
        ).alias("value")
    )
    out.write.mode("overwrite").text(path)


def write_word2vec_binary(rows: list[tuple[str, list[float]]], path: str) -> None:
    """[(word, vec)] → reference word2vec binary."""
    if not rows:
        with open(path, "wb") as f:
            f.write(b"0 0\n")
        return
    dim = len(rows[0][1])
    with open(path, "wb") as f:
        f.write(f"{len(rows)} {dim}\n".encode())
        for word, vec in rows:
            f.write(word.encode("utf-8") + b" ")
            f.write(struct.pack(f"<{dim}f", *vec))
            f.write(b"\n")
