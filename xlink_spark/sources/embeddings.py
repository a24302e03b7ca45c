"""word2vec-binary embedding reader (SURVEY §2.1 S6).

Reference format (modules/VecModel.py:45-101, calculate_entity_embedding.py:
23-46): header line ``"<count> <dim>\\n"`` then per entry ``word`` bytes, a
separator byte (space or tab), and ``dim`` little-endian float32s, each entry
terminated by ``\\n``.

Spark path: ``spark.read.format("binaryFile")`` → one mapInPandas over file
payloads (a vector file is one blob; multiple files parallelize across
tasks) → (key, vec) rows. Files beyond a few GB should be converted once to
parquet with this reader and served columnar thereafter — jobs/run_ingest.py
is that conversion.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType

_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("vec", ArrayType(FloatType()), False),
    ]
)


def parse_word2vec_binary(payload: bytes) -> list[tuple[str, list[float]]]:
    """Parse one word2vec-binary blob → [(word, vec)]. Pure function."""
    header_end = payload.index(b"\n")
    count, dim = (int(x) for x in payload[:header_end].split())
    out = []
    pos = header_end + 1
    vec_bytes = 4 * dim
    for _ in range(count):
        sep = pos
        while payload[sep] not in (0x20, 0x09):  # space or tab
            sep += 1
        word = payload[pos:sep].decode("utf-8", "replace")
        vec = np.frombuffer(payload, dtype="<f4", count=dim, offset=sep + 1)
        out.append((word, vec.tolist()))
        pos = sep + 1 + vec_bytes
        if pos < len(payload) and payload[pos] == 0x0A:  # trailing \n
            pos += 1
    return out


def read_word2vec_binary(spark, path: str) -> DataFrame:
    """Distributed reader: binaryFile scan → mapInPandas parse."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[str, list[float]]] = []
            for content in pdf["content"]:
                rows.extend(parse_word2vec_binary(bytes(content)))
            yield pd.DataFrame(rows, columns=["key", "vec"])

    files = spark.read.format("binaryFile").load(path).select("content")
    return files.mapInPandas(parse, _SCHEMA)
