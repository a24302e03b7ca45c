"""JSONL corpus source — the de-facto LLM-training-data interchange format.

One JSON object per line, schema-on-read with a declared contract instead
of inference (inference scans the data twice and silently unions drifting
schemas at 100 TB). Malformed lines and contract violations land on a
quarantine side with a reason — the same keep-the-rows policy as the
raw-corpus standardizer (sources/corpus.py), so a bad crawl shard never
kills the job and is always auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# the minimal curation contract: everything else rides in `meta`
JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), True),
        StructField("text", StringType(), True),
        StructField("source", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("meta", StringType(), True),  # raw JSON blob, opaque
        StructField("_corrupt", StringType(), True),
    ]
)


def read_jsonl_corpus(
    spark: SparkSession, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(docs, quarantined) from a JSONL path.

    docs: rows with a non-null id and non-null text, `_corrupt` dropped.
    quarantined: everything else with ``reason`` ∈ {'not_json',
    'missing_id', 'missing_text'} and the raw line preserved (`_corrupt`
    carries it for unparseable rows) — the error_no policy: count AND keep.

    PERMISSIVE mode + columnNameOfCorruptRecord is the scalable shape: one
    scan, no Python, malformed lines become rows instead of task failures.
    """
    raw = (
        spark.read.schema(JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    reason = (
        F.when(F.col("_corrupt").isNotNull(), F.lit("not_json"))
        .when(F.col(id_col).isNull(), F.lit("missing_id"))
        .when(F.col(text_col).isNull(), F.lit("missing_text"))
    )
    tagged = raw.withColumn("reason", reason)
    docs = tagged.filter(F.col("reason").isNull()).drop("_corrupt", "reason")
    quarantined = tagged.filter(F.col("reason").isNotNull())
    return docs, quarantined
