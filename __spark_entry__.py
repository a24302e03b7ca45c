"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship linking pipeline on sf0.001;
``queries()``/``oracle_sql()`` expose every SQL-expressible operator from
SURVEY.md §2 (plus the training-data curation operators) with DuckDB
oracles. Implementations live in xlink_spark.driver_queries / flagship.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xlink_spark import driver_queries as DQ  # noqa: E402
from xlink_spark.flagship import linking_pipeline  # noqa: E402
from xlink_spark.plans.storage import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full linking pipeline (detect → score → gate → top-1)."""
    return linking_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """SQL-expressible operators (oracle-checked) + the flagship (rows-only)."""
    # The flagship LEADS the dict so correctness tooling that samples a
    # prefix of the registry always covers it; DQ.QUERIES is itself
    # ordered product-first (see its definition). Building any query
    # releases the storage of the previous one (xlink_spark.plans.storage).
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = registry(
        {"linking_pipeline": linking_pipeline}  # UDF path: rows-only check
    )
    out.update(DQ.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB equivalents; ``linking_pipeline`` intentionally omitted (the
    detection/scoring UDF path is pinned by pytest goldens instead)."""
    return dict(DQ.ORACLES)
