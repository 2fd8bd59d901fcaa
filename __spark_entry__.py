"""Driver contract for the spark-graft builder (PySpark target).

Thin re-export over dense_retriever_spark.contract — the driver runs
``entry(spark)`` as a smoke check, and compares each ``queries()[name]``
against ``oracle_sql()[name]`` via DuckDB at sf=0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exact BM25 top-10 over sf0.001 documents."""
    from dense_retriever_spark.contract import q01_bm25_topk

    return q01_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dense_retriever_spark.contract import QUERIES

    return QUERIES


def oracle_sql() -> dict[str, str]:
    from dense_retriever_spark.contract import ORACLES

    return ORACLES
