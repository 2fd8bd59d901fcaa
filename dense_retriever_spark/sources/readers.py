"""Source/sink operators (SURVEY.md §2.1, S1-S14).

Every reader takes an explicit schema — the reference assigns column names
positionally after load with no validation
(/root/reference/dense_retriever/transforms/preprocessing.py:64-65,
 /root/reference/dense_retriever/utils/file_utils.py:18-45); here schemas are
enforced at the boundary so scans prune and never pay inferSchema.

The reference's pickle inter-stage exchange (S5, utils/file_utils.py:38-45)
is deliberately ABSENT: stages exchange DataFrames lazily (Catalyst fuses
them) or Parquet tables when materialization is explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dense_retriever_spark.schemas import (
    DOCS_JSONL_SCHEMA,
    QRELS_SCHEMA,
    QUERIES_TSV_SCHEMA,
)


def read_qrels(spark: SparkSession, path: str) -> DataFrame:
    """S1 — space-separated qrels: (qid, none, doc_id, none1).
    Reference: pd.read_csv(sep=' ') transforms/preprocessing.py:57."""
    return spark.read.schema(QRELS_SCHEMA).csv(path, sep=" ")


def read_queries_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S2 — TSV queries: (qid, text).
    Reference: pd.read_csv(sep='\\t') transforms/preprocessing.py:58."""
    return spark.read.schema(QUERIES_TSV_SCHEMA).csv(path, sep="\t")


def read_docs_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S3 — JSONL corpus: (doc_id, text), MS MARCO shape.
    Reference: pd.read_json(lines=True) transforms/preprocessing.py:110."""
    return spark.read.schema(DOCS_JSONL_SCHEMA).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 — JSONL sink. Reference: write_jsonl_file utils/file_utils.py:25-28."""
    df.write.mode(mode).json(path)


def read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S6/S7/S8 — (multi-file) Parquet scan. Spark's split planning replaces
    the reference's manual shard concat (transforms/ann_index.py:46-67)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S9/S10 — partitioned Parquet sink (replaces .npy shards + FAISS binary,
    estimators/bert_dot.py:54-61, transforms/ann_index.py:103-107)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
