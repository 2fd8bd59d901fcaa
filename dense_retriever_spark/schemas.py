"""Explicit StructType schemas for every table boundary.

The reference assigns column names positionally after load with no validation
(/root/reference/dense_retriever/transforms/preprocessing.py:64-65,
 /root/reference/dense_retriever/utils/file_utils.py:31-35); here every reader
takes an explicit schema so scans prune columns and never pay inferSchema.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Engine input: Iceberg-layout source-code corpus (BASELINE.json:input_hint)
CORPUS_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)

# Corpus after ingest: dense doc_id + content fingerprint + token stats
INGESTED_CORPUS_SCHEMA = StructType(
    list(CORPUS_SCHEMA.fields)
    + [
        StructField("doc_id", LongType(), False),
        StructField("content_sha", StringType(), False),
    ]
)

# Tokenizer output (analog of the reference's tokenized HF-Arrow dataset,
# /root/reference/tests/files/test_tokenized_dataset/train/dataset_info.json)
TOKENIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("terms", ArrayType(StringType()), False),
        StructField("dl", IntegerType(), False),
    ]
)

# Query set (FIXTURES.md §2)
QUERY_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("query", StringType(), False),
    ]
)

# Search results — the engine's answer shape; replaces the reference's pickled
# List[ANNSearchRes] (/root/reference/dense_retriever/data_model.py:12-15)
SEARCH_RESULT_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
        StructField("rank", IntegerType(), False),
    ]
)

# qrels / queries in the reference's file shapes
# (/root/reference/dense_retriever/transforms/preprocessing.py:56-67)
QRELS_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("none", StringType()),
        StructField("doc_id", StringType()),
        StructField("none1", StringType()),
    ]
)
QUERIES_TSV_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("text", StringType()),
    ]
)

# Reference corpus document shape (MS MARCO style JSONL,
# /root/reference/tests/files/test_docs.json)
DOCS_JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
    ]
)
