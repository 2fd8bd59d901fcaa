"""dense_retriever_spark — a from-scratch PySpark-native full-text retrieval engine.

Re-expresses the retrieval semantics of the reference (ninjascant/dense-retriever,
an offline dense-retrieval pipeline: corpus -> index -> top-k search -> rank metrics,
see /root/reference/dense_retriever/transforms/ann_index.py) as an idiomatic Spark
engine: a code-aware Arrow-vectorized tokenizer, a sharded inverted index with
delta+varbyte compressed postings, and an exact Okapi BM25 (k1=1.2,
b=0.75) top-k scorer — plus the surrounding
training-data-pipeline operators (dedup, similarity search).

Design principles (SURVEY.md §7.0):
- DataFrame/SQL first; Catalyst plans everything plan-level.
- Python only in Arrow-batched pandas UDFs / applyInPandas; never per-row.
- Explicit shuffle shape: doc-range shards as the hot-term salt,
  broadcast of small sides and of corpus statistics.
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
