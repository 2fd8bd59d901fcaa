"""Driver-contract queries, wave 6 (round 7): cross-index merge under the
hash gate.

q57 splits the documents table at a shard-aligned boundary, builds TWO
independent indexes (each with its own dense doc-id space starting at 0),
structurally merges them with ``merge_indexes`` (byte-level posting rebase,
no decode), and searches the merged index — which must hash-match the exact
index-free BM25 oracle (Q01_SQL), the same oracle q38 (fresh single build)
matches. Because the split boundary is a multiple of docs_per_shard, the
merge's shard-aligned rebase reproduces the original table ids exactly, so
one row proves: rebased postings decode to the right doc ids, merged
global stats equal a fresh build's, and the
delegated resume path treats every carried shard as complete.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_Q57_IDX_CACHE: dict[str, str] = {}

_Q57_DPS = 128


def _q57_merged_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Two half-corpus indexes merged into one (once per sf_dir per process;
    atexit-reaped like the q38 fixture)."""
    import atexit
    import shutil
    import tempfile

    from dense_retriever_spark.contract4 import _docs_as_index_input
    from dense_retriever_spark.index.build import build_index
    from dense_retriever_spark.index.merge import merge_indexes

    if sf_dir in _Q57_IDX_CACHE:
        return _Q57_IDX_CACHE[sf_dir]
    root = tempfile.mkdtemp(prefix="q57_merge_idx_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    docs = _docs_as_index_input(spark, sf_dir)
    n = docs.count()
    # shard-aligned split point: merged doc ids == table ids (see module doc)
    cut = max(_Q57_DPS, (n // 2) // _Q57_DPS * _Q57_DPS)
    a = docs.filter(F.col("doc_id") < cut)
    b = docs.filter(F.col("doc_id") >= cut).withColumn(
        "doc_id", F.col("doc_id") - F.lit(int(cut))
    )
    ia, ib, im = (f"{root}/{x}" for x in ("a", "b", "merged"))
    build_index(a, ia, docs_per_shard=_Q57_DPS, term_buckets=2)
    build_index(b, ib, docs_per_shard=_Q57_DPS, term_buckets=2)
    merge_indexes(spark, [ia, ib], im, build_tag="q57_merge")
    _Q57_IDX_CACHE[sf_dir] = im
    return im


def q57_merged_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import BM25_QUERIES
    from dense_retriever_spark.contract5 import _rounded_topk
    from dense_retriever_spark.index.search import search

    idx = _q57_merged_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    raw = search(spark, idx, queries, k=50)
    return _rounded_topk(raw)


# ---------------------------------------------------------------------------
# q58 — PHRASE search over a positional index (index/phrase.py): the index
# stores per-term position streams (build_index(positions=True)); a phrase
# matches docs with the tokens at CONSECUTIVE positions, n_occ counting ALL
# starts (overlapping included). The DuckDB oracle recomputes the same from
# the raw text with 1-based list indexing over the tokenized array — one
# hash-gated row proving position encoding, canonical token order, and the
# adjacency chain all line up with a from-scratch definition.
# ---------------------------------------------------------------------------

PHRASE_QUERIES: list[tuple[int, str]] = [
    (0, "table hash"),
    (1, "slow hash batch"),
    (2, "customer join"),
    (3, "merge"),                      # single-term phrase: n_occ == tf
    (4, "zzz never matches anything"),
]

_Q58_K = 10

_Q58_IDX_CACHE: dict[str, str] = {}


def _q58_positional_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    from dense_retriever_spark.contract4 import _docs_as_index_input
    from dense_retriever_spark.index.build import build_index

    if sf_dir in _Q58_IDX_CACHE:
        return _Q58_IDX_CACHE[sf_dir]
    root = tempfile.mkdtemp(prefix="q58_pos_idx_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx = root + "/index"
    build_index(
        _docs_as_index_input(spark, sf_dir), idx,
        docs_per_shard=128, term_buckets=2, positions=True,
    )
    _Q58_IDX_CACHE[sf_dir] = idx
    return idx


def q58_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.index.phrase import search_phrase

    idx = _q58_positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(
        PHRASE_QUERIES, "query_id long, query string"
    )
    res = search_phrase(spark, idx, queries, k=_Q58_K)
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("n_occ").cast("long"),
        F.col("rank").cast("int"),
    )


def _q58_sql() -> str:
    from dense_retriever_spark.contract import _TOK_SQL

    arms = []
    for qid, phrase in PHRASE_QUERIES:
        toks = [t for t in phrase.lower().split() if t]
        L = len(toks)
        cond = " AND ".join(
            f"terms[i+{j}] = '{t}'" for j, t in enumerate(toks)
        )
        arms.append(
            f"SELECT {qid} AS query_id, doc_id, "
            f"len(list_filter(range(1, greatest(len(terms)-{L - 1}, 0)+1), "
            f"i -> {cond}))::BIGINT AS n_occ FROM tok"
        )
    body = " UNION ALL ".join(arms)
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL.format(c='text')} AS terms FROM documents
),
m AS ({body}),
f AS (SELECT * FROM m WHERE n_occ > 0),
r AS (
  SELECT query_id, doc_id, n_occ,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_occ DESC, doc_id) AS rank
  FROM f
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       n_occ::BIGINT AS n_occ, rank::INT AS rank
FROM r WHERE rank <= {_Q58_K}
"""


def q59_phrase_search_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DISTRIBUTED phrase plane under the same oracle as q58 — the
    (query_id, pos, term) relation never touches the driver (executor-side
    posexplode tokenization, presence-join routing, cogrouped verifier).
    Together the q58/q59 pair proves the two phrase planes are
    interchangeable, exactly like the q38/q49 scoring-plane pair."""
    from dense_retriever_spark.index.phrase import search_phrase

    idx = _q58_positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(
        PHRASE_QUERIES, "query_id long, query string"
    )
    res = search_phrase(
        spark, idx, queries, k=_Q58_K, query_mode="distributed"
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("n_occ").cast("long"),
        F.col("rank").cast("int"),
    )


# ---------------------------------------------------------------------------
# q60 — snippet extraction (operators/snippets.py): the token context window
# around each document's FIRST phrase occurrence, computed entirely with
# Catalyst array expressions (guarded position sequence → slice equality →
# window slice → array_join) — zero Python in the data path. The oracle
# recomputes the identical definition with DuckDB list functions, so the
# snippet STRINGS themselves are hash-gated, not just the match set.
# ---------------------------------------------------------------------------

_Q60_WINDOW = 3


def q60_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.operators.snippets import snippet_windows

    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(
        PHRASE_QUERIES, "query_id long, query string"
    )
    return snippet_windows(docs, queries, window=_Q60_WINDOW)


def _q60_sql() -> str:
    from dense_retriever_spark.contract import _TOK_SQL
    from dense_retriever_spark.operators.snippets import snippet_sql

    arms = [
        (qid, [t for t in phrase.lower().split() if t])
        for qid, phrase in PHRASE_QUERIES
    ]
    return snippet_sql(arms, _Q60_WINDOW, _TOK_SQL.format(c="text"))


QUERIES7: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q57_merged_index_search": q57_merged_index_search,
    "q58_phrase_search": q58_phrase_search,
    "q59_phrase_search_distributed": q59_phrase_search_distributed,
    "q60_snippets": q60_snippets,
}


def _oracles7() -> dict[str, str]:
    from dense_retriever_spark.contract import Q01_SQL

    return {
        "q57_merged_index_search": Q01_SQL,
        "q58_phrase_search": _q58_sql(),
        "q59_phrase_search_distributed": _q58_sql(),
        "q60_snippets": _q60_sql(),
    }


ORACLES7: dict[str, str] = _oracles7()
