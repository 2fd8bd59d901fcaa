"""More-like-this: retrieve documents similar to seed documents.

Reference analog: none — the reference retrieves only by encoded free-text
query (/root/reference/dense_retriever/cli/ann_index.py:27-48). This is the
classic Lucene MoreLikeThisQuery surface re-expressed relationally: the seed
doc's text becomes a bounded disjunctive BM25 query made of its most
characteristic terms.

Term selection (Lucene MLT's interesting-term rule): score every term of
the seed doc by tf_in_doc · idf(df) — tf from the seed's own token stream,
df from the index's global stats, idf the engine's BM25 idf — keep the top
``max_terms`` by (score DESC, term ASC). The term score is rounded to 6dp
before ranking so engine and oracle (whose libm ``ln`` may differ in the
last ulp) select identical term sets. The selected (query_id, term)
relation then enters the ordinary search planes through
``search._search_terms`` (the entry prefix/fuzzy expansion uses too), and
each query's own seed docs are anti-joined out of its results.

Scale: seed texts are fetched from the index's own docs table by a
doc_id join (partition-pruned by shard); tf/df/term-ranking are joins and
windowed aggregations on the (seed, term) relation — |seeds| · |doc terms|
rows, never the corpus. With ``query_mode='distributed'`` nothing
query-sized touches the driver; the broadcast plane collects only the
≤ |seeds| · max_terms selected pairs (same contract as its query
tokenization collect).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dense_retriever_spark.index.build import IndexPaths
from dense_retriever_spark.index.search import (
    _plane,
    _search_terms,
    global_term_stats,
    load_stats,
)
from dense_retriever_spark.operators.topk import topk_per_group

#: seed shards are collected (bounded probe) for partition pruning of the
#: docs scan while the distinct-shard set stays below this; past it the
#: docs join runs unpruned (still correct — and at that seed count the
#: query reads most partitions anyway)
_SEED_SHARD_FILTER_LIMIT = 100_000


def interesting_terms(
    spark: SparkSession,
    index_dir: str,
    seeds: DataFrame,
    max_terms: int = 10,
    content_df: DataFrame | None = None,
    _shards: list[int] | None = None,
    _stats: dict | None = None,
) -> DataFrame:
    """(query_id, term, tscore) — each seed query's top ``max_terms`` terms
    by tf·idf, the MLT term-selection relation (exposed for explain/debug
    UIs and for the oracle twin).

    ``seeds``: (query_id, doc_id); multiple seed docs per query are allowed
    (tf sums over them). ``content_df``: optional (doc_id, content) source
    for metadata-only indexes whose docs table carries no content.
    ``_stats``: the caller's loaded ``stats.json`` (more_like_this), so
    term selection and scoring read one snapshot of the index.
    """
    from dense_retriever_spark.functions.tokenizer import tokenize_code_pandas

    stats = load_stats(index_dir) if _stats is None else _stats
    paths = IndexPaths(index_dir)
    n_docs = float(stats["n_docs"])

    seeds_n = seeds.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    if content_df is None:
        docs = spark.read.parquet(paths.docs)
        # docs/ is written partitioned by shard: push the seeds' shard set
        # into the scan (collected bounded probe, the _excl_plan pattern) so
        # a handful of seeds reads a handful of partitions, not the corpus.
        # ``_shards``: a caller that already collected the seed relation
        # (more_like_this's broadcast plane) passes the set directly — the
        # probe job is skipped (per-batch driver-job amortization, r8)
        if _shards is not None:
            shard_ids = [int(s) for s in sorted(set(_shards))]
        else:
            dps = int(stats["docs_per_shard"])
            shard_rows = (
                seeds_n.select(
                    (F.col("doc_id") / dps).cast("long").alias("shard")
                )
                .distinct()
                .limit(_SEED_SHARD_FILTER_LIMIT + 1)
                .collect()
            )
            shard_ids = (
                [int(r["shard"]) for r in shard_rows]
                if len(shard_rows) <= _SEED_SHARD_FILTER_LIMIT
                else None
            )
        if shard_ids is not None and len(shard_ids) <= _SEED_SHARD_FILTER_LIMIT:
            docs = docs.filter(F.col("shard").isin(shard_ids))
        content_df = docs.select("doc_id", "content")
    seed_text = seeds_n.join(content_df, "doc_id")

    # seed term frequencies with the INDEX's tokenizer (the terms must be
    # the index's vocabulary or df lookups would miss)
    toks = seed_text.select(
        "query_id", F.explode(tokenize_code_pandas(F.col("content"))).alias("term")
    )
    stf = toks.groupBy("query_id", "term").agg(
        F.count("*").cast("double").alias("stf")
    )

    dfs = global_term_stats(spark, index_dir, stats).select(
        "term", F.col("df").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    scored = stf.join(dfs, "term").select(
        "query_id", "term", F.round(F.col("stf") * idf, 6).alias("tscore")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("tscore"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_terms)
        .drop("rn")
    )


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    seeds: DataFrame,
    k: int = 10,
    max_terms: int = 10,
    query_mode: str = "broadcast",
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    content_df: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs most similar to each query's seed docs. Output:
    (query_id, doc_id, score, rank) — the ``search`` contract; each query's
    own seed docs never appear in its results (anti-joined, with the
    over-fetch sized so their removal cannot cost recall).

    ``exclude_doc_ids`` / ``include_doc_ids`` compose as in ``search``
    (masking happens inside the scorer, before top-k).
    """
    stats = load_stats(index_dir)
    plane = _plane(query_mode, seeds)
    shards = None
    if plane == "broadcast":
        # the broadcast plane collects the interesting-term relation anyway;
        # collecting the SEED relation first — the same bounded-batch
        # contract — lets one collect serve the docs-scan shard pruning AND
        # the max-seeds over-fetch bound, removing two per-batch driver
        # jobs (fixed driver costs dominated MLT's batch scaling)
        seed_rows = seeds.select("query_id", "doc_id").collect()
        dps = int(stats["docs_per_shard"])
        max_seeds = max(
            Counter(int(r["query_id"]) for r in seed_rows).values(),
            default=0,
        )
        if content_df is None:
            shards = [int(r["doc_id"]) // dps for r in seed_rows]
    qt = interesting_terms(
        spark, index_dir, seeds, max_terms, content_df, _shards=shards,
        _stats=stats,
    ).select("query_id", "term")
    if plane == "distributed":
        # worst case every one of a query's seeds lands in its top list;
        # the max seed count per query bounds the over-fetch (one tiny agg
        # job on the caller-held seeds relation — scalar to the driver)
        max_seeds = (
            seeds.groupBy("query_id").count().agg(F.max("count")).first()[0]
        )
    raw = _search_terms(
        spark, index_dir, stats, plane, qt, k + int(max_seeds or 0),
        exclude_doc_ids, False, include_doc_ids,
    )

    res = raw.join(
        seeds.select("query_id", "doc_id"), ["query_id", "doc_id"],
        "left_anti",
    )
    out = topk_per_group(res.drop("rank"), "query_id", "score", k)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )


__all__ = ["more_like_this", "interesting_terms"]
