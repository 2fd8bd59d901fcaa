"""Synonym-expansion BM25 search: query terms expand through a caller-
provided synonym relation before scoring.

Reference analog: none — the reference's neural encoder absorbs synonymy
into the embedding space; the lexical engine exposes it explicitly, the
Lucene SynonymGraphFilter-at-query-time analog. A synonym table is data,
not config: a (term, variant) DataFrame — e.g. mined from query logs, a
domain thesaurus, or the engine's own suggest_terms output — joins the
tokenized query relation, and every variant enters the query as an
ordinary scored term with its OWN document frequency (the same "blended"
multi-term rewrite prefix/fuzzy expansion uses, so scores stay comparable
with plain ``search()`` and a query with no synonym hits is bit-identical
to it).

Expansion is one relational join on both query planes — the synonym table
is never collected; direction is as given (term → variant). Callers
wanting symmetric groups supply both directions (or
``symmetric_synonyms`` below builds them). The expanded relation enters the
scoring planes through ``search._search_terms``, the entry every search
takes, so caching, masks, pruning and plan shape are exactly ``search()``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.index.search import (
    _plane,
    _search_terms,
    load_stats,
)


def expand_query_terms(
    queries_df: DataFrame, synonyms: DataFrame
) -> DataFrame:
    """(query_id, term) with synonym variants unioned in — the expansion
    relation, exposed for explain/debug and the oracle twin. ``synonyms``:
    (term, variant) rows; variants are trusted as index-vocabulary tokens
    (OOV variants are dropped later by the scorer's df join exactly like
    any OOV query term)."""
    from dense_retriever_spark.operators.bm25 import query_terms

    qt = query_terms(queries_df).select("query_id", "term")
    via = (
        qt.join(synonyms.select("term", "variant"), "term")
        .select("query_id", F.col("variant").alias("term"))
    )
    return qt.unionByName(via).distinct()


def symmetric_synonyms(groups: DataFrame) -> DataFrame:
    """(group_id, term) membership rows → the full directed (term, variant)
    relation of each group (both directions, self-pairs excluded) — one
    self-join per call, for callers holding thesaurus-style groups."""
    a = groups.select("group_id", F.col("term").alias("term"))
    b = groups.select("group_id", F.col("term").alias("variant"))
    return (
        a.join(b, "group_id")
        .filter(F.col("term") != F.col("variant"))
        .select("term", "variant")
        .distinct()
    )


def search_synonyms(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    synonyms: DataFrame,
    k: int = 10,
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    query_mode: str = "broadcast",
    eager: bool = True,
) -> DataFrame:
    """Top-k BM25 over the synonym-expanded term set. Output: (query_id,
    doc_id, score, rank) — the ``search`` contract; masks, planes and
    ``eager`` compose identically."""
    stats = load_stats(index_dir)
    qt = expand_query_terms(queries_df, synonyms)
    plane = _plane(query_mode, queries_df)
    return _search_terms(
        spark, index_dir, stats, plane, qt, k,
        exclude_doc_ids, eager, include_doc_ids,
    )


__all__ = ["search_synonyms", "expand_query_terms", "symmetric_synonyms"]
