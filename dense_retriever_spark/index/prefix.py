"""Prefix (wildcard-tail) BM25 search: ``term*`` segments expand against the
index's term dictionary, then score as a plain BM25 disjunction.

Grammar (one string per query row): whitespace-separated segments; a segment
ending in ``*`` is a PREFIX PATTERN — the stem (segment minus trailing
``*``s) is lowercased and matched verbatim against the term dictionary with
``startswith``. Other segments tokenize normally (index tokenizer) as
literal scored terms. The stem is NOT tokenized: the dictionary stores
compound identifiers lowercased with underscores preserved, so ``mergeSh*``
matches ``mergeshards`` and ``skew_sa*`` matches ``skew_salt``; a stem
containing characters the tokenizer strips from documents (``.``, ``/``)
can never match and returns nothing. An empty stem (bare ``*``) is dropped.

Every matching dictionary term joins the query as an ordinary scored term
with its OWN document frequency (the "blended" multi-term rewrite — scores
stay comparable with plain ``search()``; a query whose patterns expand to
exactly its literal terms is bit-identical to ``search()``, asserted by
tests). Expansion is DETERMINISTICALLY truncated to the ``max_expansions``
lexicographically-smallest matching terms per pattern (Lucene's clause-limit
analog; the broadcast plane warns when truncation happens).

Expansion is relational on both planes (``_expand_patterns``, shared with
regex search): the term dictionary (global_term_stats) is filtered by an OR
of pushed-down ``StartsWith`` predicates (prefix patterns are collected via
a bounded probe, the _excl_plan pattern — ≤ PREFIX_FILTER_LIMIT strings of
driver state at any |Q|; past the limit the filter is skipped and the
dictionary join does the work alone), then joined to the pattern relation
and truncated with one per-pattern window. Literal and expanded terms
enter the scoring planes through ``search._search_terms``, the entry every
search takes, so caching, masks, pruning, and plan shape are exactly those
of ``search()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dense_retriever_spark.index.search import (
    _plane,
    _search_terms,
    global_term_stats,
    load_stats,
)

#: per-pattern expansion cap (lexicographically-smallest terms win) —
#: Lucene's 1024-clause limit analog, overridable per call
MAX_EXPANSIONS = 1024

#: prefix patterns are collected (bounded probe) for the pushed-down
#: StartsWith scan filter while the distinct-pattern set stays below this;
#: past it the dictionary join runs unfiltered (still correct)
PREFIX_FILTER_LIMIT = 1000


def split_prefix_query(query: str) -> tuple[list[str], list[str]]:
    """query string → (literal_segments, prefix_stems). Driver-side mirror
    of the executor-side parse in _prefix_segments (kept trivially in sync:
    both split on whitespace and treat a trailing-``*`` segment as a
    pattern)."""
    lits: list[str] = []
    stems: list[str] = []
    for seg in (query or "").split():
        if seg.endswith("*"):
            stem = seg.rstrip("*").lower()
            if stem:
                stems.append(stem)
        else:
            lits.append(seg)
    return lits, stems


def _prefix_segments(queries_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(literal (query_id, term) relation, pattern (query_id, prefix)
    relation) — executor-side, never collected."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_pandas

    seg = queries_df.select(
        "query_id",
        F.explode(F.split(F.col("query"), r"\s+")).alias("seg"),
    ).filter(F.col("seg") != "")
    is_pfx = F.col("seg").endswith("*")
    lits = (
        seg.filter(~is_pfx)
        .select(
            "query_id",
            F.explode(tokenize_code_pandas(F.col("seg"))).alias("term"),
        )
        .distinct()
    )
    pfx = (
        seg.filter(is_pfx)
        .select(
            "query_id",
            F.lower(F.regexp_replace("seg", r"\*+$", "")).alias("prefix"),
        )
        .filter(F.col("prefix") != "")
        .distinct()
    )
    return lits, pfx


def _starts_with_any(prefixes: list[str]):
    """OR of ``StartsWith(term, p)`` — reaches parquet as a pushed filter."""
    cond = F.col("term").startswith(prefixes[0])
    for p in prefixes[1:]:
        cond = cond | F.col("term").startswith(p)
    return cond


def _expand_patterns(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    pats: DataFrame,
    col: str,
    limit: int,
    max_expansions: int,
    prefilter,
    match,
) -> DataFrame:
    """(query_id, <col>) pattern relation → (query_id, term, <col>, rn)
    expansion relation, shared by prefix and regex search.

    Distinct patterns expand ONCE (the per-pattern window runs on the
    deduped pattern set, not per query), then join back to query ids. While
    the distinct-pattern set stays at or below ``limit`` it is collected
    (one bounded probe) and ``prefilter(patterns)`` may return a pushed-down
    dictionary filter (None: scan the whole dictionary); ``match`` is the
    (term, pattern) join condition. Each pattern keeps its
    ``max_expansions`` lexicographically smallest terms plus ONE row past
    the cap as a clip sentinel (rn == max+1): "pattern matched exactly max
    terms" and "pattern was truncated" are indistinguishable from a capped
    set alone; search._search_terms drops the sentinel before scoring and
    warns only when it exists."""
    pats_d = pats.select(col).distinct()
    dict_terms = global_term_stats(spark, index_dir, stats).select("term")
    probe = pats_d.limit(limit + 1).collect()
    if len(probe) <= limit:
        plist = [r[col] for r in probe]
        if not plist:
            return pats.select(
                "query_id",
                F.lit(None).cast("string").alias("term"),
                col,
                F.lit(None).cast("int").alias("rn"),
            ).limit(0)
        cond = prefilter(plist)
        if cond is not None:
            dict_terms = dict_terms.filter(cond)  # parquet pushdown
    exp_d = dict_terms.join(F.broadcast(pats_d), match)
    w = Window.partitionBy(col).orderBy("term")
    exp_d = (
        exp_d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions + 1)
    )
    return exp_d.join(pats, col).select("query_id", "term", col, "rn")


def _with_literals(lits: DataFrame, exp: DataFrame) -> DataFrame:
    """Literal (query_id, term) rows (NULL pattern and rn) unioned with an
    _expand_patterns relation: the ``clip`` input of search._search_terms."""
    return lits.select(
        "query_id", "term", F.lit(None).cast("string").alias(exp.columns[2]),
        F.lit(None).cast("int").alias("rn"),
    ).unionByName(exp)


def _expand(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    pfx: DataFrame,
    max_expansions: int,
) -> DataFrame:
    """(query_id, prefix) → (query_id, term, prefix, rn) expansion
    relation (_expand_patterns with a StartsWith prefilter and match)."""
    return _expand_patterns(
        spark, index_dir, stats, pfx, "prefix", PREFIX_FILTER_LIMIT,
        max_expansions, _starts_with_any,
        F.col("term").startswith(F.col("prefix")),
    )


def search_prefix(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    query_mode: str = "broadcast",
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    eager: bool = True,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Top-k prefix-expanded BM25 search (module docstring has the grammar).
    Output: (query_id, doc_id, score, rank).

    On the broadcast plane the rewritten relation is bounded by |literal
    terms| + max_expansions × |patterns| and is collected like search()'s
    (qid, term) relation, in ONE job with the clip sentinels (so the
    dictionary scan runs once). Residual prefix-search latency over plain
    search is the expanded disjunction itself (a short pattern over a
    heavy-tailed dictionary can legally score hundreds of terms per query —
    the oracle pays the same), not plan overhead."""
    stats = load_stats(index_dir)
    plane = _plane(query_mode, queries_df)
    lits, pfx = _prefix_segments(queries_df)
    exp = _expand(spark, index_dir, stats, pfx, max_expansions)
    return _search_terms(
        spark, index_dir, stats, plane, _with_literals(lits, exp), k,
        exclude_doc_ids, eager, include_doc_ids,
        clip=("prefix", max_expansions),
    )
