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

Expansion is relational on both planes: the term dictionary
(global_term_stats) is filtered by an OR of pushed-down
``StartsWith`` predicates (prefix patterns are collected via a bounded probe,
the _excl_plan pattern — ≤ PREFIX_FILTER_LIMIT strings of driver state at any
|Q|; past the limit the filter is skipped and the dictionary join does the
work alone), then joined to the pattern relation and truncated with one
per-pattern window. The result feeds the EXISTING scoring planes through
their query-relation overrides (search._search_broadcast(qt_pairs=...) /
_search_distributed(qt_override=...)), so caching, masks, pruning, and plan
shape are exactly those of ``search()``.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dense_retriever_spark.index.search import (
    QUERY_BROADCAST_LIMIT,
    RESULT_SCHEMA,
    _search_broadcast,
    _search_distributed,
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


def _expand(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    pfx: DataFrame,
    max_expansions: int,
) -> DataFrame:
    """(query_id, prefix) → (query_id, term, prefix) expansion relation.

    Distinct patterns expand ONCE (the per-pattern window runs on the
    deduped pattern set, not per query), then join back to query ids."""
    pfx_d = pfx.select("prefix").distinct()
    dict_terms = global_term_stats(spark, index_dir, stats).select("term")
    probe = pfx_d.limit(PREFIX_FILTER_LIMIT + 1).collect()
    if len(probe) <= PREFIX_FILTER_LIMIT:
        pats = [r["prefix"] for r in probe]
        if not pats:
            return pfx.select(
                "query_id",
                F.lit(None).cast("string").alias("term"),
                "prefix",
                F.lit(None).cast("int").alias("rn"),
            ).limit(0)
        cond = F.col("term").startswith(pats[0])
        for p in pats[1:]:
            cond = cond | F.col("term").startswith(p)
        dict_terms = dict_terms.filter(cond)  # parquet StartsWith pushdown
    exp_d = dict_terms.join(
        F.broadcast(pfx_d),
        F.col("term").startswith(F.col("prefix")),
    )
    w = Window.partitionBy("prefix").orderBy("term")
    # keep ONE row past the cap as a clip sentinel (rn == max+1): "pattern
    # matched exactly max terms" and "pattern was truncated" are
    # indistinguishable from a capped set alone; callers drop the sentinel
    # before scoring and warn only when it exists
    exp_d = (
        exp_d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions + 1)
    )
    return exp_d.join(pfx, "prefix").select(
        "query_id", "term", "prefix", "rn"
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
    Output: (query_id, doc_id, score, rank)."""
    stats = load_stats(index_dir)
    if query_mode == "auto":
        n_q = queries_df.limit(QUERY_BROADCAST_LIMIT + 1).count()
        query_mode = (
            "broadcast" if n_q <= QUERY_BROADCAST_LIMIT else "distributed"
        )
    lits, pfx = _prefix_segments(queries_df)
    exp = _expand(spark, index_dir, stats, pfx, max_expansions)
    kept = exp.filter(F.col("rn") <= max_expansions)
    qt = lits.unionByName(kept.select("query_id", "term")).distinct()

    if query_mode == "broadcast":
        # interactive plane: the rewritten relation is bounded by
        # |literal terms| + max_expansions × |patterns| — collected like
        # search()'s (qid, term) relation, in ONE job (literals marked by
        # prefix NULL) so the dictionary scan runs once, not once per
        # truncation-check/collect. The truncation check rides the same
        # collect via the rn == max+1 clip sentinel rows (dropped before
        # scoring). Residual prefix-search latency over plain
        # search is the expanded disjunction itself (a short pattern over a
        # heavy-tailed dictionary can legally score hundreds of terms per
        # query — the oracle pays the same), not plan overhead.
        both = lits.select(
            "query_id", "term", F.lit(None).cast("string").alias("prefix"),
            F.lit(None).cast("int").alias("rn"),
        ).unionByName(exp)
        rows = both.collect()
        # rn == max+1 is the clip SENTINEL (see _expand): its presence —
        # not the capped set size — proves truncation, so a pattern with
        # exactly max matches no longer warns falsely
        clipped = sorted(
            {
                r["prefix"] for r in rows
                if r["rn"] is not None and r["rn"] > max_expansions
            }
        )
        if clipped:
            warnings.warn(
                f"prefix pattern(s) {clipped} expanded to >{max_expansions} "
                "terms and were truncated to the lexicographically smallest "
                "(raise max_expansions to widen)",
                RuntimeWarning,
                stacklevel=2,
            )
        qt_pairs = sorted(
            {
                (int(r["query_id"]), r["term"])
                for r in rows
                if r["rn"] is None or r["rn"] <= max_expansions
            }
        )
        if not qt_pairs:
            return spark.createDataFrame([], RESULT_SCHEMA)
        return _search_broadcast(
            spark, index_dir, stats, queries_df, k,
            exclude_doc_ids, eager, include_doc_ids, qt_pairs=qt_pairs,
        )
    if query_mode != "distributed":
        raise ValueError(f"unknown query_mode {query_mode!r}")
    return _search_distributed(
        spark, index_dir, stats, queries_df, k,
        exclude_doc_ids, eager, include_doc_ids, qt_override=qt,
    )
