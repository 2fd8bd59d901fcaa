"""Regex term search: ``/pattern/`` segments expand against the index's
term dictionary, then score as a plain BM25 disjunction.

The Lucene RegexpQuery analog, completing the query-grammar family
(boolean / prefix / fuzzy / synonyms / regex). Grammar (one string per
query row): whitespace-separated segments; a segment wrapped in slashes —
``/colou?r/`` — is a REGEX PATTERN matched FULLY (anchored) against the
term dictionary; other segments tokenize normally as literal scored terms.
The dictionary stores lowercased terms, so patterns should be written in
lowercase.

Scale shape mirrors prefix expansion (index/prefix.py): the dictionary
scan (global_term_stats) is prefiltered by each
pattern's LEADING LITERAL characters when it has any (``/merge(r|d)/`` →
``StartsWith('merge')``, a pushed-down parquet predicate — Lucene extracts
the same prefix from its regex automaton); the full anchored match then
runs as ``rlike`` on the surviving terms, per-pattern expansion is
deterministically truncated to the ``max_expansions`` lexicographically-
smallest matches, and the expanded relation feeds the EXISTING scoring
planes through their query-relation overrides. A pattern with no literal
prefix (``/.*ing/``) legally scans the dictionary — the dictionary is the
small relation here (|vocabulary|, not |corpus|), and the scan says so in
the plan rather than hiding behind a driver loop.
"""

from __future__ import annotations

import re
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

MAX_EXPANSIONS = 1024

_META = set(".^$*+?()[]{}|\\")


def literal_prefix(pattern: str) -> str:
    """Leading literal characters REQUIRED by a regex (stop at the first
    metacharacter; drop the last literal if a quantifier follows it, since
    ``ab?`` matches 'a'). The Lucene-style scan-prefilter derivation.

    A top-level unescaped ``|`` voids the prefix entirely: in ``cat|dog``
    the leading literals bind only to the FIRST branch, so no character is
    required of every match — the prefilter must not assume one."""
    depth = 0
    esc = False
    for ch in pattern:
        if esc:
            esc = False
        elif ch == "\\":
            esc = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(depth - 1, 0)
        elif ch == "|" and depth == 0:
            return ""
    out = []
    for ch in pattern:
        if ch in _META:
            if ch in "*?{" and out:
                out.pop()  # quantifier makes the previous char optional
            break
        out.append(ch)
    return "".join(out)


def split_regex_query(query: str) -> tuple[list[str], list[str]]:
    """query string → (literal_segments, regex_patterns)."""
    lits: list[str] = []
    pats: list[str] = []
    for seg in (query or "").split():
        if len(seg) > 2 and seg.startswith("/") and seg.endswith("/"):
            pats.append(seg[1:-1])
        else:
            lits.append(seg)
    return lits, pats


def _segments(queries_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    from dense_retriever_spark.functions.tokenizer import tokenize_code_pandas

    seg = queries_df.select(
        "query_id",
        F.explode(F.split(F.col("query"), r"\s+")).alias("seg"),
    ).filter(F.col("seg") != "")
    is_re = (
        F.col("seg").startswith("/")
        & F.col("seg").endswith("/")
        & (F.length("seg") > 2)
    )
    lits = (
        seg.filter(~is_re)
        .select(
            "query_id",
            F.explode(tokenize_code_pandas(F.col("seg"))).alias("term"),
        )
        .distinct()
    )
    pats = (
        seg.filter(is_re)
        .select(
            "query_id",
            F.expr("substring(seg, 2, length(seg) - 2)").alias("pattern"),
        )
        .filter(F.col("pattern") != "")
        .distinct()
    )
    return lits, pats


#: patterns are collected (bounded probe) both for the prefix prefilter and
#: for regex validation; an interactive regex batch is small by nature
REGEX_FILTER_LIMIT = 1000


def _expand(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    pats: DataFrame,
    max_expansions: int,
) -> DataFrame:
    pats_d = pats.select("pattern").distinct()
    probe = pats_d.limit(REGEX_FILTER_LIMIT + 1).collect()
    dict_terms = global_term_stats(spark, index_dir, stats).select("term")
    if len(probe) <= REGEX_FILTER_LIMIT:
        plist = [r["pattern"] for r in probe]
        if not plist:
            return pats.select(
                "query_id",
                F.lit(None).cast("string").alias("term"),
                "pattern",
                F.lit(None).cast("int").alias("rn"),
            ).limit(0)
        for p in plist:  # fail fast on the driver, not inside a task
            try:
                re.compile(p)
            except re.error as exc:
                raise ValueError(f"bad regex {p!r}: {exc}") from exc
        prefixes = [pf for pf in (literal_prefix(p) for p in plist) if pf]
        if len(prefixes) == len(plist):
            # every pattern has a literal prefix → pushed-down prefilter
            cond = F.col("term").startswith(prefixes[0])
            for pf in prefixes[1:]:
                cond = cond | F.col("term").startswith(pf)
            dict_terms = dict_terms.filter(cond)
    exp_d = dict_terms.join(
        F.broadcast(pats_d),
        # Column.rlike only takes a literal; the SQL RLIKE expression
        # accepts a column-valued pattern (anchored here for full-match)
        F.expr("term rlike concat('^(?:', pattern, ')$')"),
    )
    w = Window.partitionBy("pattern").orderBy("term")
    # keep ONE row past the cap as a clip sentinel (rn == max+1) — see
    # index/prefix.py::_expand for the rationale
    exp_d = (
        exp_d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions + 1)
    )
    return exp_d.join(pats, "pattern").select(
        "query_id", "term", "pattern", "rn"
    )


def search_regex(
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
    """Top-k regex-expanded BM25 search (module docstring has the grammar).
    Output: (query_id, doc_id, score, rank) — the ``search`` contract."""
    stats = load_stats(index_dir)
    if query_mode == "auto":
        n_q = queries_df.limit(QUERY_BROADCAST_LIMIT + 1).count()
        query_mode = (
            "broadcast" if n_q <= QUERY_BROADCAST_LIMIT else "distributed"
        )
    lits, pats = _segments(queries_df)
    exp = _expand(spark, index_dir, stats, pats, max_expansions)
    kept = exp.filter(F.col("rn") <= max_expansions)
    qt = lits.unionByName(kept.select("query_id", "term")).distinct()

    if query_mode == "broadcast":
        both = lits.select(
            "query_id", "term", F.lit(None).cast("string").alias("pattern"),
            F.lit(None).cast("int").alias("rn"),
        ).unionByName(exp)
        rows = both.collect()
        clipped = sorted(
            {
                r["pattern"] for r in rows
                if r["rn"] is not None and r["rn"] > max_expansions
            }
        )
        if clipped:
            warnings.warn(
                f"regex pattern(s) {clipped} expanded to >{max_expansions} "
                "terms and were truncated to the lexicographically "
                "smallest (raise max_expansions to widen)",
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


__all__ = ["search_regex", "split_regex_query", "literal_prefix"]
