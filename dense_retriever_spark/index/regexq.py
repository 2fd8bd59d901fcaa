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
smallest matches (``prefix._expand_patterns``, shared with prefix search),
and literal and expanded terms enter the scoring planes through
``search._search_terms``, the entry every search takes. A pattern with no
literal prefix (``/.*ing/``) legally scans the dictionary — the dictionary is the
small relation here (|vocabulary|, not |corpus|), and the scan says so in
the plan rather than hiding behind a driver loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.index.prefix import (
    _expand_patterns,
    _starts_with_any,
    _with_literals,
)
from dense_retriever_spark.index.search import (
    _plane,
    _search_terms,
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


def _prefilter(plist: list[str]):
    """Validate every pattern on the driver (fail fast, not inside a task)
    and, when each has a literal prefix, return the pushed-down
    StartsWith dictionary prefilter (else None)."""
    for p in plist:
        try:
            re.compile(p)
        except re.error as exc:
            raise ValueError(f"bad regex {p!r}: {exc}") from exc
    prefixes = [pf for pf in (literal_prefix(p) for p in plist) if pf]
    if len(prefixes) == len(plist):
        return _starts_with_any(prefixes)
    return None


def _expand(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    pats: DataFrame,
    max_expansions: int,
) -> DataFrame:
    """(query_id, pattern) → (query_id, term, pattern, rn) expansion
    relation (prefix._expand_patterns with a full anchored match)."""
    return _expand_patterns(
        spark, index_dir, stats, pats, "pattern", REGEX_FILTER_LIMIT,
        max_expansions, _prefilter,
        # Column.rlike only takes a literal; the SQL RLIKE expression
        # accepts a column-valued pattern (anchored here for full-match)
        F.expr("term rlike concat('^(?:', pattern, ')$')"),
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
    plane = _plane(query_mode, queries_df)
    lits, pats = _segments(queries_df)
    exp = _expand(spark, index_dir, stats, pats, max_expansions)
    return _search_terms(
        spark, index_dir, stats, plane, _with_literals(lits, exp), k,
        exclude_doc_ids, eager, include_doc_ids,
        clip=("regex", max_expansions),
    )


__all__ = ["search_regex", "split_regex_query", "literal_prefix"]
