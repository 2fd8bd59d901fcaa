"""Fuzzy (edit-distance) BM25 search: ``term~`` segments match dictionary
terms within a bounded Levenshtein distance, then score as a disjunction.

Grammar (one string per query row): whitespace-separated segments; a
segment ending in ``~`` (optionally ``~1`` / ``~2``) is a FUZZY PATTERN —
the stem is lowercased and matched against the term dictionary at edit
distance ≤ max_edits (default 1; a bare ``~`` uses the call-level default).
Other segments tokenize normally as literal scored terms. Like prefix
patterns (index/prefix.py) the stem is matched verbatim against the
dictionary (compounds are stored lowercased with underscores preserved),
and every matching term joins the query as an ordinary scored term with
its own df — a pattern whose only match is its exact stem is bit-identical
to the literal query (asserted by tests).

Candidate generation is the deletion-neighborhood (SymSpell) join — the
scalable alternative to a dictionary × query-terms cross join:

    K_e(t) = {t} ∪ {t minus any 1..e characters}      (pure Catalyst exprs)
    lev(a, b) ≤ e  ⇒  K_e(a) ∩ K_e(b) ≠ ∅

so exploding BOTH sides to their deletion keys and equi-joining on the key
finds every true match; key collisions can reach distance 2e, so survivors
are verified with the built-in ``levenshtein`` (JVM-side, no UDF). The
dictionary side is one scan, pre-pruned to the query stems' length band
[min−e, max+e] (a bounded two-scalar probe), exploded to O(|dict| × e ×
avg_len) key rows, and shuffled once for the join — no all-pairs anywhere.
Keys are generated at the batch's MAX requested distance (a per-stem
distance still verifies with its own bound — extra candidates only).

Literal and expanded terms enter the scoring planes through
``search._search_terms``, the entry every search takes, exactly like prefix
search — same caching, masks, pruning, and plan shape as ``search()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.index.search import (
    _plane,
    _search_terms,
    global_term_stats,
    load_stats,
)

#: supported edit-distance bound; 2 is the deletion-key explosion knee
#: (|t|²/2 keys per term) and past it the SymSpell literature agrees the
#: neighborhood join stops paying for itself
MAX_EDITS_LIMIT = 2


def split_fuzzy_query(
    query: str, default_edits: int = 1
) -> tuple[list[str], list[tuple[str, int]]]:
    """query string → (literal_segments, [(stem, edits)]). A trailing ``~``
    marks a fuzzy segment; ``~1`` / ``~2`` pin the distance. Driver-side
    mirror of the executor-side parse in _fuzzy_segments."""
    lits: list[str] = []
    fuzz: list[tuple[str, int]] = []
    for seg in (query or "").split():
        stem, edits = None, None
        if seg.endswith("~"):
            stem, edits = seg[:-1], default_edits
        elif len(seg) >= 2 and seg[-2] == "~" and seg[-1] in "0123456789":
            # exact mirror of the executor's rlike('~[0-9]$'): "~1" IS a
            # fuzzy segment (empty stem, dropped below), and non-ASCII
            # digits are NOT (str.isdigit accepts them; the rlike doesn't)
            stem, edits = seg[:-2], int(seg[-1])
        if stem is not None:
            stem = stem.lower()
            if stem and 0 < edits <= MAX_EDITS_LIMIT:
                fuzz.append((stem, edits))
        else:
            lits.append(seg)
    return lits, fuzz


def _fuzzy_segments(
    queries_df: DataFrame, default_edits: int
) -> tuple[DataFrame, DataFrame]:
    """(literal (query_id, term) relation, fuzzy (query_id, stem, edits)
    relation) — executor-side, never collected."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_pandas

    seg = queries_df.select(
        "query_id",
        F.explode(F.split(F.col("query"), r"\s+")).alias("seg"),
    ).filter(F.col("seg") != "")
    tail1 = F.col("seg").endswith("~")
    tailn = F.col("seg").rlike(r"~[0-9]$")
    lits = (
        seg.filter(~tail1 & ~tailn)
        .select(
            "query_id",
            F.explode(tokenize_code_pandas(F.col("seg"))).alias("term"),
        )
        .distinct()
    )
    fz = seg.filter(tail1 | tailn).select(
        "query_id",
        F.lower(
            F.when(tail1, F.expr("substring(seg, 1, length(seg)-1)"))
            .otherwise(F.expr("substring(seg, 1, length(seg)-2)"))
        ).alias("stem"),
        F.when(tail1, F.lit(int(default_edits)))
        .otherwise(F.expr("int(substring(seg, length(seg), 1))"))
        .alias("edits"),
    )
    fz = (
        fz.filter(
            (F.col("stem") != "")
            & (F.col("edits") > 0)
            & (F.col("edits") <= MAX_EDITS_LIMIT)
        )
        .distinct()
    )
    return lits, fz


def _deletion_keys(name: str, max_edits: int):
    """Catalyst expression: array of deletion-neighborhood keys of column
    ``name`` up to ``max_edits`` deletions (always includes the string
    itself). Single-deletion via transform(sequence); double-deletion
    composes the same transform over the first neighborhood, flattened.
    Deduped — a repeated character yields identical deletion strings."""

    def d1(expr_str: str) -> str:
        return (
            f"transform(sequence(1, length({expr_str})), i -> "
            f"concat(substring({expr_str}, 1, i-1), "
            f"substring({expr_str}, i+1, length({expr_str}))))"
        )

    keys = f"concat(array({name}), {d1(name)})"
    if max_edits >= 2:
        keys = (
            f"concat({keys}, flatten(transform({d1(name)}, x -> "
            f"transform(sequence(1, length(x)), j -> "
            f"concat(substring(x, 1, j-1), substring(x, j+1, length(x)))))))"
        )
    return F.expr(f"array_distinct({keys})")


def _fuzzy_candidates(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    fz_d: DataFrame,
) -> DataFrame | None:
    """Distinct (stem, edits) → verified (stem, edits, term) neighbor
    relation via the deletion-neighborhood join + levenshtein verify, or
    None when there are no stems. Shared by search_fuzzy and
    suggest_terms."""
    # length band of the stems (+/- max edits) prunes the dictionary scan;
    # bounded probe: two scalars + the max requested edit distance
    bounds = fz_d.agg(
        F.min(F.length("stem")).alias("lo"),
        F.max(F.length("stem")).alias("hi"),
        F.max("edits").alias("e"),
    ).collect()[0]
    if bounds["lo"] is None:
        return None
    lo = int(bounds["lo"]) - int(bounds["e"])
    hi = int(bounds["hi"]) + int(bounds["e"])
    e_max = int(bounds["e"])

    dict_terms = (
        global_term_stats(spark, index_dir, stats)
        .select("term")
        .filter(F.length("term").between(lo, hi))
    )
    dkeys = dict_terms.select(
        "term",
        F.explode(_deletion_keys("term", e_max)).alias("key"),
    )
    qkeys = fz_d.select(
        "stem", "edits",
        F.explode(_deletion_keys("stem", e_max)).alias("key"),
    )
    cand = (
        dkeys.join(qkeys, "key")
        .select("stem", "edits", "term")
        .distinct()
    )
    return cand.filter(
        F.levenshtein(F.col("stem"), F.col("term")) <= F.col("edits")
    )


def _expand_fuzzy(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    fz: DataFrame,
) -> DataFrame:
    """(query_id, stem, edits) → (query_id, term, stem) expansion relation.
    Distinct (stem, edits) pairs expand once, then join back to query
    ids."""
    verified = _fuzzy_candidates(
        spark, index_dir, stats, fz.select("stem", "edits").distinct()
    )
    if verified is None:
        return fz.select(
            "query_id", F.lit(None).cast("string").alias("term"), "stem"
        ).limit(0)
    return verified.join(fz, ["stem", "edits"]).select(
        "query_id", "term", "stem"
    )


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    terms_df: DataFrame,
    max_edits: int = 1,
    k: int = 5,
) -> DataFrame:
    """Did-you-mean: for each input term, the top-k dictionary terms within
    ``max_edits``, ranked like Lucene's DirectSpellChecker — closest edit
    distance first, then highest document frequency, then lexicographic.
    The input term itself appears at distance 0 when it is in-vocabulary
    (callers wanting only corrections filter ``distance > 0``).

    Input: a (term) relation. Output: (term, suggestion, distance, df,
    rank). Same deletion-neighborhood join as search_fuzzy — one dictionary
    scan, no cross join; the ranking window partitions by input term
    (bounded by the neighbor count, never corpus-sized)."""
    from pyspark.sql import Window

    if not 0 < max_edits <= MAX_EDITS_LIMIT:
        raise ValueError(
            f"max_edits must be in 1..{MAX_EDITS_LIMIT}, got {max_edits}"
        )
    stats = load_stats(index_dir)
    fz_d = (
        terms_df.select(F.lower(F.col("term")).alias("stem"))
        .filter(F.col("stem") != "")
        .distinct()
        .withColumn("edits", F.lit(int(max_edits)))
    )
    verified = _fuzzy_candidates(spark, index_dir, stats, fz_d)
    if verified is None:
        return spark.createDataFrame(
            [], "term string, suggestion string, distance int, df long, rank int"
        )
    gstats = global_term_stats(spark, index_dir, stats).select("term", "df")
    scored = (
        verified.select(
            F.col("stem").alias("term"),
            F.col("term").alias("suggestion"),
            F.levenshtein("stem", "term").cast("int").alias("distance"),
        )
        .join(
            gstats.select(
                F.col("term").alias("suggestion"),
                F.col("df").cast("long").alias("df"),
            ),
            "suggestion",
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("distance").asc(), F.col("df").desc(), F.col("suggestion").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("term", "suggestion", "distance", "df", "rank")
    )


def search_fuzzy(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    query_mode: str = "broadcast",
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    eager: bool = True,
    max_edits: int = 1,
) -> DataFrame:
    """Top-k fuzzy-expanded BM25 search (module docstring has the grammar).
    ``max_edits`` is the default distance for bare ``~`` segments (``~1`` /
    ``~2`` pin it per segment). Output: (query_id, doc_id, score, rank)."""
    if not 0 < max_edits <= MAX_EDITS_LIMIT:
        raise ValueError(
            f"max_edits must be in 1..{MAX_EDITS_LIMIT}, got {max_edits}"
        )
    stats = load_stats(index_dir)
    plane = _plane(query_mode, queries_df)
    lits, fz = _fuzzy_segments(queries_df, max_edits)
    exp = _expand_fuzzy(spark, index_dir, stats, fz)
    return _search_terms(
        spark, index_dir, stats, plane,
        lits.select("query_id", "term").unionByName(
            exp.select("query_id", "term")
        ),
        k, exclude_doc_ids, eager, include_doc_ids,
    )
