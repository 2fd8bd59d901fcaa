"""Boolean BM25 search: +required / -forbidden / bare scored terms.

The reference engine's query surface is a flat bag of terms
(/root/reference/dense_retriever/transforms/ann_index.py:93-98 scores every
query token); a full-text index tier additionally needs the classic boolean
operators. Query grammar (one string per query row):

    whitespace-separated segments; a segment may carry a prefix
      +seg   every term the tokenizer yields for ``seg`` is REQUIRED
             (conjunction) — and scored
      -seg   every term is FORBIDDEN (docs containing any are excluded)
      seg    every term is optional and scored (plain BM25 disjunction)

Matching docs contain ALL required terms and NONE of the forbidden ones; with
no required terms a doc must contain at least one scored term. The score is
the plain BM25 sum over the query's scored terms (required terms score too,
exactly Lucene's scoring MUST clause), so a query with only bare segments is
bit-identical to ``search()`` (asserted by tests). Ranked (score DESC,
doc_id ASC), top-k.

Role edge rules (deterministic on both planes):
  * the same term in several roles → the strongest wins
    (forbidden > required > optional);
  * an out-of-vocabulary REQUIRED term → the query matches nothing;
  * OOV forbidden/optional terms are ignored.

Two query planes, mirroring index/search.py and sharing its scorer helpers:

- ``broadcast`` (default, interactive): parse + role-resolve driver-side,
  term→df read from the committed dictionary (search._term_dfs),
  union of all roles' terms pushed into the shard scan as a parquet filter,
  broadcast {query → roles} map into a per-shard ``applyInPandas`` matcher.
- ``distributed``: the (query_id, term, role) relation never touches the
  driver — executor-side segment explode + Arrow tokenizer, dead queries
  (OOV required term) removed with a distributed anti-join, per-query
  required-term counts carried on each row (the phrase plane's n_terms
  trick) so a shard missing a required term proves non-match locally.
- ``auto``: probes |Q| with one bounded count and picks like search().

Per shard, one candidate function (``_shard_candidates``) serves search
and ``count_matches``: the shard's postings are decoded in one
``decode_postings_batch`` call and masked once (``search._shard_postings``,
the kill-list/allowed-id masks of every search), then each query's
required lists are intersected smallest-first, ``min_should_match`` keeps
the docs holding at least that many distinct optional terms (an overlap
count) and the forbidden lists are subtracted. Counting takes the sizes of
the candidate sets. Search scores the same decoded postings with the one
shard scorer (``search._score_postings`` at k = docs_per_shard, so every
doc a query touches keeps its exact sorted-term-order sum), keeps the
candidate rows and takes one (score DESC, doc_id ASC) top-k
(``search._topk_rows``). Masks apply before matching, so recall is exact
under any mask.

Scale: same plan shape as search() — one term-pruned scan, one cogroup/
groupBy exchange, shard-local top-k bounds the output at k × |Q| rows.
Driver state is O(|query batch|) on the broadcast plane and O(1) on the
distributed plane.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dense_retriever_spark.index.search import (
    RESULT_SCHEMA,
    _apply_per_shard,
    _excl_plan,
    _finish,
    _plane,
    _route_shards,
    _score_postings,
    _shard_postings,
    _shard_scan,
    _term_dfs,
    _topk_rows,
    global_term_stats,
    load_stats,
)
from dense_retriever_spark.index.wand import idf as idf_fn

#: role codes — ordered so "strongest wins" is a plain max()
ROLE_OPTIONAL, ROLE_REQUIRED, ROLE_FORBIDDEN = 0, 1, 2


def parse_boolean_query(query: str) -> list[tuple[str, int]]:
    """query string → [(term, role)] with role conflicts resolved
    (max-role wins). Tokenization per segment uses the exact index
    tokenizer, so ``+getHTTPResponse`` requires every term that identifier
    was indexed under."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_series

    segs: list[tuple[str, int]] = []
    for seg in (query or "").split():
        role = ROLE_OPTIONAL
        if seg.startswith("+"):
            role, seg = ROLE_REQUIRED, seg[1:]
        elif seg.startswith("-"):
            role, seg = ROLE_FORBIDDEN, seg[1:]
        if seg:
            segs.append((seg, role))
    if not segs:
        return []
    toks = tokenize_code_series(pd.Series([s for s, _ in segs]))
    roles: dict[str, int] = {}
    for (_, role), ts in zip(segs, toks):
        for t in ts:
            roles[t] = max(roles.get(t, ROLE_OPTIONAL), role)
    return sorted(roles.items())


def _parse_batch(queries_df: DataFrame) -> dict[int, list[tuple[str, int]]]:
    """{query_id: parse_boolean_query(query)} of a collected batch."""
    return {
        int(r["query_id"]): parse_boolean_query(r["query"])
        for r in queries_df.select("query_id", "query").collect()
    }


def _split_roles(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    parsed: dict[int, list[tuple[str, int]]],
) -> tuple[
    dict[int, tuple[list[str], list[str], list[str]]],
    list[str],
    dict[str, float],
]:
    """The role split of a parsed batch, shared by search and counting:
    (queries = {qid: (scored SORTED, required ⊆ scored, forbidden)}, the
    sorted scan terms of every role, idfs). The df lookup reads the
    committed dictionary (``_term_dfs``: pyarrow on a local index), and
    OOV terms follow the module docstring's role edge rules, so
    ``min_should_match`` counts in-vocabulary optional terms only."""
    scored_terms = sorted(
        {t for ts in parsed.values() for t, role in ts
         if role != ROLE_FORBIDDEN}
    )
    idfs = {
        t: idf_fn(v, float(stats["n_docs"]))
        for t, v in _term_dfs(spark, index_dir, stats, scored_terms).items()
    }
    queries: dict[int, tuple[list[str], list[str], list[str]]] = {}
    scan_terms: set[str] = set()
    for qid, ts in parsed.items():
        req = [t for t, role in ts if role == ROLE_REQUIRED]
        if any(t not in idfs for t in req):
            continue  # OOV required term: the query matches nothing
        scored = sorted(
            t for t, role in ts if role != ROLE_FORBIDDEN and t in idfs
        )
        if not scored:
            continue
        neg = [t for t, role in ts if role == ROLE_FORBIDDEN]
        queries[qid] = (scored, req, neg)
        scan_terms.update(scored)
        scan_terms.update(neg)
    return queries, sorted(scan_terms), idfs


def _shard_candidates(
    pdf: pd.DataFrame,
    queries: dict[int, tuple[list[str], list[str], list[str]]],
    dps: int,
    excl: np.ndarray | None,
    incl: np.ndarray | None,
    msm: int,
):
    """One shard's matching docs per query: (decoded postings, {qid:
    sorted candidate doc ids}) for the queries that match something. The
    rows of every term some query names are decoded and masked once
    (``_shard_postings``); ``queries`` as ``_split_roles`` builds them.

    ``msm`` (minimum_should_match): when > 0 and the query has OPTIONAL
    (non-required) terms, a matching doc must also contain at least ``msm``
    DISTINCT optional terms — exact shard-locally, as a doc lives in one
    shard. A query with no optional terms is unconstrained (the Lucene
    rule)."""
    wanted = {t for q in queries.values() for ts in q for t in ts}
    asked = np.fromiter((t in wanted for t in pdf["term"]), bool, len(pdf))
    post = _shard_postings(pdf, asked, dps, excl, incl)
    row_of = {t: i for i, t in enumerate(post.terms)}
    ends = np.cumsum(post.counts)

    def ids(t: str) -> np.ndarray:
        i = row_of[t]
        return post.ids[ends[i] - post.counts[i]:ends[i]]

    cands: dict[int, np.ndarray] = {}
    for qid, (scored, req, neg) in queries.items():
        if any(r not in row_of for r in req):
            continue  # a required term is absent from this shard
        req_set = set(req)
        opt = [t for t in scored if t not in req_set]
        if msm > 0 and opt and len(opt) < msm:
            continue  # the query's optional terms can never reach msm
        if req:
            req_ids = sorted((ids(r) for r in req), key=lambda a: a.size)
            sel = req_ids[0]
            for other in req_ids[1:]:
                if sel.size == 0:
                    break
                sel = np.intersect1d(sel, other, assume_unique=True)
        else:
            present = [ids(t) for t in scored if t in row_of]
            if not present:
                continue
            sel = np.unique(np.concatenate(present))
        if msm > 0 and opt and sel.size:
            present_opt = [ids(t) for t in opt if t in row_of]
            if len(present_opt) < msm:
                continue  # too few optional terms IN THIS SHARD to reach msm
            ids_u, cnt = np.unique(
                np.concatenate(present_opt), return_counts=True
            )
            sel = np.intersect1d(sel, ids_u[cnt >= msm], assume_unique=True)
        for f in neg:
            if sel.size == 0:
                break
            if f in row_of:
                sel = sel[~np.isin(sel, ids(f), assume_unique=True)]
        if sel.size:
            cands[qid] = sel
    return post, cands


def _boolean_shard(
    pdf: pd.DataFrame,
    queries: dict[int, tuple[list[str], list[str], list[str]]],
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dps: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
    msm: int = 0,
) -> pd.DataFrame:
    """applyInPandas body of boolean search over ONE shard's index rows:
    the shard's candidates (``_shard_candidates``), scored by the shard
    scorer over the same decoded postings at k = docs_per_shard, then
    the candidate rows' (score DESC, doc_id ASC) top-k per query."""
    cols = ["query_id", "doc_id", "score", "rank"]
    if len(pdf) == 0 or not queries:
        return pd.DataFrame(columns=cols)
    post, cands = _shard_candidates(pdf, queries, dps, excl, incl, msm)
    if not cands:
        return pd.DataFrame(columns=cols)
    scored = _score_postings(
        post, {q: queries[q][0] for q in cands}, idfs, dps, k1, b, avgdl,
        dps,
    )
    q = scored["query_id"].to_numpy(np.int64)
    d = scored["doc_id"].to_numpy(np.int64)
    # keep the candidate (query, doc) cells: key = query ordinal × dps +
    # local doc on both sides
    qs = np.sort(np.fromiter(cands, np.int64, len(cands)))
    cand_key = np.concatenate(
        [np.searchsorted(qs, q_) * dps + c - post.base
         for q_, c in cands.items()]
    )
    keep = np.isin(np.searchsorted(qs, q) * dps + d - post.base, cand_key)
    return _topk_rows(
        q[keep], d[keep], scored["score"].to_numpy(np.float64)[keep], k
    )


def _count_shard_boolean(
    pdf: pd.DataFrame,
    queries: dict[int, tuple[list[str], list[str], list[str]]],
    dps: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
    msm: int = 0,
) -> pd.DataFrame:
    """Counting body: per-shard MATCH-SET SIZE per query — the sizes of
    ``_shard_candidates``' sets, so counting and search share one
    candidate algebra INCLUDING ``msm``. Doc ids are unique to their
    shard, so the global count is a plain sum."""
    cands = {}
    if len(pdf) and queries:
        _post, cands = _shard_candidates(pdf, queries, dps, excl, incl, msm)
    return pd.DataFrame({
        "query_id": np.fromiter(cands, np.int64, len(cands)),
        "n_matches": np.fromiter(map(len, cands.values()), np.int64,
                                 len(cands)),
    })


def count_matches(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """Total-hits: the NUMBER of matching docs per query (the count a
    search UI shows next to the top-k), under the full boolean grammar —
    a plain bag-of-terms query counts docs containing ≥1 query term.
    Output: (query_id, n_matches) with a zero row for every input query
    (OOV-required and no-match queries included).

    Counting shares search's role split (``_split_roles``), so a query
    counts exactly the docs its search would rank with k unbounded — the
    out-of-vocabulary rules and ``min_should_match`` included. The df
    lookup behind it reads a local index's dictionary with pyarrow, not a
    Spark job. Per-shard match sets reduce to one long each; the global
    count is an exact sum because doc ids never span shards. Interactive
    (broadcast-plane) surface; training-set-scale counting composes the
    distributed boolean plane with its own aggregation."""
    stats = load_stats(index_dir)
    dps = stats["docs_per_shard"]
    msm = int(min_should_match)
    parsed = _parse_batch(queries_df)
    queries, scan_terms, _idfs = _split_roles(
        spark, index_dir, stats, parsed
    )
    all_qids = spark.createDataFrame(
        [(q,) for q in parsed], "query_id long"
    )
    zero = F.lit(0).cast("long")
    if not queries:
        return all_qids.select("query_id", zero.alias("n_matches"))

    excl, excl_rel = _excl_plan(exclude_doc_ids, dps)

    def _count(pdf, q, x, incl):
        return _count_shard_boolean(pdf, q, dps, x, incl, msm=msm)

    local, bc = _apply_per_shard(
        spark, _shard_scan(spark, index_dir, scan_terms), _count,
        "query_id long, n_matches long", queries, dps,
        excl, excl_rel, include_doc_ids,
    )
    counts = local.groupBy("query_id").agg(
        F.sum("n_matches").cast("long").alias("n_matches")
    )
    out = (
        all_qids.join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_matches"), zero).alias("n_matches"),
        )
        .localCheckpoint(eager=True)
    )
    bc.destroy()
    return out


def search_boolean(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    query_mode: str = "broadcast",
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    eager: bool = True,
    min_should_match: int = 0,
) -> DataFrame:
    """Top-k boolean BM25 search (module docstring has the grammar).
    Output: (query_id, doc_id, score, rank).

    ``min_should_match``: Lucene's msm knob — when > 0, a matching doc
    must contain at least that many DISTINCT optional (bare, in-vocab)
    terms on top of every ``+required`` term; queries with no optional
    terms are unconstrained. Identical on both planes (the count only
    depends on the doc's own shard)."""
    stats = load_stats(index_dir)
    if min_should_match < 0:
        raise ValueError(
            f"min_should_match must be >= 0, got {min_should_match}"
        )
    plane = _plane(query_mode, queries_df)
    run = _boolean_broadcast if plane == "broadcast" else _boolean_distributed
    return run(
        spark, index_dir, stats, queries_df, k,
        exclude_doc_ids, include_doc_ids, eager, min_should_match,
    )


def _boolean_broadcast(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    queries_df: DataFrame,
    k: int,
    exclude_doc_ids: DataFrame | None,
    include_doc_ids: DataFrame | None,
    eager: bool,
    msm: int = 0,
) -> DataFrame:
    avgdl, k1, b = stats["avgdl"], stats["k1"], stats["b"]
    dps = stats["docs_per_shard"]
    queries, scan_terms, idfs = _split_roles(
        spark, index_dir, stats, _parse_batch(queries_df)
    )
    if not queries:
        return spark.createDataFrame([], RESULT_SCHEMA)

    excl, excl_rel = _excl_plan(exclude_doc_ids, dps)

    def _match(pdf, p, x, incl):
        q, i = p
        return _boolean_shard(
            pdf, q, i, k, k1, b, avgdl, dps, x, incl, msm=msm
        )

    local, bc = _apply_per_shard(
        spark, _shard_scan(spark, index_dir, scan_terms), _match,
        RESULT_SCHEMA, (queries, idfs), dps, excl, excl_rel, include_doc_ids,
    )
    return _finish(spark, local, k, eager, [bc])


def boolean_query_terms(queries_df: DataFrame) -> DataFrame:
    """(query_id, term, role) — executor-side mirror of
    parse_boolean_query: whitespace segments, +/- prefix → role, Arrow
    tokenizer per segment, max-role conflict resolution. Never collected."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_pandas

    seg = queries_df.select(
        "query_id",
        F.explode(F.split(F.col("query"), r"\s+")).alias("seg"),
    ).filter(F.col("seg") != "")
    role = (
        F.when(F.col("seg").startswith("+"), F.lit(ROLE_REQUIRED))
        .when(F.col("seg").startswith("-"), F.lit(ROLE_FORBIDDEN))
        .otherwise(F.lit(ROLE_OPTIONAL))
    )
    stem = F.when(
        role != ROLE_OPTIONAL, F.expr("substring(seg, 2)")
    ).otherwise(F.col("seg"))
    return (
        seg.select(
            "query_id",
            role.alias("role"),
            F.explode(tokenize_code_pandas(stem)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.max("role").alias("role"))
    )


def _boolean_distributed(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    queries_df: DataFrame,
    k: int,
    exclude_doc_ids: DataFrame | None,
    include_doc_ids: DataFrame | None,
    eager: bool,
    msm: int = 0,
) -> DataFrame:
    """O(1)-driver-state boolean plane: the (query_id, term, role) relation
    stays a DataFrame end-to-end.

      boolean_query_terms ⟕ global stats      [left join: df NULL = OOV]
        → dead queries (OOV required) anti-joined out
        → per-query n_req window count        [phrase plane's n_terms trick]
        ⋈ shard-term presence                 [each shard learns ITS slice]
        → cogroup with the shard scan; the matcher rebuilds roles/idf per
          shard and proves required-term absence locally (slice req count
          < n_req → no match in this shard)
    """
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    k1, b = stats["k1"], stats["b"]
    dps = stats["docs_per_shard"]

    qt = boolean_query_terms(queries_df)
    gstats = global_term_stats(spark, index_dir, stats).select("term", "df")
    qtj = qt.join(gstats, "term", "left").select(
        "query_id", "term", "role", F.col("df").cast("long").alias("df")
    )
    dead = (
        qtj.filter(
            (F.col("role") == ROLE_REQUIRED) & F.col("df").isNull()
        )
        .select("query_id")
        .distinct()
    )
    # OOV non-required terms are inert (nothing to score or exclude); an
    # OOV REQUIRED term kills its whole query
    live = qtj.filter(F.col("df").isNotNull()).join(
        dead, "query_id", "left_anti"
    )
    qw = Window.partitionBy("query_id")
    live = (
        live.withColumn(
            "n_req",
            F.sum(
                F.when(F.col("role") == ROLE_REQUIRED, 1).otherwise(0)
            ).over(qw),
        )
        # n_opt = the query's GLOBAL live optional-term count: a shard that
        # holds a query's required terms but NONE of its optional terms
        # would otherwise see an empty opt list and silently skip the
        # min_should_match constraint (matching docs with zero optional
        # hits) — n_opt > 0 with too few shard-present optional terms
        # proves non-match locally instead
        .withColumn(
            "n_opt",
            F.sum(
                F.when(F.col("role") == ROLE_OPTIONAL, 1).otherwise(0)
            ).over(qw),
        )
    )

    def _match_dist(left, q, x, incl):
        # sorted-term order == the broadcast plane's sorted() everywhere
        q = q.sort_values(["query_id", "term"], kind="mergesort")
        queries: dict[int, tuple[list[str], list[str], list[str]]] = {}
        idfs: dict[str, float] = {}
        for qid, grp in q.groupby("query_id", sort=False):
            roles = grp["role"].to_numpy(np.int64)
            terms = grp["term"].tolist()
            n_req = int(grp["n_req"].iloc[0])
            req = [t for t, r in zip(terms, roles) if r == ROLE_REQUIRED]
            if len(req) < n_req:
                continue  # a required term is absent from this shard
            if msm > 0 and int(grp["n_opt"].iloc[0]) > 0:
                n_opt_here = int((roles == ROLE_OPTIONAL).sum())
                if n_opt_here < msm:
                    # the query HAS optional terms but this shard holds
                    # fewer than msm of them — no doc here can reach the
                    # constraint (a doc's postings never span shards);
                    # covers the n_opt_here == 0 case the matcher's
                    # `msm > 0 and opt` guard would silently wave through
                    continue
            scored = [t for t, r in zip(terms, roles) if r != ROLE_FORBIDDEN]
            if not scored:
                continue
            neg = [t for t, r in zip(terms, roles) if r == ROLE_FORBIDDEN]
            queries[int(qid)] = (scored, req, neg)
            for t, df_ in zip(terms, grp["df"].to_numpy(np.int64)):
                if t not in idfs:
                    idfs[t] = idf_fn(float(df_), float(n_docs))
        return _boolean_shard(
            left, queries, idfs, k, k1, b, avgdl, dps, x, incl, msm=msm
        )

    local, bcs, held = _route_shards(
        spark, index_dir, live, eager, ["term", "postings"], _match_dist,
        RESULT_SCHEMA, masks=(exclude_doc_ids, include_doc_ids, dps),
    )
    return _finish(spark, local, k, eager, bcs, held)
