"""Multi-field search: weighted combination of per-field BM25 indexes.

Reference analog: the reference engine scores ONE text per document (the
`text` column fed to the encoder, /root/reference/dense_retriever/
transforms/text_transforms.py); real corpora carry several retrievable
fields (title/body, docstring/code) whose hits should not weigh equally.
The classic IR construction (Lucene's MultiFieldQueryParser with per-field
boosts, Robertson's BM25F family) scores each field with its OWN collection
statistics and combines per-field scores with caller weights:

    score(q, d) = Σ_f  w_f · BM25_f(q, d)        (combine='sum')
    score(q, d) = max_f w_f · BM25_f(q, d)       (combine='max', dismax)

where BM25_f uses field f's n_docs / avgdl / df — a short title field gets
title-appropriate length normalization instead of being drowned by body
statistics. Each field is a plain index built by ``build_index`` over that
field's text, so every index feature (incremental refresh, compaction,
tombstones, the copy-forward dictionary commit, both query planes) applies
per field unchanged.

The combination is exact, not top-k-merged: a per-field top-k would lose
score mass exactly where fields disagree (a doc ranked 200th by body but
1st by title must still receive its body contribution).

Two physical plans, same results (oracle q68/q69 + tests assert identity):

* FUSED (broadcast plane, all fields sharing one ``docs_per_shard`` — the
  common case, since the fields are projections of one corpus): because a
  doc's postings for EVERY field live in the same doc-range shard id
  (shard = doc_id // docs_per_shard), the weighted combination is
  shard-local — one union of the per-field term-pruned scans tagged with a
  source ordinal, ONE groupBy(shard) exchange, and a per-shard body
  (``_fields_shard``) that decodes and masks the shard's rows of every
  field once, scores each field index with the one shard scorer of every
  search (``search._score_postings`` at k = docs_per_shard, that index's
  statistics), combines per-doc in the caller's field order, and emits a
  per-shard top-k of the COMBINED score (exact: shards partition the doc
  space, so the global top-k of per-shard top-ks is the true top-k). This
  removes the |matches|-row (query_id, doc_id) shuffle + pivot of the
  general plan entirely — the round-8 optimization that took the bench
  multifield p50 from ~14× to ~2× the plain-search p50. Fields that
  reference the SAME index directory share one scan and one scoring pass
  (identical inputs give identical per-field scores).
* GENERAL (distributed plane, or mismatched docs_per_shard):
  ``score_matches`` (index/search.py) supplies the full per-field matched
  relation — per-shard cost identical to a normal search minus the top-k
  heap — and the combine is ONE hash aggregation on (query_id, doc_id)
  over the unioned legs, then the standard windowed top-k. Nothing is
  collected; the plan survives any corpus size that the single-field
  search survives.

Determinism: the combined score is computed as a FIXED-ORDER expression
over pivoted per-field columns (coalesce(s_f, 0)·w_f summed in the caller's
field order), not a float SUM aggregate whose partial-aggregation order
Spark does not define — so engine and oracle add the same numbers in the
same order, and the usual round-to-4dp-then-rank gate convention holds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.index.search import (
    MATCHES_SCHEMA,
    RESULT_SCHEMA,
    _apply_per_shard,
    _excl_plan,
    _finish,
    _plane,
    _score_postings,
    _shard_postings,
    _shard_scan,
    _term_dfs,
    _topk_rows,
    load_stats,
    score_matches,
)
from dense_retriever_spark.index.wand import idf as idf_fn


def _fields_shard(
    pdf: pd.DataFrame,
    qmap: dict[int, list[str]],
    dir_idfs: list[dict[str, float]],
    dir_params: list[tuple[float, float, float]],
    dir_of: list[int],
    weights: list[float],
    combine: str,
    dps: int,
    k: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
) -> pd.DataFrame:
    """applyInPandas body for the FUSED plan: one shard's term-pruned rows
    from EVERY field leg (``src`` = dir ordinal), decoded and masked in one
    ``_shard_postings`` call. Each dir's rows are scored by the shard
    scorer (``_score_postings`` at k = docs_per_shard with that index's
    idfs and k1/b/avgdl), so each per-field score is the single-field
    search's sum; the combined score is the caller-field-order left fold
    w_0·s_0 + w_1·s_1 + … (or the running max for dismax), with s_f = 0
    for a doc field f does not match — exactly the float-op order of the
    general plan's pivot expression, so the two plans are bit-identical.
    One (score DESC, doc_id ASC) top-k of the combined score per query
    follows (``_topk_rows``)."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=["query_id", "doc_id", "score", "rank"])
    pdf = pdf.sort_values("src", kind="stable")  # each dir's rows contiguous
    src = pdf["src"].to_numpy(np.int64)
    asked = np.fromiter(
        (t in dir_idfs[di] for di, t in zip(src, pdf["term"])), bool, len(pdf)
    )
    post = _shard_postings(pdf, asked, dps, excl, incl)
    bounds = np.searchsorted(src[asked], np.arange(len(dir_idfs) + 1))
    qs = np.array(sorted(qmap), dtype=np.int64)
    keys, vals = [], []  # per dir: (query ordinal × dps + local doc, score)
    for di, (k1, b, avgdl) in enumerate(dir_params):
        part = _score_postings(
            post.rows(bounds[di], bounds[di + 1]), qmap, dir_idfs[di],
            dps, k1, b, avgdl, dps,
        )
        keys.append(
            np.searchsorted(qs, part["query_id"].to_numpy(np.int64)) * dps
            + part["doc_id"].to_numpy(np.int64) - post.base
        )
        vals.append(part["score"].to_numpy(np.float64))
    hit = np.unique(np.concatenate(keys))
    per_dir = []
    for key, val in zip(keys, vals):
        s = np.zeros(hit.size, dtype=np.float64)
        s[np.searchsorted(hit, key)] = val
        per_dir.append(s)
    total = None
    for fi, w in enumerate(weights):
        c = per_dir[dir_of[fi]] * w
        if total is None:
            total = c
        elif combine == "sum":
            total = total + c
        else:
            total = np.maximum(total, c)
    q_at, lidx = np.divmod(hit, dps)
    return _topk_rows(qs[q_at], lidx + post.base, total, k)


def _search_fields_fused(
    spark: SparkSession,
    fields: list[tuple[str, str, float]],
    stats_list: list[dict],
    queries_df: DataFrame,
    k: int,
    combine: str,
    exclude_doc_ids: DataFrame | None,
    include_doc_ids: DataFrame | None,
) -> DataFrame:
    """The shard-local combined plan (module docstring, FUSED). Requires a
    shared docs_per_shard across every field index (checked by the caller).
    """
    from dense_retriever_spark.operators.bm25 import query_terms

    dps = int(stats_list[0]["docs_per_shard"])
    qt = query_terms(queries_df).collect()
    qmap: dict[int, list[str]] = {}
    for r in qt:
        qmap.setdefault(int(r["query_id"]), []).append(r["term"])
    for qid in qmap:
        qmap[qid] = sorted(set(qmap[qid]))
    all_terms = sorted({t for ts in qmap.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], RESULT_SCHEMA)

    # one scan + one idf table per DISTINCT index dir: fields that read the
    # same physical index share both (same inputs → identical field scores)
    dirs: list[str] = []
    dir_of: list[int] = []  # field ordinal → dir ordinal
    dir_stats: dict[str, dict] = {}
    for (_n, d, _w), st in zip(fields, stats_list):
        if d not in dir_stats:
            dirs.append(d)
            dir_stats[d] = st
        dir_of.append(dirs.index(d))
    dir_idfs: list[dict[str, float]] = []
    dir_params: list[tuple[float, float, float]] = []
    dir_present: list[list[str]] = []
    for d in dirs:
        st = dir_stats[d]
        idfs = {
            t: idf_fn(v, float(st["n_docs"]))
            for t, v in _term_dfs(spark, d, st, all_terms).items()
        }
        dir_idfs.append(idfs)
        dir_params.append(
            (float(st["k1"]), float(st["b"]), float(st["avgdl"]))
        )
        dir_present.append(sorted(idfs))
    if not any(dir_present):
        return spark.createDataFrame([], RESULT_SCHEMA)
    weights = [float(w) for _n, _d, w in fields]

    excl, excl_rel = _excl_plan(exclude_doc_ids, dps)
    legs = [
        _shard_scan(spark, d, dir_present[di]).withColumn("src", F.lit(di))
        for di, d in enumerate(dirs)
        if dir_present[di]  # else every query term is OOV for this index
    ]
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)

    def _score(pdf, p, x, incl):
        return _fields_shard(pdf, *p, dps, k, x, incl)

    local, _bc = _apply_per_shard(
        spark, u, _score, RESULT_SCHEMA,
        (qmap, dir_idfs, dir_params, dir_of, weights, combine), dps,
        excl, excl_rel, include_doc_ids,
    )
    return _finish(spark, local, k, False, [])


def search_fields(
    spark: SparkSession,
    fields: list[tuple[str, str, float]],
    queries_df: DataFrame,
    k: int = 10,
    combine: str = "sum",
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    query_mode: str = "broadcast",
) -> DataFrame:
    """Top-k weighted multi-field BM25. Output: (query_id, doc_id, score,
    rank) — the ``search`` contract.

    ``fields``: [(field_name, index_dir, weight), ...] in the score-
    accumulation order (fixed-order float addition — see module docstring).
    Field names must be distinct. Every index must cover the SAME doc_id
    space (they are different projections of one corpus); a doc missing
    from a field simply contributes 0 for that field.

    ``combine``: 'sum' (BM25F-style weighted sum) or 'max' (dismax — best
    single field wins; ties broken by doc_id as everywhere).

    ``exclude_doc_ids`` / ``include_doc_ids`` apply to every field leg
    (masking happens inside each field's scorer, before any combination, so
    a tombstoned doc can never surface through a second field).

    Plan shape: |fields| term-pruned index scans (each the plain search
    scan) → union → ONE shuffle on (query_id, doc_id) (pivot aggregation)
    → windowed top-k. The per-field legs carry only matched (query, doc)
    rows, bounded by the query terms' posting sizes — the same intermediate
    any disjunctive scorer holds before truncation.
    """
    if combine not in ("sum", "max"):
        raise ValueError(f"unknown combine {combine!r}")
    names = [f[0] for f in fields]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate field names in {names}")
    if not fields:
        raise ValueError("fields must be non-empty")
    plane = _plane(query_mode, queries_df)  # once, not once per field leg

    # FUSED shard-local plan (module docstring): broadcast plane + one
    # shared shard granularity → the combination never leaves the shard,
    # and the |matches|-row pivot shuffle disappears. Bit-identical to the
    # general plan (tests + the q68 oracle).
    stats_list = [load_stats(d) for _n, d, _w in fields]
    if (
        plane == "broadcast"
        and len({int(s["docs_per_shard"]) for s in stats_list}) == 1
    ):
        return _search_fields_fused(
            spark, fields, stats_list, queries_df, k, combine,
            exclude_doc_ids, include_doc_ids,
        )

    legs = []
    for name, index_dir, _w in fields:
        m = score_matches(
            spark, index_dir, queries_df,
            exclude_doc_ids=exclude_doc_ids,
            include_doc_ids=include_doc_ids,
            query_mode=plane,
        )
        legs.append(m.withColumn("field", F.lit(name)))
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)

    # one (query_id, doc_id) row per matched doc, per-field scores as
    # columns; the explicit pivot value list keeps Spark from running a
    # discovery job and fixes the column order
    per_doc = (
        u.groupBy("query_id", "doc_id")
        .pivot("field", names)
        .agg(F.first("score"))
    )
    contribs = [
        F.coalesce(F.col(name), F.lit(0.0)) * F.lit(float(w))
        for name, _d, w in fields
    ]
    if combine == "sum":
        total = contribs[0]
        for c in contribs[1:]:
            total = total + c
    else:
        total = F.greatest(*contribs) if len(contribs) > 1 else contribs[0]
    scored = per_doc.select(
        "query_id", "doc_id", total.alias("score")
    )
    return _finish(spark, scored, k, False, [])


def derive_field(
    docs: DataFrame,
    text_col: str,
    n_head: int,
    head: bool,
    out_col: str = "text",
) -> DataFrame:
    """Deterministic token-split field projection for corpora that carry a
    single text column: ``head=True`` keeps the first ``n_head`` tokens
    (a synthetic 'title'), ``head=False`` the rest (the 'body'). Tokens are
    the engine tokenizer's ([a-z0-9]+ of the lowercased text), re-joined
    with single spaces — tokenizing the derived field reproduces exactly
    the token slice, so per-field statistics are well-defined. Pure column
    expressions; no UDF."""
    from dense_retriever_spark.functions.tokenizer import tokenize_text_expr

    toks = tokenize_text_expr(F.col(text_col))
    if head:
        part = F.slice(toks, 1, n_head)
    else:
        tail_len = F.greatest(F.size(toks) - n_head, F.lit(0))
        part = F.when(
            tail_len > 0, F.slice(toks, n_head + 1, tail_len)
        ).otherwise(F.array().cast("array<string>"))
    return docs.withColumn(out_col, F.array_join(part, " "))


__all__ = ["search_fields", "derive_field", "MATCHES_SCHEMA"]
