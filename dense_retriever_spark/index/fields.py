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
  source ordinal, ONE groupBy(shard) exchange, and a per-shard scorer that
  dense-accumulates each field exactly like the single-field exact scorer,
  combines per-doc in the caller's field order, and emits a per-shard
  top-k of the COMBINED score (exact: shards partition the doc space, so
  the global top-k of per-shard top-ks is the true top-k). This removes
  the |matches|-row (query_id, doc_id) shuffle + pivot of the general
  plan entirely — the round-8 optimization that took the bench multifield
  p50 from ~14× to ~2× the plain-search p50. Fields that reference the
  SAME index directory share one scan and one per-(dir, term) score
  accumulation (identical inputs give identical per-field scores).
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

from dense_retriever_spark.index.codec import decode_postings_batch
from dense_retriever_spark.index.search import (
    MATCHES_SCHEMA,
    RESULT_SCHEMA,
    _apply_per_shard,
    _excl_plan,
    _plane,
    _shard_scan,
    _term_dfs_cached,
    load_stats,
    score_matches,
)
from dense_retriever_spark.index.wand import _contrib, _topk, idf as idf_fn
from dense_retriever_spark.operators.topk import topk_per_group


def _score_shard_fields(
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
    from EVERY field leg (``src`` = dir ordinal). Per (dir, query) the score
    is the single-field exact scorer's dense accumulation (sorted-term
    order, identical floats); the combined score is the caller-field-order
    left fold w_0·s_0 + w_1·s_1 + … (or the running max for dismax) —
    exactly the float-op order of the general plan's pivot expression, so
    the two plans are bit-identical. Per-(dir, term) BM25 contributions are
    computed once per shard and shared across every query touching the term
    (elementwise math — values unchanged)."""
    cols = ["query_id", "doc_id", "score", "rank"]
    if len(pdf) == 0:
        return pd.DataFrame(columns=cols)
    shard = int(pdf["shard"].iloc[0])
    base = shard * dps
    shard_excl = None
    if excl is not None and excl.size:
        lo, hi = np.searchsorted(excl, [base, base + dps])
        shard_excl = excl[lo:hi]
        if shard_excl.size == 0:
            shard_excl = None
    masked = shard_excl is not None or incl is not None
    decoded: dict[tuple[int, str], tuple] = {}
    contribs: dict[tuple[int, str], np.ndarray] = {}
    srcs = pdf["src"].astype(int).tolist()
    terms = pdf["term"].tolist()
    wanted = [
        i for i, (di, t) in enumerate(zip(srcs, terms)) if t in dir_idfs[di]
    ]
    counts, all_ids, all_tfs, all_dls = decode_postings_batch(
        pdf["postings"].iloc[wanted].tolist()
    )
    cuts = np.cumsum(counts)[:-1]
    for r, ids, tfs, dls in zip(  # one iteration per (src, term)
        wanted,
        np.split(all_ids, cuts),
        np.split(all_tfs, cuts),
        np.split(all_dls, cuts),
    ):
        di, term = srcs[r], terms[r]
        if shard_excl is not None:
            keep = ~np.isin(ids, shard_excl, assume_unique=True)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if incl is not None and ids.size:
            keep = np.isin(ids, incl, assume_unique=True)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if masked and ids.size == 0:
            continue
        decoded[(di, term)] = (ids, tfs, dls)

    def contrib_of(di: int, t: str) -> np.ndarray:
        key = (di, t)
        c = contribs.get(key)
        if c is None:
            ids, tfs, dls = decoded[key]
            k1, b, avgdl = dir_params[di]
            c = contribs[key] = _contrib(
                dir_idfs[di][t], tfs, dls, k1, b, avgdl
            )
        return c

    n_dirs = len(dir_idfs)
    live_dirs = sorted(set(dir_of))
    out_q, out_d, out_s = [], [], []
    zeros: np.ndarray | None = None
    for qid, terms in qmap.items():
        touched = np.zeros(dps, dtype=bool)
        accs: list[np.ndarray | None] = [None] * n_dirs
        for di in live_dirs:
            acc = None
            for t in terms:  # sorted-term accumulation order (wand parity)
                got = decoded.get((di, t))
                if got is None:
                    continue
                if acc is None:
                    acc = np.zeros(dps, dtype=np.float64)
                lidx = got[0] - base
                acc[lidx] += contrib_of(di, t)
                touched[lidx] = True
            accs[di] = acc
        hit = np.flatnonzero(touched)
        if hit.size == 0:
            continue
        total: np.ndarray | None = None
        for fi, w in enumerate(weights):
            a = accs[dir_of[fi]]
            if a is None:
                if zeros is None:
                    zeros = np.zeros(dps, dtype=np.float64)
                a = zeros
            c = a * w
            if total is None:
                total = c
            elif combine == "sum":
                total = total + c
            else:
                total = np.maximum(total, c)
        scores, doc_ids = _topk(total[hit], hit + base, k)
        out_q.append(np.full(scores.size, qid, dtype=np.int64))
        out_d.append(doc_ids)
        out_s.append(scores)
    if not out_q:
        return pd.DataFrame(columns=cols)
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
            "rank": np.zeros(sum(x.size for x in out_q), dtype=np.int32),
        }
    )


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
        vals = _term_dfs_cached(spark, d, st, all_terms)
        idfs = {
            t: idf_fn(v, float(st["n_docs"]))
            for t, v in vals.items()
            if v >= 0.0
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
        return _score_shard_fields(pdf, *p, dps, k, x, incl)

    local, _bc = _apply_per_shard(
        spark, u, _score, RESULT_SCHEMA,
        (qmap, dir_idfs, dir_params, dir_of, weights, combine), dps,
        excl, excl_rel, include_doc_ids,
    )
    out = topk_per_group(local.drop("rank"), "query_id", "score", k)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )


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
    out = topk_per_group(scored, "query_id", "score", k)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )


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
