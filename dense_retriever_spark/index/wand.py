"""Shard-local BM25 scoring primitives (numpy — no per-posting Python).

Reference analog: ``index.search(query_embeddings, top_n)``
(/root/reference/dense_retriever/transforms/ann_index.py:93-98) — exact
brute-force top-n. Here the exact scorer walks only the postings of the query
terms (sublinear in corpus size):

- ``_contrib`` — the per-posting BM25 contribution, elementwise, so it gives
  the same floats over one term's postings or a whole shard's at once.
- ``score_query_exact`` — ONE query: dense float64 accumulator over the
  shard's doc range; contributions added term-by-term in sorted-term order,
  so the float summation order matches the oracle bit-for-bit (SURVEY.md
  §7.4). Every search scores a shard's whole batch with
  ``search._score_shard`` instead, which keeps this summation order; this
  function is the per-query reference its tests compare against bit for bit.

There is no block-max (WAND-family) pruning: with per-term contributions
cached across a batch, a vectorized block-max pass touched every posting
anyway and measured 2.6–5.4× slower than this scorer (round 8), so the
per-block metadata and the pruned scorer were removed in index format v3.

Scoring math (must stay EXACTLY in this operation order — it mirrors the
Catalyst expression tree in operators/bm25.py::bm25_contrib_expr):
  idf   = log(1 + (N - df + 0.5)/(df + 0.5))
  denom = tf + k1*((1-b) + (b*dl)/avgdl)
  contrib = ((idf * tf) * (k1+1)) / denom
"""

from __future__ import annotations

import math

import numpy as np


def idf(df: float, n_docs: float) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _contrib(idf_t: float | np.ndarray, tf: np.ndarray, dl: np.ndarray,
             k1: float, b: float, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    denom = tf + k1 * ((1.0 - b) + (b * dl) / avgdl)
    return ((idf_t * tf) * (k1 + 1.0)) / denom


def _topk(scores: np.ndarray, doc_ids: np.ndarray, k: int):
    """Top-k by (score desc, doc_id asc) — deterministic tie-break."""
    if scores.size == 0:
        return scores, doc_ids
    if scores.size > k:
        cand = np.argpartition(-scores, k - 1)[:k]
        kth = scores[cand].min()
        sel = np.flatnonzero(scores >= kth)  # keep ties for exact tie-break
    else:
        sel = np.arange(scores.size)
    order = np.lexsort((doc_ids[sel], -scores[sel]))
    sel = sel[order][:k]
    return scores[sel], doc_ids[sel]


def score_query_exact(
    term_rows: list[tuple[str, float, np.ndarray, np.ndarray, np.ndarray]],
    base: int,
    span: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """term_rows: [(term, idf, doc_ids, tfs, dls)] SORTED by term.
    Returns (scores, doc_ids) of the shard-local top-k."""
    acc = np.zeros(span, dtype=np.float64)
    touched = np.zeros(span, dtype=bool)
    for _term, idf_t, ids, tf, dl in term_rows:
        lidx = ids - base
        acc[lidx] += _contrib(idf_t, tf, dl, k1, b, avgdl)
        touched[lidx] = True
    hit = np.flatnonzero(touched)
    return _topk(acc[hit], hit + base, k)
