"""Distributed BM25 top-k search over the sharded inverted index.

Reference analog: ``search_from_prebuilt`` — load index, search, decode ids
(/root/reference/dense_retriever/transforms/ann_index.py:93-107 and
/root/reference/dense_retriever/cli/ann_index.py:27-48). The rebuild's plan:

  query set                           index shards/ (parquet, doc-partitioned)
      │ tokenize + dedupe terms             │ scan with term-IN pushdown filter
      │ look up global df → idf             │   (Catalyst prunes untouched
      │ broadcast {qid→terms},{term→idf}    │    columns + row groups)
      │   (or: flow as a RELATION —         │
      │    query_mode='distributed')        │
      └──────────────┐                      │
                     ▼                      ▼
         groupBy(shard).applyInPandas(score all queries per shard)
                     │  shard-local top-k per query (numpy scorer)
                     ▼
         global window top-k (score DESC, doc_id ASC)  →  results

Three planes, same scorer, same tie-break, bit-identical results (q38 vs
q49 oracles; tests/test_long_tail_rank_identity.py):

* ``broadcast`` — the (qid, term) relation is collected to the driver. Right
  for interactive/bench batches (a 200-query batch is KBs); the per-shard
  scorer sees every query at once, so the index is read EXACTLY once per
  search regardless of |Q|. Once the terms are on the driver, their df
  comes from the committed dictionary (``_term_dfs``: pyarrow on a local
  index, one term-pruned collect elsewhere) and the call takes one of two
  sub-planes:

  - driver-local (``_search_local``) — when the index is on the local
    filesystem (``fs.local_path``), ``k`` is set (not ``score_matches``),
    there is no ``include_doc_ids`` relation and the kill-list fits the
    driver array (``_excl_plan``). The term-pruned shard rows are read
    with pyarrow, each shard is scored with
    ``_score_shard`` and the top k are merged on the driver; the result is
    a local relation. A search without a kill-list runs ONE Spark job (the
    query tokenizer) instead of about eleven — Spark's per-job cost, not
    BM25, is what a small batch pays for.
  - Spark broadcast — every other broadcast call (non-local URIs,
    ``include_doc_ids``, ``score_matches``, kill-lists past the ceiling):
    qmap/idf ride an sc.broadcast into ``groupBy(shard).applyInPandas``.
* ``distributed`` — the query relation NEVER touches the driver: query terms
  join the global stats for df, join the shard-term presence relation, and
  arrive at each shard's scorer COGROUPED with the shard scan. Driver state
  is O(1) at any |Q| — this is the plane the refresh loop's full-training-set
  search (millions of queries, the reference's training.py:75-83 regime)
  runs on, where a driver-side qmap/idf dict would be the scaling ceiling.

The query-plane layer. Every search entry point of the package (``search``,
``score_matches`` and the prefix, fuzzy, regex, synonym, boolean, phrase,
multi-field and more-like-this searches) makes its routing decisions
through the same four private helpers here, so a plane behaves the same
whichever grammar feeds it:

* ``_plane`` — the plane rule: ``'auto'`` probes the batch with one bounded
  count against ``QUERY_BROADCAST_LIMIT``; an unknown mode raises.
* ``_apply_per_shard`` — the Spark broadcast plane's per-shard call: one
  sc.broadcast of the scorer's payload and the kill-list array, then a
  plain ``groupBy(shard).applyInPandas`` or, with an allowed-id relation or
  a kill-list past the driver ceiling, a cogroup with both masks.
* ``_route_shards`` — the distributed plane's shard routing: the
  shard-term presence join, the ``TERM_FILTER_LIMIT`` scan prefilter, the
  mask legs of the cogroup and its right-hand split.
* ``_search_terms`` — the one entry for a (query_id, term) relation,
  tokenized or rewritten (prefix/regex/fuzzy expansion, synonyms, MLT
  term selection): the broadcast plane collects it, the distributed plane
  keeps it lazy.
"""

from __future__ import annotations

import json
import os
import warnings
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.functions.tokenizer import tokenize_code_expr
from dense_retriever_spark.index import fs
from dense_retriever_spark.index.build import IndexPaths
from dense_retriever_spark.index.codec import decode_postings_batch
from dense_retriever_spark.index.wand import _contrib, idf as idf_fn
from dense_retriever_spark.operators.topk import topk_per_group

RESULT_SCHEMA = "query_id long, doc_id long, score double, rank int"
MATCHES_SCHEMA = "query_id long, doc_id long, score double"

#: query_mode='auto' switches broadcast → distributed above this many
#: queries. Sized so the driver-side qmap/idf dict stays a few tens of MB
#: (~5 terms/query); beyond it the collect itself is the scaling bug.
QUERY_BROADCAST_LIMIT = 100_000

#: distributed mode prefilters the shard scan by query terms with a
#: broadcast semi-join only while the distinct-term set is small enough to
#: broadcast; above this, query terms cover most of the vocabulary anyway
#: and the filter would not prune (the scorer still skips unasked terms).
TERM_FILTER_LIMIT = 1_000_000

#: the broadcast plane prunes its index scans by query term with an
#: IN-literal (parquet pushdown — row-group stats skip I/O) only up to this
#: many distinct terms; past it the filter becomes a broadcast left-semi
#: join, the same shape the distributed plane uses. MEASURED (BENCH/
#: BASELINE.md round 5): IN cost grows ~linearly in |terms| (compiled and
#: evaluated per task) — 0.78 s at 1k terms, 5.5 s at 8k, 332 s at 524k —
#: while the semi-join stays ~0.3-2.2 s flat; the crossover is a few
#: hundred terms. 512 keeps the IN (and its row-group pruning, which the
#: microbench's tiny scan undervalues) for genuinely small interactive
#: sets only.
TERM_ISIN_LIMIT = 512

#: _score_shard scores a batch's signatures in chunks of about this many
#: dense accumulator cells (signatures × docs_per_shard) plus (signature,
#: posting) entries: a few tens of bytes each, so one chunk's working set
#: stays under ~0.1 GB at any batch size.
_SCORE_CHUNK_CELLS = 1 << 21

#: the tombstone broadcast ceiling: below it a kill-list collects to a
#: sorted driver array riding the score broadcast (latency fast path);
#: past it the list automatically stays a Spark relation cogrouped with
#: the shard scan (_excl_plan — O(1) driver state at any size) and a
#: RuntimeWarning recommends compaction (build.compact_index / the
#: `compact` CLI), which removes the per-query masking cost permanently.
TOMBSTONE_WARN_IDS = 10_000_000


def global_term_stats(
    spark: SparkSession, index_dir: str, stats: dict
) -> DataFrame:
    """The (term, df, cf) dictionary for idf lookups: the ``global/``
    directory ``stats`` commits (``IndexPaths.dictionary``), read as-is —
    one row per term, no aggregation exchange. global/ is never listed, so
    a directory a build has not committed yet is invisible."""
    return spark.read.parquet(
        IndexPaths(index_dir).dictionary(stats)
    ).select("term", "df", "cf")


def load_stats(index_dir: str) -> dict:
    from dense_retriever_spark.index.codec import FORMAT_VERSION

    # Hadoop FS read — index_dir may be file://, hdfs://, s3a:// (fs.py)
    stats = json.loads(fs.read_text(IndexPaths(index_dir).stats))
    v = stats.get("format_version", 1)
    if v != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} uses posting format v{v}; this engine "
            f"reads v{FORMAT_VERSION} — rebuild the index (reading another "
            "format's rows would silently misread them)"
        )
    return stats


def _ragged_arange(lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(l)`` for every ``l`` in ``lens``."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    return np.arange(total, dtype=np.int64) - np.repeat(ends - lens, lens)


class _ShardPostings(NamedTuple):
    """One shard's decoded and masked posting rows (``_shard_postings``):
    row ``i`` is ``terms[i]``, and its postings are the ``counts[i]``
    entries of ``ids``/``tfs``/``dls`` after those of rows ``0..i-1``.
    ``counts[i]`` is 0 when a mask removed all of the row's postings."""

    base: int
    terms: list[str]
    counts: np.ndarray
    ids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray

    def rows(self, r0: int, r1: int) -> "_ShardPostings":
        """Rows ``r0..r1-1`` alone (views, nothing copied)."""
        p0, p1 = int(self.counts[:r0].sum()), int(self.counts[:r1].sum())
        return _ShardPostings(
            self.base, self.terms[r0:r1], self.counts[r0:r1],
            self.ids[p0:p1], self.tfs[p0:p1], self.dls[p0:p1],
        )


def _shard_postings(
    pdf: pd.DataFrame,
    asked: np.ndarray,
    dps: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
) -> _ShardPostings:
    """The first half of the shard scorer: decode the ``asked`` rows of
    ONE shard's (shard, term, postings) rows in one
    ``decode_postings_batch`` call and mask them. Rows not asked for are
    never decoded — the distributed plane may feed the unfiltered shard
    scan when the query-term set is too large to broadcast-prefilter.

    ``excl``: sorted array of tombstoned doc ids (search-time deletes, e.g.
    a dedup kill-list). ``incl``: sorted array of ALLOWED doc ids for THIS
    shard (metadata-filtered search — only these docs may appear in
    results). Both masks can be live at once; every search (plain,
    boolean, counting, multi-field) applies them here, to the decoded
    postings before any matching or scoring, so top-k selection stays
    exact under any mask."""
    base = int(pdf["shard"].iloc[0]) * dps
    rows = pdf[asked]
    terms = rows["term"].tolist()
    counts, ids, tfs, dls = decode_postings_batch(rows["postings"].tolist())
    keep = None
    if excl is not None and excl.size:
        lo, hi = np.searchsorted(excl, [base, base + dps])
        if hi > lo:
            keep = ~np.isin(ids, excl[lo:hi])
    if incl is not None:
        allowed = np.isin(ids, incl)
        keep = allowed if keep is None else keep & allowed
    if keep is not None:
        row_of = np.repeat(np.arange(len(terms)), counts)
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        counts = np.bincount(row_of[keep], minlength=len(terms))
    return _ShardPostings(base, terms, counts, ids, tfs, dls)


def _score_shard(
    pdf: pd.DataFrame,
    queries: dict[int, list[str]],
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    docs_per_shard: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
) -> pd.DataFrame:
    """applyInPandas body: all index rows of ONE shard matching query terms
    — the shard scorer of every search: ``_shard_postings`` decodes and
    masks the rows whose term some query asked for (``term in idfs``),
    ``_score_postings`` accumulates and takes each query's top ``k``."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=["query_id", "doc_id", "score", "rank"])
    asked = np.fromiter((t in idfs for t in pdf["term"]), bool, len(pdf))
    post = _shard_postings(pdf, asked, docs_per_shard, excl, incl)
    return _score_postings(
        post, queries, idfs, k, k1, b, avgdl, docs_per_shard
    )


def _score_postings(
    post: _ShardPostings,
    queries: dict[int, list[str]],
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dps: int,
) -> pd.DataFrame:
    """The second half of the shard scorer and the package's one BM25
    accumulator (``wand.score_query_exact`` is the per-query reference the
    tests compare it with): every query's top ``k`` docs of one shard's
    decoded postings, as (query_id, doc_id, score, rank = 0) rows.
    ``queries`` maps a query id to its terms in sorted order; a row whose
    term has no idf (a boolean query's forbidden term) is in no query's
    list and scores nothing. ``k`` = ``dps`` keeps every touched doc.

    The whole batch is scored in a few numpy passes, not one scorer call per
    query:

    1. each posting's BM25 contribution is computed once over the flat
       arrays (the elementwise ``wand._contrib`` expression, so the floats
       equal ``score_query_exact``'s);
    2. queries whose shard-present term lists are identical share one
       signature and are scored once;
    3. every (signature, term position j, posting) triple adds its
       contribution at key = (signature, local doc) of a dense
       signatures × docs_per_shard accumulator, with one ``acc[key] += c``
       pass per term position j, ascending. A doc occurs at most once in a
       term's postings, so a key occurs at most once per pass, and each
       doc's sum is (((0 + c_t1) + c_t2) + ...) over its terms in the
       query's sorted-term order: the exact float order of the per-query
       accumulator ``score_query_exact``. A float reduction over each
       key's terms (``np.add.reduceat``, ``np.sum``) would not keep that
       order, because numpy sums pairwise;
    4. a row-wise ``np.partition`` finds each signature's k-th best score;
       the touched cells at or above it (ties kept) go through one
       ``lexsort((doc_id, -score, signature))`` and a rank cut at ``k``:
       every signature's top-k by (score DESC, doc_id ASC).

    Signatures are scored in chunks of about ``_SCORE_CHUNK_CELLS``
    accumulator cells plus entries, so a large batch (100k queries at
    docs_per_shard=2048) never allocates signatures × docs_per_shard floats
    at once.

    There is no block-max (WAND-family) pruning: with per-term
    contributions shared across the batch it touched every posting anyway
    and measured 2.6–5.4× slower than the exact scorer (round 8), so the
    index stores no block metadata.
    """
    cols = ["query_id", "doc_id", "score", "rank"]
    base, terms, counts, ids, tfs, dls = post
    term_idf = np.array([idfs.get(t, 0.0) for t in terms], dtype=np.float64)
    contrib = _contrib(np.repeat(term_idf, counts), tfs, dls, k1, b, avgdl)
    lidx = ids - base
    first = np.cumsum(counts) - counts
    # a term with no (unmasked) postings scores nothing: leave it out
    row_ix = {t: i for i, t in enumerate(terms) if counts[i]}
    by_sig: dict[tuple[int, ...], list[int]] = {}
    for qid, qterms in queries.items():
        sig = tuple(row_ix[t] for t in qterms if t in row_ix)
        if sig:
            by_sig.setdefault(sig, []).append(qid)
    if not by_sig:
        return pd.DataFrame(columns=cols)
    n_sig = len(by_sig)
    sig_len = np.fromiter(map(len, by_sig), dtype=np.int64, count=n_sig)
    ent_end = np.cumsum(sig_len)
    ent_row = np.fromiter(
        (i for sig in by_sig for i in sig), dtype=np.int64, count=ent_end[-1]
    )
    ent_sig = np.repeat(np.arange(n_sig), sig_len)
    ent_pos = _ragged_arange(sig_len)
    ent_n = counts[ent_row]
    # chunk boundaries: every ~_SCORE_CHUNK_CELLS cells plus entries
    weight = np.cumsum(dps + np.add.reduceat(ent_n, ent_end - sig_len))
    cuts = np.flatnonzero(np.diff(weight // _SCORE_CHUNK_CELLS)) + 1
    sig_bounds = np.r_[0, cuts, n_sig]
    out_sig, out_doc, out_score = [], [], []
    for s0, s1 in zip(sig_bounds[:-1], sig_bounds[1:]):
        e0, e1 = ent_end[s0] - sig_len[s0], ent_end[s1 - 1]
        # entries ordered by term position: pass j is one contiguous slice
        order = e0 + np.argsort(ent_pos[e0:e1], kind="stable")
        n = ent_n[order]
        post = np.repeat(first[ent_row[order]], n) + _ragged_arange(n)
        key = np.repeat((ent_sig[order] - s0) * dps, n) + lidx[post]
        pass_end = np.cumsum(np.bincount(ent_pos[order], weights=n))
        acc = np.zeros((s1 - s0, dps), dtype=np.float64)
        touched = np.zeros(acc.shape, dtype=bool)
        flat_acc, flat_touched = acc.reshape(-1), touched.reshape(-1)
        lo = 0
        for hi in pass_end.astype(np.int64).tolist():
            flat_acc[key[lo:hi]] += contrib[post[lo:hi]]
            flat_touched[key[lo:hi]] = True
            lo = hi
        if k < dps:  # keep each signature's k best cells and their ties
            kth = -np.partition(-acc, k - 1, axis=1)[:, k - 1]
            touched &= acc >= kth[:, None]
        hit = np.flatnonzero(flat_touched)
        h_sig, h_doc = np.divmod(hit, dps)
        score = flat_acc[hit]
        top = np.lexsort((h_doc, -score, h_sig))
        h_sig, h_doc, score = h_sig[top], h_doc[top], score[top]
        run = np.r_[0, np.flatnonzero(np.diff(h_sig)) + 1]
        cut = _ragged_arange(np.diff(np.r_[run, h_sig.size])) < k
        out_sig.append(h_sig[cut] + s0)
        out_doc.append(h_doc[cut] + base)
        out_score.append(score[cut])
    sig = np.concatenate(out_sig)
    # every row of a signature, once per query id sharing it
    q_n = np.fromiter(map(len, by_sig.values()), dtype=np.int64, count=n_sig)
    q_ids = np.fromiter(
        (q for qs in by_sig.values() for q in qs), dtype=np.int64,
        count=int(q_n.sum()),
    )
    rep = q_n[sig]
    row = np.repeat(np.arange(sig.size), rep)
    q_at = np.repeat((np.cumsum(q_n) - q_n)[sig], rep) + _ragged_arange(rep)
    return pd.DataFrame(
        {
            "query_id": q_ids[q_at],
            "doc_id": np.concatenate(out_doc)[row],
            "score": np.concatenate(out_score)[row],
            "rank": np.zeros(row.size, dtype=np.int32),
        }
    )


def _topk_rows(
    q: np.ndarray, d: np.ndarray, s: np.ndarray, k: int
) -> pd.DataFrame:
    """The top ``k`` of every query among (query_id ``q``, doc_id ``d``,
    score ``s``) rows by (score DESC, doc_id ASC), ranked from 1: one
    lexsort and a rank cut. The driver-local plane merges its shards with
    it; the boolean and multi-field shard bodies cut their post-filtered
    ``_score_postings`` rows with it."""
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    # 1-based rank within each query's run of rows
    pos = np.arange(q.size)
    first = np.ones(q.size, dtype=bool)
    first[1:] = q[1:] != q[:-1]
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    keep = rank <= k
    return pd.DataFrame({
        "query_id": q[keep],
        "doc_id": d[keep],
        "score": s[keep],
        "rank": rank[keep].astype(np.int32),
    })


def _term_pruned(
    df: DataFrame, terms: list[str], spark: SparkSession
) -> DataFrame:
    """Prune an index scan to the query-term set: IN-literal below
    TERM_ISIN_LIMIT (reaches parquet as PushedFilters), broadcast left-semi
    join above it (the driver already holds the list — shipping it once as
    a broadcast relation beats compiling a megabyte IN expression)."""
    if len(terms) <= TERM_ISIN_LIMIT:
        return df.filter(F.col("term").isin(terms))
    # pandas → Arrow batch conversion: a 500k-row python-list
    # createDataFrame would pickle row-by-row through py4j
    tdf = spark.createDataFrame(pd.DataFrame({"term": terms}))
    return df.join(F.broadcast(tdf), "term", "left_semi")


def _excl_plan(
    exclude_doc_ids: DataFrame | None, docs_per_shard: int
) -> tuple[np.ndarray | None, DataFrame | None]:
    """Kill-list routing: (driver_array, shard_keyed_relation) — exactly one
    is non-None when a kill-list is given.

    Below ``TOMBSTONE_WARN_IDS`` the list collects to a sorted driver array
    and rides the score broadcast (the fast path: zero extra shuffles on the
    latency plane). ABOVE the ceiling nothing is materialized on the driver:
    the probe collects at most ceiling+1 distinct ids, and the full list
    stays a Spark relation keyed by shard, cogrouped with the shard scan so
    each scorer receives exactly its slice — driver state is O(1) at any
    kill-list size. Masking still happens BEFORE top-k selection inside the
    scorer (an anti-join on the k-row result would lose recall when a
    query's whole top-k is tombstoned). A list past the ceiling still warns:
    compaction (build.compact_index / pipeline.apply_kill_list) removes the
    per-query masking cost permanently."""
    if exclude_doc_ids is None:
        return None, None
    ids = exclude_doc_ids.select(
        F.col("doc_id").cast("long").alias("doc_id")
    ).distinct()
    head = ids.limit(TOMBSTONE_WARN_IDS + 1).collect()
    if len(head) <= TOMBSTONE_WARN_IDS:
        arr = np.sort(np.array([r[0] for r in head], dtype=np.int64))
        return (arr if arr.size else None), None
    warnings.warn(
        f"tombstone list exceeds {TOMBSTONE_WARN_IDS} ids — switching to "
        "the distributed kill-list plane (ids stay a Spark relation "
        "cogrouped with the shard scan; nothing is collected to the "
        "driver). At this size a compaction event is cheaper per query: "
        "run build.compact_index (or the `compact` CLI) to drop the "
        "kill-list physically; pipeline.apply_kill_list automates the "
        "threshold decision",
        RuntimeWarning,
        stacklevel=4,
    )
    flat = ids.withColumn(
        "shard", (F.col("doc_id") / docs_per_shard).cast("long")
    )
    return None, flat


def _plane(query_mode: str, rel: DataFrame) -> str:
    """The plane rule of every search entry point: ``'auto'`` counts
    ``rel`` (the query batch; MLT passes its seeds) with one bounded
    ``limit(QUERY_BROADCAST_LIMIT + 1).count()`` job and picks broadcast
    up to the limit, distributed above it; ``'broadcast'`` and
    ``'distributed'`` pass through; any other mode raises ValueError."""
    if query_mode == "auto":
        n_q = rel.limit(QUERY_BROADCAST_LIMIT + 1).count()
        return "broadcast" if n_q <= QUERY_BROADCAST_LIMIT else "distributed"
    if query_mode not in ("broadcast", "distributed"):
        raise ValueError(f"unknown query_mode {query_mode!r}")
    return query_mode


def _shard_scan(
    spark: SparkSession, index_dir: str, terms: list[str], *cols: str
) -> DataFrame:
    """The broadcast planes' index scan: (shard, term, postings, *cols)
    rows of the query terms only (_term_pruned). df/cf and any unasked
    positions stream stay out of the scan, the Arrow transfer and the
    grouping exchange."""
    return _term_pruned(
        spark.read.parquet(IndexPaths(index_dir).shards), terms, spark
    ).select("shard", "term", "postings", *cols)


def _mask_right_rel(
    include_doc_ids: DataFrame | None,
    excl_rel: DataFrame | None,
    dps: int,
    shard_rows: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The mask legs of a shard cogroup: allowed ids with xm=False,
    kill-list ids (past the driver ceiling) with xm=True, both keyed by
    shard in ONE right relation (cogroup has a single right slot; a second
    shuffle per mask would double the exchange). Returns (right_rel,
    shard_rows) with shard_rows semi-join-pruned to the allowed shards
    when an include mask is present. Call only when at least one mask
    relation exists."""
    legs = []
    if include_doc_ids is not None:
        incl_flat = include_doc_ids.select(
            F.col("doc_id").cast("long").alias("doc_id")
        ).withColumn("shard", (F.col("doc_id") / dps).cast("long"))
        legs.append(incl_flat.select(
            "shard", "doc_id", F.lit(False).alias("xm")
        ))
        shard_rows = shard_rows.join(
            incl_flat.select("shard").distinct(), "shard", "left_semi"
        )
    if excl_rel is not None:
        legs.append(excl_rel.select(
            "shard", "doc_id", F.lit(True).alias("xm")
        ))
    right_rel = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
    return right_rel, shard_rows


def _mask_split(right, has_include: bool, has_excl_rel: bool, default_excl):
    """pandas-side twin of _mask_right_rel: the mask rows of one cogrouped
    right slice → (excl_array, incl_array), keeping the xs.size == 0 →
    None convention in ONE place."""
    xm = right["xm"].to_numpy(dtype=bool)
    ids_r = right["doc_id"].to_numpy(np.int64)
    incl = np.unique(ids_r[~xm]) if has_include else None
    x = default_excl
    if has_excl_rel:
        xs = ids_r[xm]
        x = np.sort(xs) if xs.size else None
    return x, incl


def _apply_per_shard(
    spark: SparkSession,
    shard_rows: DataFrame,
    fn,
    schema: str,
    payload,
    dps: int,
    excl: np.ndarray | None = None,
    excl_rel: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
):
    """The Spark broadcast plane's per-shard call, shared by search,
    boolean, count_matches, phrase and the fused multi-field plan:
    ``fn(pdf, payload, excl, incl)`` runs once per shard on that shard's
    rows. Returns (relation, broadcast) — the caller releases the
    broadcast (``_finish``).

    ``payload`` and the kill-list array ``excl`` ride ONE sc.broadcast,
    NOT the task closure: a closure is re-pickled into EVERY task
    (n_shards × |qmap| duplicate bytes — 73 MB of task payload at 733
    shards × a 100 KB query set), a broadcast ships once per executor.
    Without mask relations the shards run a plain
    ``groupBy(shard).applyInPandas``; allowed ids (``include_doc_ids``)
    and a kill-list past the driver ceiling (``excl_rel``, _excl_plan)
    are cogrouped with the shard scan instead, so each scorer receives
    exactly its slice and nothing is collected to the driver. The UDF
    carries ``fn``'s name (``_co`` appended on the cogroup), so a plan
    names its scorer."""
    bc = spark.sparkContext.broadcast((payload, excl))
    if include_doc_ids is None and excl_rel is None:

        def run(pdf):
            p, x = bc.value
            return fn(pdf, p, x, None)

        run.__name__ = fn.__name__
        return shard_rows.groupBy("shard").applyInPandas(run, schema), bc
    has_include = include_doc_ids is not None
    has_excl_rel = excl_rel is not None
    right_rel, shard_rows = _mask_right_rel(
        include_doc_ids, excl_rel, dps, shard_rows
    )

    def run_co(left, right):
        p, x = bc.value
        x, incl = _mask_split(right, has_include, has_excl_rel, x)
        return fn(left, p, x, incl)

    run_co.__name__ = fn.__name__ + "_co"
    local = (
        shard_rows.groupby("shard")
        .cogroup(right_rel.groupby("shard"))
        .applyInPandas(run_co, schema=schema)
    )
    return local, bc


def _route_shards(
    spark: SparkSession,
    index_dir: str,
    qt: DataFrame,
    eager: bool,
    scan_cols: list[str],
    fn,
    schema: str,
    route=None,
    masks: tuple | None = None,
):
    """The distributed plane's shard routing, shared by search, boolean
    and phrase. ``qt`` is the query relation (``query_id``, ``term``,
    ...); ``route(qt)`` (default: ``qt`` itself) the relation each shard
    receives its slice of:

      route(qt) ⋈ shard-term presence   [each (query, term) row goes to
                                         exactly the shards holding the
                                         term]
      → cogroup with the shard scan by shard id

    ``fn(left, q, excl, incl)`` runs once per shard with the shard's index
    rows (``shard`` plus ``scan_cols``) and its query rows ``q``.

    The shard scan is prefiltered by ``qt``'s terms (a broadcast
    left-semi join) while the distinct-term set stays at or below
    ``TERM_FILTER_LIMIT``; at vocabulary-scale |Q| the filter would not
    prune and the scorer skips unasked terms anyway.

    ``masks`` = (exclude_doc_ids, include_doc_ids, docs_per_shard) for a
    plane that masks inside its scorer (search, boolean). The query rows
    then carry NULL ``doc_id`` / ``xm`` = False, and the mask legs of
    _mask_right_rel ride the same right relation, NULL-padded to its
    columns (``term`` NULL marks them; the right-hand split below takes
    them out before ``fn`` sees ``q``). A kill-list within the driver
    ceiling rides a broadcast instead. Phrase passes None: it masks its
    matches after verification.

    ``qt`` is persisted only when ``eager``: the tokenizer then runs once
    although the relation feeds several jobs (term-count probe, routing,
    scan prefilter), and the caller releases it (``_finish``) once the
    result is materialized. A lazy call cannot release it, so it leaves
    ``qt`` unpersisted instead of pinning its rows until GC.

    Returns (relation, broadcasts, held relations) for the caller to
    release."""
    held = []
    if eager:
        qt = qt.persist()
        held.append(qt)
    qrel = qt if route is None else route(qt)
    shards = IndexPaths(index_dir).shards
    presence = spark.read.parquet(shards).select("shard", "term")
    flags = [] if masks is None else [
        F.lit(None).cast("long").alias("doc_id"), F.lit(False).alias("xm"),
    ]
    routed = qrel.join(presence, "term").select(
        "shard", *qrel.columns, *flags
    )
    shard_rows = spark.read.parquet(shards).select("shard", *scan_cols)
    terms = qt.select("term").distinct()
    if terms.limit(TERM_FILTER_LIMIT + 1).count() <= TERM_FILTER_LIMIT:
        shard_rows = shard_rows.join(F.broadcast(terms), "term", "left_semi")

    bcs = []
    bc_excl = None
    has_include = has_excl_rel = False
    if masks is not None:
        exclude_doc_ids, include_doc_ids, dps = masks
        excl, excl_rel = _excl_plan(exclude_doc_ids, dps)
        has_include = include_doc_ids is not None
        has_excl_rel = excl_rel is not None
        if has_include or has_excl_rel:
            right_rel, shard_rows = _mask_right_rel(
                include_doc_ids, excl_rel, dps, shard_rows
            )
            routed = routed.unionByName(right_rel.select(
                "shard",
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in qrel.schema.fields
                ],
                "doc_id",
                "xm",
            ))
        if excl is not None:
            bc_excl = spark.sparkContext.broadcast(excl)
            bcs.append(bc_excl)

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        x = bc_excl.value if bc_excl is not None else None
        incl = None
        if has_include or has_excl_rel:
            is_mask = right["term"].isna()
            x, incl = _mask_split(right[is_mask], has_include, has_excl_rel, x)
            right = right[~is_mask]
        return fn(left, right, x, incl)

    run.__name__ = fn.__name__
    local = (
        shard_rows.groupby("shard")
        .cogroup(routed.groupby("shard"))
        .applyInPandas(run, schema=schema)
    )
    return local, bcs, held


def _finish(
    spark: SparkSession,
    local: DataFrame,
    k: int | None,
    eager: bool,
    bcs: list,
    cached: list | None = None,
) -> DataFrame:
    """Global exact top-k + deterministic tie-break; eager → materialize the
    (≤ k × |Q|)-row result EXECUTOR-SIDE via localCheckpoint (never funnelled
    through the driver), release the per-call broadcasts
    immediately instead of waiting for caller GC, and unpersist any
    intermediate relations in ``cached``.

    ``k=None`` (the ``score_matches`` plane): NO truncation and no rank
    column — the full (query_id, doc_id, score) matched relation flows out
    for relational composition (multi-field combination, rescoring). That
    relation is |matches| rows, so the eager localCheckpoint is skipped in
    favor of the lazy plan — the caller feeds it straight into an
    aggregation, never materializes it.

    localCheckpoint blocks are NOT replicated: on a cluster with dynamic
    allocation / executor churn, consume the eager result promptly (the CLI
    writes it immediately) or use ``eager=False`` and own the write — the
    lazy plan recomputes through lineage and is churn-safe."""
    if k is None:
        return local.select(
            F.col("query_id").cast("long"),
            F.col("doc_id").cast("long"),
            F.col("score").cast("double"),
        )
    out = topk_per_group(local.drop("rank"), "query_id", "score", k)
    out = out.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    for bc in bcs:
        bc.destroy()
    for df in cached or []:
        df.unpersist()
    return out


def search(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    exclude_doc_ids: DataFrame | None = None,
    eager: bool = True,
    include_doc_ids: DataFrame | None = None,
    query_mode: str = "broadcast",
    offset: int = 0,
) -> DataFrame:
    """Top-k BM25 search. Output: (query_id, doc_id, score, rank).

    ``offset``: pagination — return the rank window [offset+1, offset+k]
    with ABSOLUTE ranks (page 2 of 10 carries ranks 11-20). Internally the
    search runs at k+offset and filters, so cost grows with page depth —
    the classic deep-paging caveat every search engine shares; for bulk
    export use ``score_matches`` (no truncation at all) instead of walking
    pages.

    ``exclude_doc_ids``: optional (doc_id) DataFrame of tombstoned docs —
    typically a dedup kill-list (dedup_exact / connected_components output) —
    removed EXACTLY at query time without rebuilding the index (masked
    before shard-local top-k, see _score_shard). Below ~10^7 ids the list is
    collected and broadcast (the latency fast path); past that ceiling it
    automatically stays a Spark relation cogrouped with the shard scan (O(1)
    driver state at any size, see _excl_plan) and a RuntimeWarning
    recommends compaction: a kill-list that large is a compaction event —
    ``compact_index`` / the ``compact`` CLI rebuilds exactly the affected
    shards, and ``pipeline.apply_kill_list`` automates the
    tombstone-vs-compact decision.

    ``include_doc_ids``: optional (doc_id) DataFrame of ALLOWED docs —
    metadata-filtered search (e.g. ``docs.filter(lang == 'py')``); only these
    ids may appear in results (BM25 statistics stay those of the full index,
    mirroring the tombstone convention). Unlike the kill-list this set can be
    most of the corpus, so it is NEVER collected: the ids flow as a Spark
    relation cogrouped with the shard scan by shard id — each shard's scorer
    receives exactly its slice, shards with no allowed docs are
    semi-join-pruned from the scan, and driver state stays O(1) at any
    selectivity. Composes with ``exclude_doc_ids``.

    ``query_mode``: ``'broadcast'`` (default) collects the (qid, term)
    relation to the driver (exactly-once index scan with term-IN pushdown —
    right for interactive/bench batches). On a local-filesystem index,
    with no ``include_doc_ids`` and a kill-list within the driver ceiling,
    the driver-local plane then reads and scores the index with pyarrow and
    numpy: one Spark job per call (the query tokenizer; a kill-list adds
    its collect), and the result is a local relation. Otherwise (a
    non-local URI, ``include_doc_ids``, a kill-list past the ceiling) the
    Spark broadcast plane scores the shards in a
    ``groupBy(shard).applyInPandas`` with the terms broadcast. All three
    planes return the same rows bit for bit. ``'distributed'`` keeps the
    query relation executor-side end-to-end (see module docstring) —
    driver state is O(1) at any |Q|; this is the plane for
    training-set-scale query batches. ``'auto'`` probes |Q| with one
    bounded ``limit().count()`` job and picks broadcast below
    QUERY_BROADCAST_LIMIT — the right setting when the batch size is
    unknown (the CLI and the refresh loop use it). The planes run the same
    scorer and are bit-identical (pytest + the q38/q49 oracle pair).

    ``eager`` (default): run the search now, materialize the bounded
    (≤ k × |Q|-row) result executor-side (localCheckpoint — never collected
    to the driver), and release the per-call broadcasts immediately.
    ``eager=False`` keeps the fully-lazy plan for composition; the caller
    then owns the broadcast lifetime (released on garbage collection). The
    driver-local plane has neither: its result is computed during the call
    and is already a (≤ k × |Q|-row) local relation either way.
    """
    stats = load_stats(index_dir)
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    plane = _plane(query_mode, queries_df)
    out = _search_terms(
        spark, index_dir, stats, plane, _tokenized(queries_df), k + offset,
        exclude_doc_ids, eager, include_doc_ids,
    )
    if offset:
        out = out.filter(F.col("rank") > offset)
    return out


def score_matches(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
    query_mode: str = "broadcast",
) -> DataFrame:
    """FULL scored match relation: (query_id, doc_id, score) for EVERY doc
    matching ≥1 query term — ``search`` without the top-k truncation. The
    relational primitive under multi-field combination (index/fields.py)
    and rescoring: per-field contributions must cover every doc matched in
    ANY field, so a per-field top-k would lose mass exactly where fields
    disagree.

    The plan is the plain search plan with per-shard k = docs_per_shard (a
    shard cannot contribute more rows, so nothing is pruned). The result
    is |matches| rows — an intermediate relation meant to feed an
    aggregation, never a ``.collect()``; it stays fully lazy (no eager
    localCheckpoint), so compose it and let one job run end-to-end.
    Tombstones / allowed-id filters compose exactly as in ``search``.
    """
    stats = load_stats(index_dir)
    plane = _plane(query_mode, queries_df)
    return _search_terms(
        spark, index_dir, stats, plane, _tokenized(queries_df), None,
        exclude_doc_ids, False, include_doc_ids,
    )


def _tokenized(queries_df: DataFrame) -> DataFrame:
    """(query_id, term) rows of a (query_id, query) batch, one per token
    (the broadcast plane dedupes per query on the driver, the distributed
    plane with one distinct() — see _search_terms)."""
    return queries_df.select(
        "query_id", F.explode(tokenize_code_expr("query")).alias("term")
    )


def _search_terms(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    plane: str,
    qt: DataFrame,
    k: int | None,
    exclude_doc_ids: DataFrame | None,
    eager: bool,
    include_doc_ids: DataFrame | None,
    clip: tuple[str, int] | None = None,
) -> DataFrame:
    """The one entry from a (query_id, term) relation to a scoring plane
    — ``search``'s tokenized batch or a rewritten one (prefix / regex /
    fuzzy expansion, synonyms, MLT term selection), so the df lookup,
    masks, pruning and plan shape are ``search()``'s for every grammar. The
    broadcast plane collects ``qt`` in ONE job; the distributed plane
    keeps it lazy, deduplicated by one distinct().

    ``clip`` = (label, max_expansions) when ``qt`` is a pattern expansion:
    (query_id, term, pattern, rn) rows, with NULL pattern/rn on literal
    terms and rn = max_expansions + 1 on a pattern's clip SENTINEL row
    (see prefix._expand_patterns). Sentinels are dropped before scoring on
    both planes; on the broadcast plane their presence — not a capped set's
    size — proves truncation and raises a RuntimeWarning naming the
    patterns, from the same collect."""
    if plane == "distributed":
        if clip is not None:
            qt = qt.filter(F.col("rn").isNull() | (F.col("rn") <= clip[1]))
        return _search_distributed(
            spark, index_dir, stats, qt.select("query_id", "term").distinct(),
            k, exclude_doc_ids, eager, include_doc_ids,
        )
    rows = qt.collect()
    if clip is not None:
        label, cap = clip
        clipped = sorted(
            {r[2] for r in rows if r["rn"] is not None and r["rn"] > cap}
        )
        if clipped:
            warnings.warn(
                f"{label} pattern(s) {clipped} expanded to >{cap} terms and "
                "were truncated to the lexicographically smallest (raise "
                "max_expansions to widen)",
                RuntimeWarning,
                stacklevel=3,
            )
        rows = [r for r in rows if r["rn"] is None or r["rn"] <= cap]
    return _search_broadcast(
        spark, index_dir, stats,
        [(int(r["query_id"]), r["term"]) for r in rows],
        k, exclude_doc_ids, eager, include_doc_ids,
    )


def _local_dataset(root: str, key: str | None = None):
    """pyarrow dataset over the parquet files Spark wrote under ``root``:
    directly in it, or (``key`` given) in its ``key=<id>`` partition dirs.
    Names starting with ``_`` or ``.`` (_SUCCESS, _temporary, checksum
    sidecars, staging dirs) are skipped, as Spark's own listing does; the
    partition id becomes an int64 column. None when there is no data
    file."""

    def entries(d: str) -> list:
        try:
            with os.scandir(d) as it:
                return [e for e in it if not e.name.startswith(("_", "."))]
        except FileNotFoundError:
            return []

    part = None
    if key is None:
        files = [e.path for e in entries(root) if e.is_file()]
    else:
        files = []
        for e in entries(root):
            name, _, pid = e.name.partition("=")
            if name == key and pid.isdigit() and e.is_dir():
                files += [f.path for f in entries(e.path) if f.is_file()]
        part = ds.partitioning(pa.schema([(key, pa.int64())]), flavor="hive")
    if not files:
        return None
    return ds.dataset(
        files, format="parquet", partitioning=part, partition_base_dir=root
    )


def _term_dfs(
    spark: SparkSession, index_dir: str, stats: dict, terms: list[str]
) -> dict[str, float]:
    """term → df for the in-vocabulary ``terms``: the rows
    global_term_stats returns, term-pruned. A local index
    (``fs.local_path``) is read with pyarrow from the committed dictionary
    directory, pruned by parquet row-group statistics, in no Spark job;
    any other URI takes one term-pruned collect, bounded by the query-term
    set the driver already holds. Every broadcast-plane df lookup (search,
    boolean, counting, multi-field) comes through here."""
    if not terms:
        return {}
    root = fs.local_path(index_dir, spark)
    if root is None:
        g = global_term_stats(spark, index_dir, stats)
        rows = _term_pruned(g, terms, spark).select("term", "df").collect()
        return {r["term"]: float(r["df"]) for r in rows}
    d = _local_dataset(IndexPaths(root).dictionary(stats))
    if d is None:
        return {}
    t = d.to_table(columns=["term", "df"], filter=ds.field("term").isin(terms))
    return {
        term: float(df)
        for term, df in zip(t["term"].to_pylist(), t["df"].to_pylist())
    }


def _search_local(
    spark: SparkSession,
    root: str,
    stats: dict,
    qmap: dict[int, list[str]],
    idfs: dict[str, float],
    terms: list[str],
    k: int,
    excl: np.ndarray | None,
) -> DataFrame:
    """The driver-local plane of _search_broadcast: read the term-pruned
    (shard, term, postings) rows of the local index at ``root`` with
    pyarrow, score each shard with _score_shard, keep the top ``k`` per
    query by (score DESC, doc_id ASC) — the Spark plane's exact steps, so
    the result is bit-identical — and hand it back as a local relation:
    collecting it runs no Spark job."""
    shards = _local_dataset(IndexPaths(root).shards, "shard")
    if shards is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    rows = shards.to_table(
        columns=["shard", "term", "postings"],
        filter=ds.field("term").isin(terms),
    ).to_pandas()
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    dps = stats["docs_per_shard"]
    parts = [
        _score_shard(pdf, qmap, idfs, k, k1, b, avgdl, dps, excl)
        for _, pdf in rows.groupby("shard", sort=False)
    ]
    parts = [p for p in parts if len(p)]
    if not parts:
        return spark.createDataFrame([], RESULT_SCHEMA)
    top = _topk_rows(
        np.concatenate([p["query_id"].to_numpy(np.int64) for p in parts]),
        np.concatenate([p["doc_id"].to_numpy(np.int64) for p in parts]),
        np.concatenate([p["score"].to_numpy(np.float64) for p in parts]),
        k,
    )
    if not len(top):
        return spark.createDataFrame([], RESULT_SCHEMA)
    return spark.createDataFrame(top, RESULT_SCHEMA)


def _search_broadcast(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    pairs: list[tuple[int, str]],
    k: int | None,
    exclude_doc_ids: DataFrame | None,
    eager: bool,
    include_doc_ids: DataFrame | None,
) -> DataFrame:
    """The broadcast plane over the collected (query_id, term) ``pairs``."""
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    k1, b = stats["k1"], stats["b"]
    dps = stats["docs_per_shard"]
    # k=None (score_matches): every match survives. A shard holds at most
    # docs_per_shard docs, so per-shard k = docs_per_shard IS "no
    # truncation" (``_finish`` still sees k=None and skips the global
    # top-k).
    k_shard = dps if k is None else k

    qmap: dict[int, list[str]] = {}
    for qid, term in pairs:
        qmap.setdefault(int(qid), []).append(term)
    for qid in qmap:
        qmap[qid] = sorted(set(qmap[qid]))  # sorted-term order everywhere
    all_terms = sorted({t for ts in qmap.values() for t in ts})
    empty_schema = RESULT_SCHEMA if k is not None else MATCHES_SCHEMA
    if not all_terms:
        return spark.createDataFrame([], empty_schema)

    idfs = {
        t: idf_fn(v, float(n_docs))
        for t, v in _term_dfs(spark, index_dir, stats, all_terms).items()
    }
    present = [t for t in all_terms if t in idfs]
    if not present:
        return spark.createDataFrame([], empty_schema)
    qmap = {q: [t for t in ts if t in idfs] for q, ts in qmap.items()}
    qmap = {q: ts for q, ts in qmap.items() if ts}

    # a local index read with top-k and no allowed-id relation takes the
    # driver-local plane unless its kill-list is past the driver ceiling
    local_root = (
        fs.local_path(index_dir, spark)
        if k is not None and include_doc_ids is None
        else None
    )
    excl, excl_rel = _excl_plan(exclude_doc_ids, dps)
    if local_root is not None and excl_rel is None:
        return _search_local(
            spark, local_root, stats, qmap, idfs, present, k, excl
        )

    def _score(pdf, p, x, incl):
        q, i = p
        return _score_shard(
            pdf, q, i, k_shard, k1, b, avgdl, dps, x, incl
        )

    local, bc = _apply_per_shard(
        spark, _shard_scan(spark, index_dir, present), _score,
        RESULT_SCHEMA, (qmap, idfs), dps, excl, excl_rel, include_doc_ids,
    )
    return _finish(spark, local, k, eager, [bc])


def _search_distributed(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    qt: DataFrame,
    k: int | None,
    exclude_doc_ids: DataFrame | None,
    eager: bool,
    include_doc_ids: DataFrame | None,
) -> DataFrame:
    """The O(1)-driver-state query plane over the DISTINCT (query_id,
    term) relation ``qt``, which stays a DataFrame end-to-end:

      qt ⋈ global stats (df)                    [inner join drops OOV terms]
         ⋈ shard-term presence                  [each shard learns ITS slice]
      → cogroup with the shard scan by shard id [scorer rebuilds qmap/idf
                                                 per shard from its slice]

    (_route_shards.) idf is computed INSIDE the scorer from the joined df
    count with the same Python float math as the broadcast plane
    (wand.idf), so scores are bit-identical — log() in SQL could differ by
    an ulp between engines.

    The per-shard query slice contains exactly the (query, term) pairs whose
    term that shard holds — the same effective term set the broadcast scorer
    uses after its `t in decoded` filter — sorted by term so float
    accumulation order matches sorted(set(terms)).
    """
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    k1, b = stats["k1"], stats["b"]
    dps = stats["docs_per_shard"]
    k_shard = dps if k is None else k  # k=None: see _search_broadcast

    def with_df(qt: DataFrame) -> DataFrame:
        # inner join == the broadcast plane's `t in idfs` OOV filter
        gstats = global_term_stats(spark, index_dir, stats)
        return qt.join(gstats, "term").select(
            "query_id", "term", F.col("df").cast("long").alias("df")
        )

    def _score_dist(left, q, x, incl):
        # sorted-term accumulation order == broadcast plane's sorted(set())
        q = q.sort_values(["query_id", "term"], kind="mergesort")
        qmap: dict[int, list[str]] = {}
        idfs: dict[str, float] = {}
        for qid, t, df_ in zip(
            q["query_id"].to_numpy(np.int64),
            q["term"],
            q["df"].to_numpy(np.int64),
        ):
            qmap.setdefault(int(qid), []).append(t)
            if t not in idfs:
                idfs[t] = idf_fn(float(df_), float(n_docs))
        return _score_shard(
            left, qmap, idfs, k_shard, k1, b, avgdl, dps, x, incl,
        )

    local, bcs, held = _route_shards(
        spark, index_dir, qt, eager, ["term", "postings"], _score_dist,
        RESULT_SCHEMA, route=with_df,
        masks=(exclude_doc_ids, include_doc_ids, dps),
    )
    return _finish(spark, local, k, eager, bcs, held)
