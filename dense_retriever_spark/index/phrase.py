"""Phrase search over positional indexes (build_index(positions=True)).

A phrase query matches documents where the phrase's tokens occur at
CONSECUTIVE canonical positions (the tokenize_code_flat order — plain
textual order for text without compound identifiers). Two query planes,
mirroring index/search.py:

- ``broadcast`` (default, interactive): the phrase batch is collected and
  tokenized driver-side, the union of phrase terms is pushed into the shard
  scan as a parquet filter, and a broadcast {query → tokens} map rides to a
  per-shard ``applyInPandas`` verifier.
- ``distributed``: the (query_id, position, term) relation never touches
  the driver — executor-side tokenization (posexplode over the Arrow
  tokenizer), routed to shards via the shard-term presence join, cogrouped
  with the shard scan. O(1) driver state at any |Q| — the plane for
  training-set-scale phrase batches.
- ``auto``: probes |Q| with one bounded count and picks like search().

Per shard the verification is vectorized: each term's occurrence list is a
lex-sorted (doc, position) array (decoded from the posting blob + position
stream); the phrase chain keeps candidate start pairs (d, p) where
(d, p+j) exists in term j's occurrences, via int64-keyed sorted-array
membership (key = shard-local doc offset * stride + position — bounded by
docs_per_shard × max document length, far inside int64 at any real scale).
Positions never cross shard boundaries, so there is no shuffle beyond the
scan/routing joins and the ≤ |shards|×|matches| result.

Output: (query_id, doc_id, n_occ, rank) — n_occ counts ALL phrase starts
(overlapping included: "a a a" contains "a a" twice), top-k ranked by
(n_occ DESC, doc_id ASC). Compose with ``search`` (join on doc_id) when
BM25 scores over the phrase terms are also wanted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dense_retriever_spark.index.codec import (
    decode_position_stream,
    decode_postings,
)
from dense_retriever_spark.index.search import (
    _apply_per_shard,
    _plane,
    _route_shards,
    _shard_scan,
    load_stats,
)

PHRASE_RESULT_SCHEMA = "query_id long, doc_id long, n_occ long, rank int"
_MATCH_SCHEMA = "query_id long, doc_id long, n_occ long"


def _phrase_tokens(queries_df: DataFrame) -> dict[int, list[str]]:
    """Collect + tokenize the phrase batch driver-side with the SAME
    tokenizer semantics the index build used (tokenize_code_series is
    golden-tested identical to the build's flat path, including order)."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_series

    rows = queries_df.select("query_id", "query").collect()
    if not rows:
        return {}
    toks = tokenize_code_series(pd.Series([r["query"] for r in rows]))
    return {
        int(r["query_id"]): list(ts)
        for r, ts in zip(rows, toks)
        if len(ts) > 0
    }


def _empty_matches() -> pd.DataFrame:
    return pd.DataFrame({"query_id": [], "doc_id": [], "n_occ": []}).astype(
        {"query_id": "int64", "doc_id": "int64", "n_occ": "int64"}
    )


def _shard_phrase_matches(
    pdf: pd.DataFrame, phrases: dict[int, list[str]], dps: int
) -> pd.DataFrame:
    """Verify every phrase against ONE shard's (term, postings, positions)
    rows → (query_id, doc_id, n_occ). Shared by both query planes."""
    if len(pdf) == 0 or not phrases:
        return _empty_matches()
    shard = int(pdf["shard"].iloc[0])
    base = shard * dps
    row_of = {t: i for i, t in enumerate(pdf["term"].to_numpy())}
    decoded: dict[str, tuple] = {}

    def occ(term):
        """(local_doc_offsets_per_occurrence, positions) — lex-sorted by
        (doc, pos) by construction."""
        got = decoded.get(term)
        if got is None:
            i = row_of[term]
            ids, tfs, _dls = decode_postings(pdf["postings"].iloc[i])
            pos = decode_position_stream(pdf["positions"].iloc[i], tfs)
            ld = np.repeat(ids - base, tfs)
            got = decoded[term] = (ld, pos)
        return got

    out_q: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    out_n: list[np.ndarray] = []
    for qid, toks in phrases.items():
        if any(t not in row_of for t in toks):
            continue
        # stride > any position this shard can contain (+ phrase length
        # headroom so p+j never collides into the next doc's key space)
        max_pos = max(int(occ(t)[1].max(initial=0)) for t in toks)
        stride = np.int64(max_pos + len(toks) + 1)
        ld0, p0 = occ(toks[0])
        cand = ld0.astype(np.int64) * stride + p0
        for j, t in enumerate(toks[1:], start=1):
            if cand.size == 0:
                break
            ldj, pj = occ(t)
            keys_j = ldj.astype(np.int64) * stride + pj
            # sorted by construction → sorted-array membership
            idx = np.searchsorted(keys_j, cand + j)
            idx = np.minimum(idx, keys_j.size - 1)
            cand = cand[keys_j[idx] == cand + j]
        if cand.size == 0:
            continue
        docs = base + cand // stride
        uniq, counts = np.unique(docs, return_counts=True)
        out_q.append(np.full(uniq.size, qid, dtype=np.int64))
        out_d.append(uniq.astype(np.int64))
        out_n.append(counts.astype(np.int64))
    if not out_q:
        return _empty_matches()
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "n_occ": np.concatenate(out_n),
        }
    )


def _rank(matches: DataFrame, k: int) -> DataFrame:
    from dense_retriever_spark.operators.topk import topk_per_group

    return topk_per_group(matches, "query_id", "n_occ", k).select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("n_occ").cast("long"),
        F.col("rank").cast("int"),
    )


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    query_mode: str = "broadcast",
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k phrase search. Output: (query_id, doc_id, n_occ, rank).

    ``exclude_doc_ids`` / ``include_doc_ids``: optional (doc_id) tombstone /
    allowed-set relations — same contract as ``search``: masked exactly at
    query time, never collected (a distributed anti/semi join on the
    pre-rank matches; match cardinality is bounded by |matching docs| ×
    |queries|, far below the posting scan the join follows)."""
    stats = load_stats(index_dir)
    if not stats.get("positions", False):
        raise ValueError(
            f"index at {index_dir} was built without positions — phrase "
            "search needs build_index(positions=True)"
        )
    plane = _plane(query_mode, queries_df)
    run = _phrase_broadcast if plane == "broadcast" else _phrase_distributed
    return run(
        spark, index_dir, stats, queries_df, k, exclude_doc_ids,
        include_doc_ids,
    )


def _mask_matches(
    matches: DataFrame,
    exclude_doc_ids: DataFrame | None,
    include_doc_ids: DataFrame | None,
) -> DataFrame:
    if exclude_doc_ids is not None:
        matches = matches.join(
            exclude_doc_ids.select(
                F.col("doc_id").cast("long").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
    if include_doc_ids is not None:
        matches = matches.join(
            include_doc_ids.select(
                F.col("doc_id").cast("long").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
    return matches


def _phrase_broadcast(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    queries_df: DataFrame,
    k: int,
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
) -> DataFrame:
    dps = int(stats["docs_per_shard"])
    phrases = _phrase_tokens(queries_df)
    all_terms = sorted({t for ts in phrases.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], PHRASE_RESULT_SCHEMA)

    def _match(pdf, p, _x, _incl):
        return _shard_phrase_matches(pdf, p, dps)

    matches, _bc = _apply_per_shard(
        spark, _shard_scan(spark, index_dir, all_terms, "positions"), _match,
        _MATCH_SCHEMA, phrases, dps,
    )
    return _rank(
        _mask_matches(matches, exclude_doc_ids, include_doc_ids), k
    )


def _phrase_distributed(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    queries_df: DataFrame,
    k: int,
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """O(1)-driver-state phrase plane: the ordered (query_id, pos, term)
    relation is produced executor-side (posexplode over the Arrow
    tokenizer), routed to shards holding its terms via the presence join
    (search._route_shards), and cogrouped with the shard scan; each shard's
    verifier reconstructs its queries' token sequences from its slice and
    requires every position present (n_terms carried on each row) before
    chaining."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_pandas

    dps = int(stats["docs_per_shard"])
    qt = queries_df.select(
        "query_id",
        F.posexplode(tokenize_code_pandas("query")).alias("pos", "term"),
    ).withColumn(
        # bounded window: one partition per query, |phrase| rows each
        "n_terms", F.count("*").over(Window.partitionBy("query_id"))
    )

    def _match_dist(left, right, _x, _incl):
        # rebuild each query's token sequence from this shard's slice; a
        # query whose slice is shorter than n_terms has a position whose
        # term this shard lacks → cannot match here
        phrases: dict[int, list[str]] = {}
        for qid, grp in right.groupby("query_id", sort=False):
            n = int(grp["n_terms"].iloc[0])
            if len(grp) != n:
                continue
            seq = grp.sort_values("pos")["term"].tolist()
            phrases[int(qid)] = seq
        return _shard_phrase_matches(left, phrases, dps)

    matches, _bcs, held = _route_shards(
        spark, index_dir, qt, True, ["term", "postings", "positions"],
        _match_dist, _MATCH_SCHEMA,
    )
    out = _rank(
        _mask_matches(matches, exclude_doc_ids, include_doc_ids), k
    )
    # bounded (≤ k × |Q|) executor-side materialization so qt's persist can
    # be released now instead of leaking until GC (search._finish pattern)
    out = out.localCheckpoint(eager=True)
    for df in held:
        df.unpersist()
    return out
