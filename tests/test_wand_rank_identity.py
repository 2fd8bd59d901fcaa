"""End-to-end rank identity: indexed engine == exact oracle (north_rule).

The indexed scorer must reproduce the brute-force BM25 oracle's top-k docIDs
rank-identically, with scores within 1e-9 (JVM log vs libm log can differ in
the last ulp; operation order is otherwise identical). Masked searches are
checked against the oracle's full ranking with the same docs removed from
the results (masks never change corpus statistics)."""

from __future__ import annotations

import pytest

from dense_retriever_spark.index import search as search_mod
from dense_retriever_spark.index.build import build_index
from dense_retriever_spark.index.search import search
from dense_retriever_spark.operators.bm25 import bm25_exact_topk, tokenize_corpus

K = 10


@pytest.fixture(scope="module")
def idx(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("widx") / "index")
    build_index(tiny_corpus, d, docs_per_shard=64, term_buckets=4)
    return d


def _by_query(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["rank"]))
    return out


def _assert_rank_identical(got_rows, want_rows):
    got, want = _by_query(got_rows), _by_query(want_rows)
    assert set(got) == set(want), f"query coverage differs: {set(got) ^ set(want)}"
    for qid in want:
        g, w = got[qid], want[qid]
        assert [x[0] for x in g] == [x[0] for x in w], (
            f"q{qid} docs: {[x[0] for x in g]} != {[x[0] for x in w]}"
        )
        assert [x[2] for x in g] == [x[2] for x in w]
        for a, e in zip(g, w):
            assert abs(a[1] - e[1]) <= 1e-9 * max(1.0, abs(e[1])), (qid, a, e)


@pytest.fixture(scope="module")
def oracle_rows(spark, tiny_corpus, tiny_queries):
    return bm25_exact_topk(tokenize_corpus(tiny_corpus), tiny_queries, k=K).collect()


def _masked_oracle(tiny_corpus, queries, keep, k=K):
    """Oracle top-k of ``queries`` over the docs for which ``keep(doc_id)``
    holds: the full-corpus ranking (k = corpus size, so every match is
    present) filtered, truncated to k, and re-ranked."""
    n = tiny_corpus.count()
    full = bm25_exact_topk(tokenize_corpus(tiny_corpus), queries, k=n).collect()
    out = []
    for qid, rows in _by_query(full).items():
        kept = [(d, s) for d, s, _ in rows if keep(d)][:k]
        out += [
            {"query_id": qid, "doc_id": d, "score": s, "rank": i + 1}
            for i, (d, s) in enumerate(kept)
        ]
    return out


def test_exact_scorer_rank_identity(spark, idx, tiny_queries, oracle_rows):
    got = search(spark, idx, tiny_queries, k=K).collect()
    _assert_rank_identical(got, oracle_rows)


def test_blockmax_scorer_rank_identity(spark, idx, tiny_queries, oracle_rows):
    """The block-max scorer is gone (format v3); what it guarded still holds
    on the exact scorer: a repeat search served from a warm term-df cache is
    bit-equal to a cold one and rank-identical to the oracle."""
    search_mod._term_df_cache_clear()
    cold = search(spark, idx, tiny_queries, k=K).collect()
    warm = search(spark, idx, tiny_queries, k=K).collect()
    assert sorted(map(tuple, cold)) == sorted(map(tuple, warm))
    _assert_rank_identical(warm, oracle_rows)


def test_k1_and_k50(spark, idx, tiny_corpus, tiny_queries):
    tok = tokenize_corpus(tiny_corpus)
    for k in (1, 50):  # reference default top_n=50 (cli/model_training.py:39)
        want = bm25_exact_topk(tok, tiny_queries, k=k).collect()
        got = search(spark, idx, tiny_queries, k=k).collect()
        _assert_rank_identical(got, want)


def test_oov_and_empty(spark, idx):
    s = idx
    oov = (
        search(
            spark,
            s,
            spark.createDataFrame([(1, "zzzznotaterm")], "query_id long, query string"),
            k=5,
        )
    )
    assert oov.count() == 0


def test_blockmax_under_tombstones_rank_identity(spark, idx, tiny_corpus, tiny_queries):
    """A live kill-list is masked out of the postings before shard-local
    top-k: results equal the oracle's ranking with the killed docs removed,
    and no killed doc ever surfaces."""
    from pyspark.sql import functions as F

    kill = tiny_corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    got = search(spark, idx, tiny_queries, k=K, exclude_doc_ids=kill).collect()
    assert len(got) > 0
    assert all(r["doc_id"] % 7 != 0 for r in got)
    _assert_rank_identical(
        got, _masked_oracle(tiny_corpus, tiny_queries, lambda d: d % 7 != 0)
    )


def test_shard_scorer_masked_matches_blockmax_oracle(spark, idx):
    """_score_shard under a live exclusion set must equal
    wand.score_query_exact run directly over the same hand-masked postings
    (no contribution cache, no query grouping): any divergence is a bug in
    the masking or caching path."""
    import numpy as np

    from dense_retriever_spark.index import wand
    from dense_retriever_spark.index.codec import decode_postings
    from dense_retriever_spark.index.search import _score_shard, load_stats

    stats = load_stats(idx)
    pdf = (
        spark.read.parquet(f"{idx}/shards")
        .filter("shard = 0")
        .select("shard", "term", "postings")
        .toPandas()
    )
    terms = sorted(pdf["term"].tolist())[:5]
    queries = {0: terms}
    idfs = {t: 1.5 for t in terms}
    excl = np.array([1, 3, 5], dtype=np.int64)
    out = _score_shard(
        pdf, queries, idfs, 10, stats["k1"], stats["b"], stats["avgdl"],
        stats["docs_per_shard"], excl,
    )
    assert not set(out["doc_id"].tolist()) & {1, 3, 5}

    # independent oracle: score_query_exact over hand-masked postings
    row_of = {t: i for i, t in enumerate(pdf["term"])}
    term_rows = []
    for t in terms:
        ids, tfs, dls = decode_postings(pdf["postings"].iloc[row_of[t]])
        keep = ~np.isin(ids, excl, assume_unique=True)
        term_rows.append((t, idfs[t], ids[keep], tfs[keep], dls[keep]))
    scores, doc_ids = wand.score_query_exact(
        term_rows, 0, stats["docs_per_shard"], 10,
        stats["k1"], stats["b"], stats["avgdl"],
    )
    got = out[out["query_id"] == 0].sort_values("rank", kind="stable")
    assert got["doc_id"].tolist() == doc_ids.tolist()
    assert got["score"].tolist() == scores.tolist()


def test_filtered_search_include_docs(spark, idx, tiny_corpus, tiny_queries):
    """Metadata-filtered search (include_doc_ids, cogrouped allowed-set):
    results equal the oracle's ranking restricted to the allowed docs, alone
    and composed with a tombstone kill-list."""
    from pyspark.sql import functions as F

    allowed = tiny_corpus.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    got = search(
        spark, idx, tiny_queries, k=K, include_doc_ids=allowed,
    ).collect()
    assert len(got) > 0
    _assert_rank_identical(
        got, _masked_oracle(tiny_corpus, tiny_queries, lambda d: d % 3 == 1)
    )

    kill = tiny_corpus.filter(F.col("doc_id") % 6 == 1).select("doc_id")
    both = search(
        spark, idx, tiny_queries, k=K,
        include_doc_ids=allowed, exclude_doc_ids=kill,
    ).collect()
    _assert_rank_identical(
        both,
        _masked_oracle(
            tiny_corpus, tiny_queries, lambda d: d % 3 == 1 and d % 6 != 1
        ),
    )


def test_wide_query_adaptive_scorer_identity(spark, idx, tiny_corpus):
    """A disjunction of 100+ terms scores like any other query: rank-identical
    to the brute-force oracle."""
    wide = " ".join(f"sym{i:04d}" for i in range(100)) + " merge batch"
    qs = spark.createDataFrame([(0, wide)], "query_id long, query string")
    got = search(spark, idx, qs, k=K).collect()
    assert len(got) > 0
    want = bm25_exact_topk(tokenize_corpus(tiny_corpus), qs, k=K).collect()
    _assert_rank_identical(
        [r.asDict() for r in got], [r.asDict() for r in want]
    )


def test_wide_query_adaptive_under_masks(spark, idx, tiny_corpus):
    """Mixed batch (one narrow query + one 100-term query) under a tombstone
    mask: both rank-identical to the oracle with the killed docs removed."""
    from pyspark.sql import functions as F

    wide = " ".join(f"sym{i:04d}" for i in range(100))
    qs = spark.createDataFrame(
        [(0, wide), (1, "merge batch")], "query_id long, query string"
    )
    kill = tiny_corpus.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    got = search(spark, idx, qs, k=K, exclude_doc_ids=kill).collect()
    assert {r["query_id"] for r in got} == {0, 1}
    assert all(r["doc_id"] % 4 != 0 for r in got)
    _assert_rank_identical(
        got, _masked_oracle(tiny_corpus, qs, lambda d: d % 4 != 0)
    )
