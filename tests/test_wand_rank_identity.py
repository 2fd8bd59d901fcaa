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
    on the exact scorer: a repeat search is bit-equal to the first and
    rank-identical to the oracle."""
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


def _shard_fixture():
    """One shard (shard 3, 256 docs) of 14 terms with random postings, and
    a query batch covering the batched scorer's cases: a query with 12
    present terms (past numpy's 8-term pairwise-sum block, so a reordered
    float sum shows), query ids sharing one term signature, a query whose
    only term the masks remove, unasked rows and terms absent here."""
    import numpy as np
    import pandas as pd

    from dense_retriever_spark.index.codec import encode_postings
    from dense_retriever_spark.index.wand import idf

    rng = np.random.default_rng(7)
    dps, shard = 256, 3
    base = shard * dps
    terms = [f"t{i:02d}" for i in range(14)]
    postings = {}
    for i, t in enumerate(terms):
        df = [200, 90, 40, 12, 3, 1][i % 6]
        ids = np.sort(rng.choice(dps, size=df, replace=False)) + base
        postings[t] = (
            ids.astype(np.int64),
            rng.integers(1, 9, df).astype(np.int64),
            rng.integers(5, 4000, df).astype(np.int64),
        )
    masked_term = "t13"  # its docs: all excluded, none included
    excl = np.sort(np.r_[postings[masked_term][0], base + np.arange(0, dps, 5)])
    incl = np.setdiff1d(np.arange(base + 1, base + dps, 2), postings[masked_term][0])
    rows = [(shard, t, encode_postings(*postings[t])) for t in terms]
    rows.append((shard, "unasked", encode_postings(*postings["t00"])))
    pdf = pd.DataFrame(rows, columns=["shard", "term", "postings"])
    idfs = {t: idf(float(len(postings[t][0])), 5000.0) for t in terms}
    idfs["absent"] = idf(3.0, 5000.0)
    queries = {
        0: sorted(terms[:12]),
        1: ["t01", "t05"],
        2: ["t01", "t05"],
        7: ["absent", "t01", "t05"],
        3: [masked_term],
        4: ["absent"],
        5: ["t02", "t03", "t04", masked_term],
        6: ["t00"],
    }
    return pdf, queries, idfs, postings, dps, base, excl, incl


@pytest.mark.parametrize("chunk_cells", [search_mod._SCORE_CHUNK_CELLS, 600])
def test_score_shard_batch_equals_per_query_exact(monkeypatch, chunk_cells):
    """The batched shard scorer equals wand.score_query_exact run per query
    over the same masked postings, bit for bit: doc ids, their order (rank)
    and the exact float scores, at k=1/10/50 and k=docs_per_shard (no
    truncation) without a mask, with a kill-list, with an allowed-id list
    and with both; in one chunk of signatures and in several."""
    import numpy as np

    from dense_retriever_spark.index import wand
    from dense_retriever_spark.index.search import _score_shard

    monkeypatch.setattr(search_mod, "_SCORE_CHUNK_CELLS", chunk_cells)
    pdf, queries, idfs, postings, dps, base, excl, incl = _shard_fixture()
    k1, b, avgdl = 1.2, 0.75, 731.5
    for x, i in ((None, None), (excl, None), (None, incl), (excl, incl)):
        for k in (1, 10, 50, dps):
            out = _score_shard(pdf, queries, idfs, k, k1, b, avgdl, dps, x, i)
            for qid, qterms in queries.items():
                term_rows = []
                for t in qterms:
                    if t not in postings:
                        continue
                    ids, tfs, dls = postings[t]
                    keep = np.ones(ids.size, dtype=bool)
                    if x is not None:
                        keep &= ~np.isin(ids, x)
                    if i is not None:
                        keep &= np.isin(ids, i)
                    if keep.any():
                        term_rows.append(
                            (t, idfs[t], ids[keep], tfs[keep], dls[keep])
                        )
                want_s, want_d = (
                    wand.score_query_exact(
                        term_rows, base, dps, k, k1, b, avgdl
                    )
                    if term_rows
                    else (np.empty(0), np.empty(0, np.int64))
                )
                got = out[out["query_id"] == qid]
                assert got["doc_id"].tolist() == want_d.tolist(), (qid, k)
                assert got["score"].tolist() == want_s.tolist(), (qid, k)
            if x is not None or i is not None:
                assert not (out["query_id"] == 3).any()
    # the shared signature is scored once and emitted per query id
    out = _score_shard(pdf, queries, idfs, 10, k1, b, avgdl, dps)
    one = out[out["query_id"] == 1][["doc_id", "score"]].to_numpy()
    for qid in (2, 7):
        assert (out[out["query_id"] == qid][["doc_id", "score"]].to_numpy() == one).all()
    assert len(queries[0]) >= 9 and (out["query_id"] == 0).sum() == 10


def test_shard_bodies_decode_once(monkeypatch):
    """The boolean, counting and fused multi-field shard bodies decode one
    shard's rows with exactly one decode_postings_batch call each — the
    shard scorer's decode-and-mask half — whatever the number of terms,
    roles, masks or field indexes."""
    import pandas as pd

    from dense_retriever_spark.index import boolean, codec, fields

    calls = []
    real = codec.decode_postings_batch

    def counting(blobs):
        calls.append(len(blobs))
        return real(blobs)

    for mod in (codec, search_mod, boolean, fields):
        if hasattr(mod, "decode_postings_batch"):
            monkeypatch.setattr(mod, "decode_postings_batch", counting)
    pdf, queries, idfs, _postings, dps, _base, excl, incl = _shard_fixture()
    k1, b, avgdl = 1.2, 0.75, 731.5
    bq = {
        0: (sorted(queries[0]), ["t01", "t02"], ["t13"]),
        1: (["t01", "t05"], [], ["t03"]),
        5: (["t02", "t03", "t04"], ["t04"], []),
    }
    both = pd.concat([pdf.assign(src=0), pdf.assign(src=1)])
    bodies = {
        "boolean": lambda x, i: boolean._boolean_shard(
            pdf, bq, idfs, 10, k1, b, avgdl, dps, x, i, msm=1
        ),
        "count": lambda x, i: boolean._count_shard_boolean(
            pdf, bq, dps, x, i, msm=1
        ),
        "fields": lambda x, i: fields._fields_shard(
            both, queries, [idfs, idfs], [(k1, b, avgdl)] * 2, [0, 1],
            [1.0, 0.5], "sum", dps, 10, x, i,
        ),
    }
    for name, body in bodies.items():
        for x, i in ((None, None), (excl, incl)):
            calls.clear()
            out = body(x, i)
            assert len(out) > 0, name
            assert len(calls) == 1, (name, calls)
