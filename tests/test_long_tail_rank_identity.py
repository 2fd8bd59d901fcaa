"""Rank identity on the long-tail code corpus of ``perfbench/gen.py``.

``corpus.synth_corpus`` has a ~440-word vocabulary, so every term sits in a
fifth of the documents. The generator's corpus has Zipf-drawn identifiers:
most terms occur in one or two files, a few keywords in nearly all. On it,
every query plane must return the oracle's top-k (doc_id and rank equal,
score within 1e-9, (score DESC, doc_id ASC) tie-break), with and without
kill-lists and include filters, and the committed global/ dictionary must
hold exactly the per-term sums of shards/ — on an index built in one go
and on one grown in two builds, whose global/ also holds the superseded
dictionary generation that no reader may count.

The planes: ``query_mode="broadcast"`` on a local index is the driver-local
plane; the Spark broadcast plane is forced by making ``fs.local_path``
report no local path; ``query_mode="distributed"`` is the third.

Boolean search and ``count_matches`` are checked against a from-scratch
oracle over the generator's own tokens (plain Python BM25 and boolean
matching, no index, no Spark), on both planes and under the same masks.

On a local index every broadcast-plane entry reads term df from the
committed dictionary with pyarrow, never through a Spark job.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.gen import CodeCorpus  # noqa: E402

from dense_retriever_spark import BM25_B, BM25_K1  # noqa: E402
from dense_retriever_spark.corpus import ingest  # noqa: E402
from dense_retriever_spark.functions.tokenizer import (  # noqa: E402
    tokenize_code_series,
)
from dense_retriever_spark.index import fs  # noqa: E402
from dense_retriever_spark.index import boolean as boolean_mod  # noqa: E402
from dense_retriever_spark.index import search as search_mod  # noqa: E402
from dense_retriever_spark.index.boolean import (  # noqa: E402
    ROLE_FORBIDDEN,
    ROLE_REQUIRED,
    count_matches,
    parse_boolean_query,
    search_boolean,
)
from dense_retriever_spark.index.build import IndexPaths, build_index  # noqa: E402
from dense_retriever_spark.index.fields import search_fields  # noqa: E402
from dense_retriever_spark.index.search import (  # noqa: E402
    global_term_stats,
    load_stats,
    score_matches,
    search,
)
from dense_retriever_spark.operators.bm25 import (  # noqa: E402
    bm25_exact_topk,
    tokenize_corpus,
)

N_FILES = 300
N_QUERIES = 40
KS = (1, 10, 50)
#: "merged": one build over the corpus; "generational": the first 200
#: files, then all of them, so global/ holds two dictionary generations
LAYOUTS = ("merged", "generational")


@pytest.fixture(scope="module")
def generated():
    """The generator's documents, their raw tokens and the query batch."""
    gen = CodeCorpus(1)
    frame, tokens = gen.docs(N_FILES)
    return frame, tokens, gen.queries(tokens, N_QUERIES)[["query_id", "query"]]


@pytest.fixture(scope="module")
def long_tail(spark, generated):
    frame, _, qs = generated
    corpus = ingest(spark.createDataFrame(frame)).cache()
    queries = spark.createDataFrame(qs).cache()
    return corpus, queries


@pytest.fixture(scope="module")
def indexes(spark, long_tail, tmp_path_factory):
    corpus, _ = long_tail
    root = tmp_path_factory.mktemp("long_tail")
    out = {}
    for layout in LAYOUTS:
        d = str(root / layout)
        if layout == "generational":
            build_index(corpus.filter(F.col("doc_id") < 200), d,
                        docs_per_shard=64, term_buckets=4)
        build_index(corpus, d, docs_per_shard=64, term_buckets=4)
        out[layout] = d
    return out


@pytest.fixture(scope="module")
def oracle(long_tail):
    corpus, queries = long_tail
    return bm25_exact_topk(
        tokenize_corpus(corpus), queries, k=max(KS)
    ).collect()


@pytest.fixture(scope="module")
def full_oracle(long_tail):
    """The oracle's whole ranking (k = corpus size): every match present,
    so a tombstoned ranking is this one with the killed docs removed."""
    corpus, queries = long_tail
    return bm25_exact_topk(
        tokenize_corpus(corpus), queries, k=N_FILES
    ).collect()


def _masked(rows, keep, k):
    """``rows`` without the docs ``keep`` rejects, cut to k and re-ranked."""
    out = []
    for qid, ranked in _by_query(rows, N_FILES).items():
        kept = [(d, s) for d, _, s in ranked if keep(d)][:k]
        out += [
            {"query_id": qid, "doc_id": d, "score": s, "rank": i + 1}
            for i, (d, s) in enumerate(kept)
        ]
    return out


def _assert_matches_oracle(got_rows, oracle_rows, k):
    got, want = _by_query(got_rows, k), _by_query(oracle_rows, k)
    assert set(got) == set(want), (k, set(got) ^ set(want))
    for qid, w in want.items():
        g = got[qid]
        assert [(d, r) for d, r, _ in g] == [(d, r) for d, r, _ in w], (
            k, qid, g, w,
        )
        for (_, _, gs), (_, _, ws) in zip(g, w):
            assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws)), (k, qid)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _by_query(rows, k):
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        if r["rank"] <= k:
            out.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["rank"], r["score"])
            )
    return out


@pytest.mark.parametrize("layout", LAYOUTS)
@pytest.mark.parametrize("query_mode", ["broadcast", "distributed"])
def test_search_rank_identical_to_oracle(
    spark, long_tail, indexes, oracle, full_oracle, layout, query_mode
):
    """Plain search, and ``include_doc_ids`` (the Spark broadcast plane on
    ``broadcast``) with and without a kill-list: the oracle's ranking
    restricted to the allowed docs."""
    corpus, queries = long_tail
    d = indexes[layout]
    incl = corpus.filter(F.col("doc_id") % 3 != 0).select("doc_id")
    kill = corpus.filter(F.col("doc_id") % 4 == 1).select("doc_id")
    for k in KS:
        got = search(spark, d, queries, k=k,
                     query_mode=query_mode).collect()
        _assert_matches_oracle(got, oracle, k)
        got = search(spark, d, queries, k=k, query_mode=query_mode,
                     include_doc_ids=incl).collect()
        _assert_matches_oracle(
            got, _masked(full_oracle, lambda x: x % 3 != 0, k), k
        )
        got = search(spark, d, queries, k=k, query_mode=query_mode,
                     include_doc_ids=incl, exclude_doc_ids=kill).collect()
        _assert_matches_oracle(
            got,
            _masked(full_oracle, lambda x: x % 3 != 0 and x % 4 != 1, k),
            k,
        )


@pytest.mark.parametrize("layout", LAYOUTS)
def test_local_plane_bit_identical_to_spark_planes(
    spark, long_tail, indexes, layout, monkeypatch
):
    """The driver-local plane, the Spark broadcast plane and the
    distributed plane run the same scorer and the same tie-break, so their
    results are equal bit for bit, not only rank-identical."""
    _, queries = long_tail
    d = indexes[layout]
    for k in KS:
        local = _rows(search(spark, d, queries, k=k))
        dist = _rows(search(spark, d, queries, k=k,
                            query_mode="distributed"))
        with monkeypatch.context() as m:
            m.setattr(fs, "local_path", lambda *a, **kw: None)
            spark_bc = _rows(search(spark, d, queries, k=k))
        assert local == spark_bc == dist and len(local) > 0, k


@pytest.mark.parametrize("layout", LAYOUTS)
def test_local_plane_tombstones(
    spark, long_tail, indexes, full_oracle, layout, monkeypatch
):
    """A kill-list below the driver ceiling keeps the local plane: the
    killed docs are masked before each shard's top-k, so the result is the
    oracle's ranking with them removed — and equal to both Spark planes."""
    corpus, queries = long_tail
    d = indexes[layout]
    kill = corpus.filter(F.col("doc_id") % 4 == 1).select("doc_id")
    for k in KS:
        local = search(spark, d, queries, k=k, exclude_doc_ids=kill).collect()
        _assert_matches_oracle(
            local, _masked(full_oracle, lambda x: x % 4 != 1, k), k
        )
        dist = _rows(search(spark, d, queries, k=k, exclude_doc_ids=kill,
                            query_mode="distributed"))
        with monkeypatch.context() as m:
            m.setattr(fs, "local_path", lambda *a, **kw: None)
            spark_bc = _rows(search(spark, d, queries, k=k,
                                    exclude_doc_ids=kill))
        assert sorted(map(tuple, local)) == spark_bc == dist, k


def test_single_query_runs_one_spark_job(spark, long_tail, indexes):
    """A cold single-query search on a local index runs exactly one Spark
    job (collecting the query's tokens): the term dictionary and the
    postings are read on the driver and the result is a local relation."""
    _, queries = long_tail
    text = queries.orderBy("query_id").first()["query"]
    one = spark.createDataFrame([(7, text)], "query_id long, query string")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for layout in LAYOUTS:
        group = f"one_query_{layout}"
        sc.setJobGroup(group, group)
        try:
            rows = search(spark, indexes[layout], one, k=10).collect()
        finally:
            sc.setJobGroup(None, None)
        assert len(tracker.getJobIdsForGroup(group)) == 1, layout
        assert len(rows) > 0 and {r["query_id"] for r in rows} == {7}


@pytest.mark.parametrize("layout", LAYOUTS)
def test_global_dictionary_sums_shards(spark, indexes, layout):
    d = indexes[layout]
    paths = IndexPaths(d)
    shards = spark.read.parquet(paths.shards)
    assert sorted(shards.columns) == sorted(
        ["shard", "term", "df", "cf", "postings"]
    )
    want = {
        r["term"]: (r["df"], r["cf"])
        for r in shards.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    }
    stats = load_stats(d)
    gens = ["gen-0"] if layout == "merged" else ["gen-0", "gen-1"]
    assert sorted(os.listdir(paths.global_dir)) == gens
    assert stats["dictionary"] == gens[-1]
    assert spark.read.parquet(paths.dictionary(stats)).columns == [
        "term", "df", "cf"
    ]
    g = global_term_stats(spark, d, stats)
    assert g.columns == ["term", "df", "cf"]
    got = {r["term"]: (r["df"], r["cf"]) for r in g.collect()}
    assert got == want
    assert sum(cf for _, cf in got.values()) == stats["metrics"]["total_tokens"]


#: keywords the boolean batch adds to the generator's queries, so that
#: bare, required and forbidden segments hit many documents
_BOOL_KEYWORDS = ("return", "self", "import", "def", "class")


def _boolean_queries(qs):
    """The generator's queries with deterministic boolean roles: the first
    segment of most multi-segment queries is +required, the last of every
    other long one -forbidden, and a keyword is appended bare, -forbidden
    or +required in turn (OOV segments keep whatever role they get); one
    more query has an out-of-vocabulary optional term alone."""
    out = []
    for j, q in zip(qs["query_id"].tolist(), qs["query"].tolist()):
        segs = q.split()
        if len(segs) > 1 and j % 3:
            segs[0] = "+" + segs[0]
        if len(segs) >= 3 and j % 2 == 0:
            segs[-1] = "-" + segs[-1]
        segs.append(("", "-", "+", "")[j % 4] + _BOOL_KEYWORDS[j % 5])
        out.append((j, " ".join(segs)))
    # a required term whose only optional term is out of vocabulary:
    # min_should_match leaves it unconstrained
    out.append((len(out), "+self qx000000001"))
    return out


@pytest.fixture(scope="module")
def boolean_oracle(long_tail, generated):
    """(queries, oracle(msm, keep)): the boolean batch and, for a
    min_should_match and a doc-id filter, every query's whole ranked
    match list [(doc_id, score)] by (score DESC, doc_id ASC) — built from
    the generator's tokens alone. Collection statistics are those of the
    whole corpus whatever the filter, as masks never change them."""
    corpus, _ = long_tail
    frame, tokens, qs = generated
    number = {int(p.rsplit("/m", 1)[1].split(".")[0]): d
              for d, p in corpus.select("doc_id", "path").collect()}
    docs = {
        number[i]: Counter(ts)
        for i, ts in enumerate(tokenize_code_series(
            pd.Series([" ".join(t) for t in tokens])
        ))
    }
    n = float(len(docs))
    dl = {d: float(sum(c.values())) for d, c in docs.items()}
    avgdl = sum(dl.values()) / n
    df = Counter(t for c in docs.values() for t in c)
    queries = _boolean_queries(qs)

    def contrib(t, d):
        idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
        tf = float(docs[d][t])
        denom = tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dl[d]) / avgdl)
        return ((idf * tf) * (BM25_K1 + 1.0)) / denom

    def oracle(msm, keep):
        out = {}
        for qid, q in queries:
            roles = parse_boolean_query(q)
            req = [t for t, r in roles if r == ROLE_REQUIRED]
            neg = [t for t, r in roles if r == ROLE_FORBIDDEN]
            scored = sorted(t for t, r in roles if r != ROLE_FORBIDDEN)
            if any(t not in df for t in req):
                out[qid] = []  # an out-of-vocabulary required term
                continue
            scored = [t for t in scored if t in df]
            opt = [t for t in scored if t not in req]
            hits = []
            for d, c in docs.items():
                if not keep(d) or any(t in c for t in neg):
                    continue
                if not all(t in c for t in req):
                    continue
                if not any(t in c for t in scored):
                    continue
                if msm and opt and sum(t in c for t in opt) < msm:
                    continue
                s = 0.0
                for t in scored:  # sorted-term order
                    if t in c:
                        s += contrib(t, d)
                hits.append((d, s))
            out[qid] = sorted(hits, key=lambda h: (-h[1], h[0]))
        return out

    return queries, oracle


def _ranked_rows(ranked, k):
    return [
        {"query_id": qid, "doc_id": d, "score": s, "rank": i + 1}
        for qid, hits in ranked.items()
        for i, (d, s) in enumerate(hits[:k])
    ]


#: (name, doc filter, include mask, kill-list) over doc_id
_MASKS = (
    ("none", lambda d: True, None, None),
    ("kill", lambda d: d % 4 != 1, None, lambda d: d % 4 == 1),
    ("include", lambda d: d % 3 != 0, lambda d: d % 3 != 0, None),
    ("both", lambda d: d % 3 != 0 and d % 4 != 1,
     lambda d: d % 3 != 0, lambda d: d % 4 == 1),
)


def _id_frame(spark, corpus, pick):
    if pick is None:
        return None
    ids = [r[0] for r in corpus.select("doc_id").collect() if pick(r[0])]
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


@pytest.mark.parametrize("msm", [0, 2])
def test_boolean_matches_oracle(
    spark, long_tail, indexes, boolean_oracle, msm
):
    """search_boolean (+required, -forbidden, bare; min_should_match 0 and
    2) on the Spark broadcast and the distributed plane, with and without
    a kill-list and an include mask, at k = 1/10/50: the oracle's ranking
    (doc_id and rank equal, score within 1e-9), and the two planes equal
    bit for bit. count_matches under the same masks is the size of the
    oracle's whole match list, zero rows included."""
    corpus, _ = long_tail
    queries, oracle = boolean_oracle
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    d = indexes["merged"]
    n_hits = 0
    for name, keep, incl_pick, kill_pick in _MASKS:
        want = oracle(msm, keep)
        incl = _id_frame(spark, corpus, incl_pick)
        kill = _id_frame(spark, corpus, kill_pick)
        for k in KS:
            got = {
                mode: search_boolean(
                    spark, d, qdf, k=k, query_mode=mode,
                    exclude_doc_ids=kill, include_doc_ids=incl,
                    min_should_match=msm,
                ).collect()
                for mode in ("broadcast", "distributed")
            }
            _assert_matches_oracle(got["broadcast"], _ranked_rows(want, k), k)
            assert _rows_of(got["broadcast"]) == _rows_of(
                got["distributed"]
            ), (name, k)
            n_hits += len(got["broadcast"])
        counts = count_matches(
            spark, d, qdf, exclude_doc_ids=kill, include_doc_ids=incl,
            min_should_match=msm,
        ).collect()
        assert {r["query_id"]: r["n_matches"] for r in counts} == {
            qid: len(hits) for qid, hits in want.items()
        }, name
    assert n_hits > 0


def _rows_of(rows):
    return sorted(map(tuple, rows))


def test_broadcast_df_lookup_reads_local_dictionary(
    spark, long_tail, generated, indexes, monkeypatch
):
    """With ``global_term_stats`` made to raise, every broadcast-plane entry
    on a local index still runs — plain search, kill-list,
    ``include_doc_ids``, ``score_matches``, ``search_boolean`` (msm 0 and
    2), ``count_matches`` and fused ``search_fields`` over two indexes —
    because each reads term df from the committed dictionary with pyarrow;
    and each returns the rows of the same call on the Spark broadcast plane
    (``fs.local_path`` reporting no local path). The batch is drawn with
    another generator seed than the module's queries."""
    corpus, _ = long_tail
    _, tokens, _ = generated
    qs = CodeCorpus(2).queries(tokens, N_QUERIES)[["query_id", "query"]]
    queries = spark.createDataFrame(qs)
    bool_qs = spark.createDataFrame(
        _boolean_queries(qs), "query_id long, query string"
    )
    incl = corpus.filter(F.col("doc_id") % 3 != 0).select("doc_id")
    kill = corpus.filter(F.col("doc_id") % 4 == 1).select("doc_id")
    d = indexes["merged"]
    fields = [("merged", d, 1.0), ("grown", indexes["generational"], 0.5)]
    calls = {
        "include": lambda: search(spark, d, queries, k=10,
                                  include_doc_ids=incl),
        "include_kill": lambda: search(spark, d, queries, k=10,
                                       include_doc_ids=incl,
                                       exclude_doc_ids=kill),
        "score_matches": lambda: score_matches(spark, d, queries),
        "fields": lambda: search_fields(spark, fields, queries, k=10),
        "plain": lambda: search(spark, d, queries, k=10),
        "kill": lambda: search(spark, d, queries, k=10,
                               exclude_doc_ids=kill),
        "boolean_msm0": lambda: search_boolean(spark, d, bool_qs, k=10),
        "boolean_msm2": lambda: search_boolean(spark, d, bool_qs, k=10,
                                               min_should_match=2),
        "count_matches": lambda: count_matches(spark, d, bool_qs),
    }

    def spark_lookup(*a, **kw):
        raise AssertionError("broadcast df lookup ran a Spark job")

    with monkeypatch.context() as m:
        for mod in (search_mod, boolean_mod):
            m.setattr(mod, "global_term_stats", spark_lookup)
        got = {name: _rows(call()) for name, call in calls.items()}
    with monkeypatch.context() as m:
        m.setattr(fs, "local_path", lambda *a, **kw: None)
        for name, call in calls.items():
            want = _rows(call())
            assert got[name] == want and len(want) > 0, name
