"""Rank identity on the long-tail code corpus of ``perfbench/gen.py``.

``corpus.synth_corpus`` has a ~440-word vocabulary, so every term sits in a
fifth of the documents. The generator's corpus has Zipf-drawn identifiers:
most terms occur in one or two files, a few keywords in nearly all. On it,
both query planes of both global layouts must return the oracle's top-k
(doc_id and rank equal, score within 1e-9, (score DESC, doc_id ASC)
tie-break), and global/ must hold exactly the per-term sums of shards/.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.gen import CodeCorpus  # noqa: E402

from dense_retriever_spark.corpus import ingest  # noqa: E402
from dense_retriever_spark.index.build import IndexPaths, build_index  # noqa: E402
from dense_retriever_spark.index.search import (  # noqa: E402
    global_term_stats,
    load_stats,
    search,
)
from dense_retriever_spark.operators.bm25 import (  # noqa: E402
    bm25_exact_topk,
    tokenize_corpus,
)

N_FILES = 300
N_QUERIES = 40
KS = (1, 10, 50)
LAYOUTS = ("merged", "generational")


@pytest.fixture(scope="module")
def long_tail(spark):
    gen = CodeCorpus(1)
    frame, tokens = gen.docs(N_FILES)
    qs = gen.queries(tokens, N_QUERIES)[["query_id", "query"]]
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
        build_index(corpus, d, docs_per_shard=64, term_buckets=4,
                    global_layout=layout)
        out[layout] = d
    return out


@pytest.fixture(scope="module")
def oracle(long_tail):
    corpus, queries = long_tail
    return bm25_exact_topk(
        tokenize_corpus(corpus), queries, k=max(KS)
    ).collect()


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
    spark, long_tail, indexes, oracle, layout, query_mode
):
    _, queries = long_tail
    for k in KS:
        got = _by_query(
            search(spark, indexes[layout], queries, k=k,
                   query_mode=query_mode).collect(),
            k,
        )
        want = _by_query(oracle, k)
        assert set(got) == set(want), (k, set(got) ^ set(want))
        for qid, w in want.items():
            g = got[qid]
            assert [(d, r) for d, r, _ in g] == [(d, r) for d, r, _ in w], (
                k, qid, g, w,
            )
            for (_, _, gs), (_, _, ws) in zip(g, w):
                assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws)), (k, qid)


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
    if layout == "merged":
        assert spark.read.parquet(paths.global_dir).columns == [
            "term", "df", "cf"
        ]
    else:
        assert stats["n_gens"] >= 1  # gens plus the loose tail shard
    g = global_term_stats(spark, d, stats)
    assert g.columns == ["term", "df", "cf"]
    got = {r["term"]: (r["df"], r["cf"]) for r in g.collect()}
    assert got == want
    assert sum(cf for _, cf in got.values()) == stats["metrics"]["total_tokens"]
