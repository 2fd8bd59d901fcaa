"""More-like-this (index/mlt.py): Lucene-MLT-style interesting-term
selection + seed-excluded BM25 retrieval over the engine's own index."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dense_retriever_spark.index.build import build_index
from dense_retriever_spark.index.mlt import interesting_terms, more_like_this

ROWS = [
    (0, "rust compiler borrow checker lifetime lifetime"),
    (1, "rust compiler macro hygiene expansion"),
    (2, "python interpreter bytecode stack frame"),
    (3, "python compiler ast bytecode optimizer"),
    (4, "garbage collector heap arena allocation"),
    (5, "borrow checker region inference lifetime"),
]


def _as_input(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    return docs.select(
        "doc_id",
        F.lit("docs").alias("repo"),
        F.concat(F.lit("p"), F.col("doc_id")).alias("path"),
        F.concat(F.lit("c"), F.col("doc_id")).alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


@pytest.fixture(scope="module")
def mlt_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mlt"))
    build_index(_as_input(spark), root + "/idx", docs_per_shard=4)
    return root + "/idx"


def test_interesting_terms_rank_and_bound(spark, mlt_index):
    seeds = spark.createDataFrame([(0, 0)], "query_id long, doc_id long")
    t = interesting_terms(spark, mlt_index, seeds, max_terms=3).toPandas()
    assert len(t) == 3
    # doc 0's rarest/heaviest term is the doubled 'lifetime' (tf=2) or the
    # uniquest; scores must be non-increasing with term ASC tie-break
    s = list(t.sort_values(["tscore", "term"], ascending=[False, True])["term"])
    assert list(t.sort_values("tscore", ascending=False)["tscore"]) == sorted(
        t["tscore"], reverse=True
    )
    assert set(s) <= {
        "lifetime", "borrow", "checker", "rust", "compiler"
    }


def test_mlt_excludes_seed_and_finds_neighbors(spark, mlt_index):
    seeds = spark.createDataFrame([(0, 0)], "query_id long, doc_id long")
    r = more_like_this(spark, mlt_index, seeds, k=5, max_terms=5).toPandas()
    assert 0 not in set(r["doc_id"])
    # doc 5 shares borrow/checker/lifetime — must rank first
    assert r.sort_values("rank").iloc[0]["doc_id"] == 5
    assert (r["rank"].values == range(1, len(r) + 1)).all()


def test_mlt_planes_identical(spark, mlt_index):
    seeds = spark.createDataFrame(
        [(0, 0), (1, 2)], "query_id long, doc_id long"
    )
    a = more_like_this(spark, mlt_index, seeds, k=4).toPandas()
    b = more_like_this(
        spark, mlt_index, seeds, k=4, query_mode="distributed"
    ).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_mlt_multiple_seeds_per_query(spark, mlt_index):
    """Two seeds: tf sums across them, and BOTH are excluded."""
    seeds = spark.createDataFrame(
        [(0, 0), (0, 5)], "query_id long, doc_id long"
    )
    r = more_like_this(spark, mlt_index, seeds, k=6).toPandas()
    assert not set(r["doc_id"]) & {0, 5}
    assert len(r) > 0


def test_mlt_content_override(spark, mlt_index):
    """content_df replaces the docs-table text source (metadata-only
    indexes): overriding doc 0's content changes its interesting terms."""
    seeds = spark.createDataFrame([(0, 0)], "query_id long, doc_id long")
    alt = spark.createDataFrame(
        [(0, "python interpreter bytecode")], "doc_id long, content string"
    )
    t = interesting_terms(
        spark, mlt_index, seeds, max_terms=5, content_df=alt
    ).toPandas()
    assert set(t["term"]) <= {"python", "interpreter", "bytecode"}


@pytest.mark.parametrize("query_mode", ["broadcast", "distributed"])
def test_mlt_reads_stats_once(spark, mlt_index, monkeypatch, query_mode):
    """One ``stats.json`` read per call: term selection and scoring use
    the same snapshot, so a refresh committing mid-call cannot give them
    different index generations."""
    from dense_retriever_spark.index import mlt, search

    calls = []
    real = search.load_stats

    def counting(index_dir):
        calls.append(index_dir)
        return real(index_dir)

    monkeypatch.setattr(mlt, "load_stats", counting)
    monkeypatch.setattr(search, "load_stats", counting)
    seeds = spark.createDataFrame([(0, 0)], "query_id long, doc_id long")
    r = more_like_this(
        spark, mlt_index, seeds, k=3, query_mode=query_mode
    ).collect()
    assert len(r) > 0
    assert calls == [mlt_index]
