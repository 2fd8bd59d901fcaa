"""Physical-plan scale assertions over EVERY contract query (SURVEY.md §7.4).

The 100-TB question, asked of the plans themselves: no contract query may
contain a partition-less Window over an un-limited input (all rows through
one reducer). Partition-less windows are allowed only below a GlobalLimit /
TakeOrderedAndProject — ranking an already-top-N'd result is O(k).
"""

from __future__ import annotations

import pytest

from dense_retriever_spark.plans import global_window_violations

SF_DIR = "/root/testdata/sf0.001"


def _query_items():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries().items())


@pytest.mark.parametrize("name,fn", _query_items(), ids=[n for n, _ in _query_items()])
def test_no_unbounded_global_window(spark, name, fn):
    df = fn(spark, SF_DIR)
    viol = global_window_violations(df)
    assert not viol, f"{name}: partition-less Window over un-limited input: {viol}"


def test_ivf_centroid_selection_plan(spark):
    """Fixed-K centroid selection must execute as TakeOrderedAndProject
    (O(K) per partition, merged on the driver) — never a global sort — and
    the assignment join must BROADCAST the K centroids."""
    from pyspark.sql import functions as F

    from dense_retriever_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_centroids,
    )
    from dense_retriever_spark.plans import physical_plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cplan = physical_plan(ivf_centroids(emb, 8))
    assert "TakeOrderedAndProject" in cplan, cplan
    assert "Sort " not in cplan  # no global sort of the table
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    aplan = physical_plan(ivf_ann_topk(emb, qv, k=3, n_centroids=8, nprobe=4))
    assert "BroadcastNestedLoopJoin" in aplan or "BroadcastHashJoin" in aplan


def test_search_scan_term_pushdown(spark, tmp_path):
    """The index-shard scan must reach parquet with the query-term IN filter
    pushed down (PushedFilters) and read only the scoring columns."""
    from pyspark.sql import functions as F

    from dense_retriever_spark.plans import scan_pushdown_info

    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import IndexPaths, build_index

    d = str(tmp_path / "pidx")
    build_index(ingest(synth_corpus(spark, 100)), d, docs_per_shard=64,
                term_buckets=2)
    shard_rows = (
        spark.read.parquet(IndexPaths(d).shards)
        .filter(F.col("term").isin(["def", "import"]))
        .select("shard", "term", "postings")
    )
    info = scan_pushdown_info(shard_rows)
    assert info["pushed_filters"] and "In(term" in info["pushed_filters"], info
    assert "content" not in (info["read_schema"] or "")


def test_broadcast_plane_term_semijoin_above_limit(spark, tmp_path,
                                                   monkeypatch):
    """Above TERM_ISIN_LIMIT the broadcast plane must prune its index scans
    with a broadcast left-semi join, not a query-term IN-literal (a 500k-term
    IN is a megabyte-scale plan compiled per search — round-4 verdict); below
    the limit the IN-literal stays (it reaches parquet as PushedFilters).
    The Spark broadcast plane is forced by making ``fs.local_path`` report
    no local path: on a local index the driver-local plane would answer,
    and its result has no index scan in its plan."""
    import dense_retriever_spark.index.search as search_mod
    from dense_retriever_spark.corpus import ingest, synth_corpus, synth_queries
    from dense_retriever_spark.index import fs
    from dense_retriever_spark.index.build import build_index
    from dense_retriever_spark.index.search import search
    from dense_retriever_spark.plans import physical_plan

    d = str(tmp_path / "semidx")
    build_index(ingest(synth_corpus(spark, 120)), d, docs_per_shard=64,
                term_buckets=2)
    qs = synth_queries(spark, 5)
    monkeypatch.setattr(fs, "local_path", lambda *a, **kw: None)

    monkeypatch.setattr(search_mod, "TERM_ISIN_LIMIT", 1)
    plan = physical_plan(search(spark, d, qs, k=5, eager=False))
    assert "LeftSemi" in plan, plan
    assert "In(term" not in plan, plan

    monkeypatch.setattr(search_mod, "TERM_ISIN_LIMIT", 4_096)
    plan = physical_plan(search(spark, d, qs, k=5, eager=False))
    assert "In(term" in plan, plan

    # both shapes score identically (the semi-join is plan-only)
    monkeypatch.setattr(search_mod, "TERM_ISIN_LIMIT", 1)
    semi = sorted(map(tuple, search(spark, d, qs, k=5).collect()))
    monkeypatch.setattr(search_mod, "TERM_ISIN_LIMIT", 4_096)
    lit = sorted(map(tuple, search(spark, d, qs, k=5).collect()))
    assert semi == lit and len(semi) > 0


def test_phrase_scan_pushdown_and_pruning(spark, tmp_path):
    """The phrase plane's shard scan must push the phrase-term IN filter to
    parquet and read ONLY (shard, term, postings, positions) — never the
    block-max arrays or df/cf the scoring plane uses."""
    from pyspark.sql import functions as F  # noqa: F401

    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import build_index
    from dense_retriever_spark.index.phrase import search_phrase
    from dense_retriever_spark.plans import scan_pushdown_info

    d = str(tmp_path / "phidx")
    build_index(ingest(synth_corpus(spark, 100)), d, docs_per_shard=64,
                term_buckets=2, positions=True)
    qs = spark.createDataFrame(
        [(0, "table hash")], "query_id long, query string"
    )
    res = search_phrase(spark, d, qs, k=5)
    info = scan_pushdown_info(res)
    assert info["pushed_filters"] and "In(term" in info["pushed_filters"], info
    rs = info["read_schema"] or ""
    assert "positions" in rs and "postings" in rs, rs
    for col in ("df", "cf", "content"):
        assert col not in rs, (col, rs)
