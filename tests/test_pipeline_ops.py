"""Training-data pipeline operators: dedup, similarity, negatives."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "completely different text about spark engines"),
        (4, "ab"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs):
    from dense_retriever_spark.operators.dedup import dedup_exact

    groups = {r["keep_id"]: r for r in dedup_exact(docs).collect()}
    assert groups[0]["n_dupes"] == 2 and groups[0]["dup_ids"] == [0, 2]
    assert groups[1]["n_dupes"] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    from dense_retriever_spark.operators.dedup import jaccard_verify, minhash_lsh_pairs

    # collapse_exact=False: exact dups surface as pairs (legacy semantics);
    # the default collapses them to one representative (see
    # tests/test_dedup_similarity.py for the guard behavior)
    pairs = minhash_lsh_pairs(
        docs, n_hashes=16, bands=8, collapse_exact=False
    )  # narrow bands: high recall
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 2) in got  # exact dup always collides on every band
    verified = jaccard_verify(pairs, docs, threshold=0.5).collect()
    vm = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert vm[(0, 2)] == 1.0
    if (0, 1) in vm:
        assert 0.5 <= vm[(0, 1)] < 1.0
    # doc 4 (no shingles) never appears
    assert not any(4 in p for p in got)


def test_simhash_close_for_near_dups(spark, docs):
    from dense_retriever_spark.operators.dedup import simhash

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    assert sh[0] == sh[2]  # identical docs, identical simhash
    ham_near = bin(sh[0] ^ sh[1]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near <= ham_far


def test_cosine_vs_lsh_bucket(spark):
    from dense_retriever_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_bucketed_topk,
    )

    rows = [
        (0, [1.0, 0.5, 0.1, 0.2]),
        (1, [1.0, 0.5, 0.1, 0.21]),
        (2, [-1.0, -0.5, -0.1, -0.2]),
        (3, [0.9, 0.4, 0.2, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    bf = cosine_topk_bruteforce(emb, qv, k=2).collect()
    assert [r["vec_id"] for r in bf] == [1, 3]  # 2 is anti-parallel
    lsh = lsh_bucketed_topk(emb, qv, k=2, n_bits=4).collect()
    # same bucket (all-positive dims) contains 1 and 3 but not 2
    assert [r["vec_id"] for r in lsh] == [1, 3]
    assert all(r["cosine"] > 0.9 for r in lsh)


def test_hard_negative_pipeline(spark):
    from dense_retriever_spark.operators.negatives import (
        build_train_set,
        construct_query_samples,
        mine_hard_negatives,
        train_test_split,
    )

    queries = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "qid long, text string"
    )
    qrels = spark.createDataFrame(
        [(1, "D10"), (2, "D20")], "qid long, doc_id string"
    )
    samples = construct_query_samples(queries, qrels)
    got = {r["query_id"]: r for r in samples.collect()}
    assert got[1]["positive_doc_id"] == "D10" and got[1]["query"] == "alpha"

    results = spark.createDataFrame(
        [(1, ["D10", "D11", "D12"]), (2, ["D21", "D20"])],
        "query_id long, search_results array<string>",
    )
    mined = mine_hard_negatives(samples, results)
    m = {r["query_id"]: r["hard_negative_id"] for r in mined.collect()}
    assert m[1] in ("D11", "D12") and m[2] == "D21"  # positive excluded

    docs = spark.createDataFrame(
        [(f"D{i}", f"text {i}") for i in (10, 11, 12, 20, 21)],
        "doc_id string, text string",
    )
    ts = build_train_set(mined, docs)
    rows = ts.collect()
    assert {r["label"] for r in rows} == {0, 1}
    assert len(rows) == 4  # 2 queries x (pos + neg)

    tr, te = train_test_split(ts, 0.5, seed=1)
    assert tr.count() + te.count() == 4
    # determinism: same split twice
    tr2, te2 = train_test_split(ts, 0.5, seed=1)
    assert sorted(map(tuple, tr.collect())) == sorted(map(tuple, tr2.collect()))


def test_stratified_sample_quotas(spark):
    """Per-group quotas + determinism under repartitioning (training-mix
    constructor, q51)."""
    from pyspark.sql import functions as F

    from dense_retriever_spark.operators.negatives import stratified_sample

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("grp"),
        (F.pmod(F.col("id") * 7, F.lit(50)) + 1).alias("wt"),
    )
    out = stratified_sample(
        df, "grp", 10, "wt", seed=3, key_cols=["doc_id"], quotas={"b": 25}
    )
    counts = {
        r["grp"]: r["n"]
        for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 10, "b": 25, "c": 10}
    # a group smaller than its quota returns all its rows
    tiny = stratified_sample(
        df.filter(F.col("doc_id") < 4), "grp", 10, "wt", key_cols=["doc_id"]
    )
    assert tiny.count() == 4
    # pure function of the data: stable under repartitioning
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13), "grp", 10, "wt", seed=3,
            key_cols=["doc_id"], quotas={"b": 25},
        ).collect()
    )
    assert a == b
