"""Multi-field weighted search (index/fields.py) and the score_matches
primitive under it (index/search.py).

Reference parity target: the reference scores one text per doc
(/root/reference/dense_retriever/transforms/text_transforms.py); the
multi-field surface is beyond-reference (Lucene MultiFieldQueryParser /
BM25F-style weighted per-field combination). Invariants tested:

* score_matches == search without truncation, on both query planes;
* search_fields(sum) == the hand-computed weighted outer-join sum of
  per-field full scores (nothing lost where fields disagree);
* combine='max' is dismax;
* weights matter (a doc ranked by title boost outranks body-only hits);
* tombstones mask every field leg;
* both query planes are bit-identical.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dense_retriever_spark.index.build import build_index
from dense_retriever_spark.index.fields import derive_field, search_fields
from dense_retriever_spark.index.search import score_matches, search


def _as_input(d):
    return d.select(
        "doc_id",
        F.lit("docs").alias("repo"),
        F.concat(F.lit("p"), F.col("doc_id")).alias("path"),
        F.concat(F.lit("c"), F.col("doc_id")).alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


ROWS = [
    # title (first 3 tokens) | body — crafted so field weighting flips ranks:
    # doc 0 has "alpha" only in the title, doc 1 only (twice) in the body.
    (0, "alpha beta gamma delta epsilon zeta eta theta"),
    (1, "beta gamma delta alpha alpha epsilon zeta eta"),
    (2, "gamma delta epsilon zeta beta eta theta iota"),
    (3, "alpha gamma beta zeta delta eta iota kappa"),
    (4, "delta epsilon zeta eta theta iota kappa beta"),
    (5, "epsilon zeta eta alpha theta iota kappa gamma"),
]
N_HEAD = 3


@pytest.fixture(scope="module")
def field_indexes(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fields"))
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    title = derive_field(docs, "text", N_HEAD, head=True)
    body = derive_field(docs, "text", N_HEAD, head=False)
    build_index(_as_input(title), root + "/title", docs_per_shard=4)
    build_index(_as_input(body), root + "/body", docs_per_shard=4)
    return root + "/title", root + "/body"


@pytest.fixture(scope="module")
def qs(spark):
    return spark.createDataFrame(
        [(0, "alpha"), (1, "beta gamma"), (2, "nosuchterm"), (3, "theta kappa")],
        "query_id long, query string",
    )


def _pdf(df, cols):
    return (
        df.toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


def test_score_matches_is_untruncated_search(spark, field_indexes, qs):
    title, _ = field_indexes
    got = _pdf(score_matches(spark, title, qs), ["query_id", "doc_id"])
    full = search(spark, title, qs, k=10_000)
    exp = _pdf(
        full.select("query_id", "doc_id", "score"), ["query_id", "doc_id"]
    )
    assert list(got.columns) == ["query_id", "doc_id", "score"]
    pd.testing.assert_frame_equal(got, exp)


def test_score_matches_planes_identical(spark, field_indexes, qs):
    title, _ = field_indexes
    a = _pdf(score_matches(spark, title, qs), ["query_id", "doc_id"])
    b = _pdf(
        score_matches(spark, title, qs, query_mode="distributed"),
        ["query_id", "doc_id"],
    )
    pd.testing.assert_frame_equal(a, b)


def _manual_sum(spark, field_indexes, qs, w_t, w_b):
    title, body = field_indexes
    mt = score_matches(spark, title, qs).toPandas()
    mb = score_matches(spark, body, qs).toPandas()
    m = mt.merge(
        mb, on=["query_id", "doc_id"], how="outer", suffixes=("_t", "_b")
    ).fillna(0.0)
    m["score"] = m["score_t"] * w_t + m["score_b"] * w_b
    return m


def test_search_fields_sum_is_exact_weighted_union(spark, field_indexes, qs):
    title, body = field_indexes
    w_t, w_b = 2.5, 1.0
    m = _manual_sum(spark, field_indexes, qs, w_t, w_b)
    exp = (
        m.sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True]
        )
        .groupby("query_id")
        .head(3)
        .reset_index(drop=True)
    )
    got = search_fields(
        spark, [("title", title, w_t), ("body", body, w_b)], qs, k=3
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (got["doc_id"].values == exp["doc_id"].values).all()
    assert abs(got["score"].values - exp["score"].values).max() < 1e-12
    # the OOV query returns nothing, the others return rows
    assert set(got["query_id"]) == {0, 1, 3}


def test_search_fields_max_is_dismax(spark, field_indexes, qs):
    title, body = field_indexes
    w_t, w_b = 2.0, 1.0
    m = _manual_sum(spark, field_indexes, qs, w_t, w_b)
    m["smax"] = m[["score_t", "score_b"]].mul([w_t, w_b]).max(axis=1)
    exp = (
        m.sort_values(
            ["query_id", "smax", "doc_id"], ascending=[True, False, True]
        )
        .groupby("query_id")
        .head(3)
        .reset_index(drop=True)
    )
    got = search_fields(
        spark, [("title", title, w_t), ("body", body, w_b)], qs,
        k=3, combine="max",
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (got["doc_id"].values == exp["doc_id"].values).all()
    assert abs(got["score"].values - exp["smax"].values).max() < 1e-12


def test_title_boost_flips_rank(spark, field_indexes, qs):
    """doc 0 carries 'alpha' in the title (tf=1), doc 1 in the body (tf=2):
    body-weighted search prefers doc 1, a strong title boost prefers doc 0."""
    title, body = field_indexes
    q = qs.filter(F.col("query_id") == 0)
    flat = search_fields(
        spark, [("title", title, 1.0), ("body", body, 1.0)], q, k=6
    ).toPandas().set_index("doc_id")["rank"]
    boosted = search_fields(
        spark, [("title", title, 10.0), ("body", body, 1.0)], q, k=6
    ).toPandas().set_index("doc_id")["rank"]
    assert boosted[0] < boosted[1]
    assert flat[1] < flat[0] or flat[0] < flat[1]  # total order either way
    assert boosted[0] == 1


def test_search_fields_planes_identical(spark, field_indexes, qs):
    title, body = field_indexes
    legs = [("title", title, 2.0), ("body", body, 1.0)]
    a = search_fields(spark, legs, qs, k=5).toPandas()
    b = search_fields(
        spark, legs, qs, k=5, query_mode="distributed"
    ).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_search_fields_masks_every_leg(spark, field_indexes, qs):
    title, body = field_indexes
    legs = [("title", title, 2.0), ("body", body, 1.0)]
    kill = spark.createDataFrame([(1,), (3,)], "doc_id long")
    got = search_fields(
        spark, legs, qs, k=6, exclude_doc_ids=kill
    ).toPandas()
    assert not set(got["doc_id"]) & {1, 3}
    # and the survivors' scores are unchanged (masking, not rescoring)
    base = search_fields(spark, legs, qs, k=6).toPandas()
    merged = got.merge(base, on=["query_id", "doc_id"], suffixes=("_m", "_b"))
    assert abs(merged["score_m"] - merged["score_b"]).max() == 0.0


def test_search_fields_validates_args(spark, field_indexes, qs):
    title, body = field_indexes
    with pytest.raises(ValueError, match="combine"):
        search_fields(
            spark, [("t", title, 1.0)], qs, combine="mean"
        )
    with pytest.raises(ValueError, match="duplicate"):
        search_fields(
            spark, [("t", title, 1.0), ("t", body, 1.0)], qs
        )


def test_derive_field_splits_tokens(spark):
    docs = spark.createDataFrame(
        [(0, "Alpha, beta; GAMMA delta")], "doc_id long, text string"
    )
    t = derive_field(docs, "text", 2, head=True).select("text").first()[0]
    b = derive_field(docs, "text", 2, head=False).select("text").first()[0]
    assert t == "alpha beta"
    assert b == "gamma delta"
    # short doc: empty tail, not an error
    short = spark.createDataFrame([(0, "one two")], "doc_id long, text string")
    b2 = derive_field(short, "text", 2, head=False).select("text").first()[0]
    assert b2 == ""


# --- graded ranking metrics (operators/rank_metrics.ndcg_recall) -----------


def test_ndcg_recall_hand_computed(spark):
    """3-doc ranked list, graded qrels, k=3 — checked against a by-hand
    nDCG/recall computation."""
    import math

    from dense_retriever_spark.operators.rank_metrics import ndcg_recall

    # query 0: retrieved [10, 11, 12]; rels: 10->3, 12->1, 13->2 (13 missed)
    res = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
        "query_id long, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(0, 10, 3), (0, 12, 1), (0, 13, 2), (1, 99, 1)],
        "query_id long, doc_id long, rel int",
    )
    got = {
        r["query_id"]: (r["ndcg"], r["recall"])
        for r in ndcg_recall(res, qrels, k=3).collect()
    }
    dcg = (2**3 - 1) / math.log2(2) + (2**1 - 1) / math.log2(4)
    idcg = (
        (2**3 - 1) / math.log2(2)
        + (2**2 - 1) / math.log2(3)
        + (2**1 - 1) / math.log2(4)
    )
    assert abs(got[0][0] - dcg / idcg) < 1e-12
    assert abs(got[0][1] - 2 / 3) < 1e-12
    # query 1 retrieved nothing relevant: metrics 0.0, query still present
    assert got[1] == (0.0, 0.0)


def test_ndcg_recall_perfect_ranking_is_one(spark):
    from dense_retriever_spark.operators.rank_metrics import ndcg_recall

    res = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2)], "query_id long, doc_id long, rank int"
    )
    qrels = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 1)], "query_id long, doc_id long, rel int"
    )
    r = ndcg_recall(res, qrels, k=2).collect()[0]
    assert abs(r["ndcg"] - 1.0) < 1e-12 and r["recall"] == 1.0


def test_search_fields_include_mask_fused(spark, field_indexes, qs):
    """Allowed-set masking through the FUSED shard-local plan (round 8):
    only allowed docs surface, scores of survivors are unchanged."""
    title, body = field_indexes
    legs = [("title", title, 2.0), ("body", body, 1.0)]
    allowed = spark.createDataFrame([(0,), (2,), (4,)], "doc_id long")
    got = search_fields(
        spark, legs, qs, k=6, include_doc_ids=allowed
    ).toPandas()
    assert set(got["doc_id"]) <= {0, 2, 4}
    base = search_fields(spark, legs, qs, k=6).toPandas()
    merged = got.merge(base, on=["query_id", "doc_id"], suffixes=("_m", "_b"))
    assert abs(merged["score_m"] - merged["score_b"]).max() == 0.0


def test_search_fields_same_dir_twice_fused(spark, field_indexes, qs):
    """Two field legs over the SAME physical index (the bench shape): the
    fused plan scans it once and must equal the naive weighted sum."""
    title, _ = field_indexes
    legs = [("a", title, 1.0), ("b", title, 0.5)]
    got = search_fields(spark, legs, qs, k=5).toPandas()
    single = search(spark, title, qs, k=5).toPandas()
    m = got.merge(single, on=["query_id", "doc_id"], suffixes=("_f", "_s"))
    assert len(m) == len(got) == len(single)
    assert abs(m["score_f"] - (m["score_s"] * 1.0 + m["score_s"] * 0.5)).max() < 1e-12
