"""Cross-index merge (index/merge.py): merging independently built indexes
must be indistinguishable from one fresh build over the concatenated corpus
— identical search results on both query planes, identical global term
statistics — while never decoding a posting blob (the rebase is a byte-level
splice, codec.rebase_postings).

Reference analog: the reference combines corpora by re-adding everything to
a fresh FAISS index (/root/reference/dense_retriever/transforms/ann_index.py:
87-98); the rebuild replaces that with a structural merge.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dense_retriever_spark.corpus import ingest, synth_corpus, synth_queries
from dense_retriever_spark.index.build import (
    IndexPaths,
    _read_manifest,
    build_index,
)
from dense_retriever_spark.index.codec import (
    decode_postings,
    encode_postings,
    rebase_postings,
)
from dense_retriever_spark.index.merge import merge_indexes
from dense_retriever_spark.index.search import load_stats, search

DPS = 32


def test_rebase_postings_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.cumsum(rng.integers(1, 50, size=200)).astype(np.int64)
    tfs = rng.integers(1, 9, size=200).astype(np.int64)
    dls = rng.integers(20, 400, size=200).astype(np.int64)
    blob = encode_postings(ids, tfs, dls)
    for off in (0, 1, 4096, 10**12):
        i2, t2, d2 = decode_postings(rebase_postings(blob, off))
        assert (i2 == ids + off).all()
        assert (t2 == tfs).all() and (d2 == dls).all()
    # empty blob passes through
    empty = encode_postings(
        np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    )
    assert rebase_postings(empty, 100) == empty
    with pytest.raises(ValueError):
        rebase_postings(blob, -(10**15))


def _corpus_halves(spark, n=220, seed=17):
    """One corpus, and the same rows split into two independently ingested
    halves at a shard-aligned boundary — so merged ids == full-build ids."""
    full = ingest(synth_corpus(spark, n, seed=seed)).localCheckpoint(eager=True)
    cut = (n // 2 // DPS) * DPS
    a = full.filter(F.col("doc_id") < cut).localCheckpoint(eager=True)
    b = (
        full.filter(F.col("doc_id") >= cut)
        .withColumn("doc_id", F.col("doc_id") - cut)
        .localCheckpoint(eager=True)
    )
    return full, a, b


def _res(spark, idx, qs, **kw):
    return sorted(map(tuple, search(spark, idx, qs, k=10, **kw).collect()))


def test_merge_equals_fresh_build(spark, tmp_path):
    full, a, b = _corpus_halves(spark)
    qs = synth_queries(spark, 8)
    ia, ib, ifull, im = (str(tmp_path / x) for x in ("a", "b", "full", "m"))
    build_index(a, ia, docs_per_shard=DPS, term_buckets=2)
    build_index(b, ib, docs_per_shard=DPS, term_buckets=2)
    build_index(full, ifull, docs_per_shard=DPS, term_buckets=2)
    merge_indexes(spark, [ia, ib], im)

    sf, sm = load_stats(ifull), load_stats(im)
    assert sm["n_docs"] == sf["n_docs"]
    assert sm["n_shards"] == sf["n_shards"]
    assert sm["avgdl"] == pytest.approx(sf["avgdl"])

    # global/ is the same (term, df, cf) dictionary
    gf = spark.read.parquet(IndexPaths(ifull).dictionary(sf))
    gm = spark.read.parquet(IndexPaths(im).dictionary(sm))
    assert gf.columns == gm.columns == ["term", "df", "cf"]
    rows_f = {r["term"]: (r["df"], r["cf"]) for r in gf.collect()}
    rows_m = {r["term"]: (r["df"], r["cf"]) for r in gm.collect()}
    assert rows_f == rows_m

    # search bit-identity on both query planes
    for mode in ("broadcast", "distributed"):
        assert _res(spark, im, qs, query_mode=mode) == _res(
            spark, ifull, qs, query_mode=mode
        )


def test_merge_validation_errors(spark, tmp_path):
    full, a, b = _corpus_halves(spark, n=140, seed=31)
    ia, ib, im = (str(tmp_path / x) for x in ("a", "b", "m"))
    build_index(a, ia, docs_per_shard=DPS, term_buckets=2)
    build_index(b, ib, docs_per_shard=16, term_buckets=2)  # mismatched dps
    with pytest.raises(ValueError, match="docs_per_shard"):
        merge_indexes(spark, [ia, ib], im)
    with pytest.raises(ValueError, match="at least two"):
        merge_indexes(spark, [ia], im)
    with pytest.raises(ValueError, match="no index at"):
        merge_indexes(spark, [ia, str(tmp_path / "nope")], im)
    # refuse to clobber an existing index
    build_index(b, im + "x", docs_per_shard=DPS, term_buckets=2)
    with pytest.raises(ValueError, match="already holds"):
        merge_indexes(spark, [ia, ib], im + "x")


def test_merge_positional_preserves_phrase_search(spark, tmp_path):
    """Merging positional indexes keeps phrase results identical to a fresh
    positional build — position streams are doc-id-independent (per-doc
    deltas), so the rebase must not touch them."""
    from dense_retriever_spark.index.phrase import search_phrase

    full, a, b = _corpus_halves(spark, n=190, seed=53)
    ia, ib, ifull, im = (str(tmp_path / x) for x in ("a", "b", "full", "m"))
    for src, dst in ((a, ia), (b, ib), (full, ifull)):
        build_index(src, dst, docs_per_shard=DPS, term_buckets=2,
                    positions=True)
    merge_indexes(spark, [ia, ib], im)
    assert load_stats(im)["positions"] is True
    qs = spark.createDataFrame(
        [(0, "table hash"), (1, "merge"), (2, "slow key")],
        "query_id long, query string",
    )
    got_m = sorted(map(tuple, search_phrase(spark, im, qs, k=50).collect()))
    got_f = sorted(map(tuple, search_phrase(spark, ifull, qs, k=50).collect()))
    assert got_m == got_f
    # mixing positional and plain sources is rejected
    plain = str(tmp_path / "plain")
    build_index(a, plain, docs_per_shard=DPS, term_buckets=2)
    with pytest.raises(ValueError, match="positions"):
        merge_indexes(spark, [plain, ib], str(tmp_path / "mx"))


def test_merged_index_is_incrementally_buildable(spark, tmp_path):
    """A merged index is a standard index: appending a new batch to the
    merged docs and re-running build_index rebuilds ONLY the new shards
    (fingerprint resume holds across the merge)."""
    full, a, b = _corpus_halves(spark, n=160, seed=41)
    ia, ib, im = (str(tmp_path / x) for x in ("a", "b", "m"))
    build_index(a, ia, docs_per_shard=DPS, term_buckets=2)
    build_index(b, ib, docs_per_shard=DPS, term_buckets=2)
    merge_indexes(spark, [ia, ib], im, build_tag="merge0")

    st = load_stats(im)
    base = st["n_shards"] * DPS
    extra = (
        ingest(synth_corpus(spark, 40, seed=55))
        .withColumn("doc_id", F.col("doc_id") + F.lit(int(base)))
    )
    merged_docs = spark.read.parquet(IndexPaths(im).docs).drop("shard")
    grown = merged_docs.unionByName(
        extra.select(*merged_docs.columns)
    ).localCheckpoint(eager=True)
    build_index(grown, im, docs_per_shard=DPS, term_buckets=2,
                build_tag="append1")
    man = _read_manifest(IndexPaths(im), spark)
    tags = {r["build_tag"] for sid, r in man.items() if sid * DPS < base}
    assert "append1" not in tags  # old shards untouched
    new_tags = {r["build_tag"] for sid, r in man.items() if sid * DPS >= base}
    assert new_tags == {"append1"}
    # and the grown index still answers searches over both old and new docs
    n = load_stats(im)["n_docs"]
    assert n == 160 + 40
