"""Generations of the global (term, df, cf) dictionary (index/build.py,
phase B): every build aggregates the dictionary into a fresh
``global/gen-<n>/`` directory and commits it by naming it in stats.json.
Readers open exactly the directory their stats.json names and never list
global/, so a build in progress, or one that crashed before its commit,
is invisible to them. The directory the previous stats.json named is kept
for one more build (a reader may still hold that view); everything else
in global/ is swept after the commit.

Reference analog: the reference persists one index artifact per build
(dense_retriever/transforms/ann_index.py:87-98).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from dense_retriever_spark.corpus import ingest, synth_corpus, synth_queries
from dense_retriever_spark.index import fs
from dense_retriever_spark.index.build import IndexPaths, build_index
from dense_retriever_spark.index.search import load_stats, search


def _results(spark, idx, qs, **kw):
    return sorted(map(tuple, search(spark, idx, qs, k=5, **kw).collect()))


def _all_planes(spark, idx, qs, monkeypatch):
    """(driver-local, Spark broadcast, distributed) results."""
    local = _results(spark, idx, qs)
    dist = _results(spark, idx, qs, query_mode="distributed")
    with monkeypatch.context() as m:
        m.setattr(fs, "local_path", lambda *a, **kw: None)
        spark_bc = _results(spark, idx, qs)
    return local, spark_bc, dist


def test_uncommitted_gen_dir_is_invisible_to_readers(
    spark, tmp_path, monkeypatch
):
    """A dictionary directory no stats.json names — what a build that
    crashed before its commit leaves — must be ignored by every plane, even
    when its dfs are wrong, and the next build must sweep it."""
    idx = str(tmp_path / "orphan_idx")
    qs = synth_queries(spark, 8)
    corpus = ingest(synth_corpus(spark, 300, seed=81)).localCheckpoint(
        eager=True
    )
    build_index(corpus, idx, docs_per_shard=32, term_buckets=2)
    stats = load_stats(idx)
    assert stats["dictionary"] == "gen-0"
    want = _results(spark, idx, qs)
    assert want

    # the crash leftovers: the next generation a crashed build would have
    # written, and a stray one, both with every df off by one (any reader
    # that counted them would score differently)
    paths = IndexPaths(idx)
    wrong = spark.read.parquet(paths.dictionary(stats)).withColumn(
        "df", F.col("df") + 1
    )
    for name in ("gen-1", "gen-99"):
        wrong.write.parquet(os.path.join(paths.global_dir, name))
    assert _all_planes(spark, idx, qs, monkeypatch) == (want, want, want)

    # the next (no-change) build overwrites gen-1 with the right dictionary,
    # commits it and sweeps gen-99; gen-0 stays for readers of the old view
    build_index(corpus, idx, docs_per_shard=32, term_buckets=2)
    assert load_stats(idx)["dictionary"] == "gen-1"
    assert sorted(os.listdir(paths.global_dir)) == ["gen-0", "gen-1"]
    assert _all_planes(spark, idx, qs, monkeypatch) == (want, want, want)


def test_concurrent_reader_during_rebuild(spark, tmp_path):
    """A reader thread searching (driver-local and distributed planes)
    WHILE two no-change rebuilds run must see the same results at every
    instant: each rebuild writes its dictionary into a fresh directory and
    only the atomic stats.json replace publishes it, so no read ever finds
    the dictionary half-written or missing."""
    idx = str(tmp_path / "cr_idx")
    corpus = ingest(synth_corpus(spark, 300, seed=95)).localCheckpoint(
        eager=True
    )
    build_index(corpus, idx, docs_per_shard=32, term_buckets=2)
    qs = synth_queries(spark, 6).localCheckpoint(eager=True)
    want = _results(spark, idx, qs)
    assert want

    stop = threading.Event()
    mismatches: list = []
    iters = [0]

    def reader():
        while not stop.is_set():
            for kw in ({}, {"query_mode": "distributed"}):
                try:
                    got = _results(spark, idx, qs, **kw)
                except Exception as e:  # a vanished file mid-scan lands here
                    mismatches.append(repr(e))
                    return
                iters[0] += 1
                if got != want:
                    mismatches.append((kw, got))
                    return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        build_index(corpus, idx, docs_per_shard=32, term_buckets=2)
        build_index(corpus, idx, docs_per_shard=32, term_buckets=2)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not mismatches, f"concurrent reader saw a bad view: {mismatches[:1]}"
    assert iters[0] > 0  # the reader actually overlapped the builds
    # copy-forward: the committed dictionary plus the one before it
    assert load_stats(idx)["dictionary"] == "gen-2"
    assert sorted(os.listdir(IndexPaths(idx).global_dir)) == ["gen-1", "gen-2"]
    assert _results(spark, idx, qs) == want
