"""Index build: structure, fingerprints, resumability (SURVEY.md §5.3-5.4)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dense_retriever_spark.index.build import IndexPaths, build_index, _read_manifest
from dense_retriever_spark.index.codec import decode_postings


@pytest.fixture(scope="module")
def built(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "index")
    paths = build_index(tiny_corpus, d, docs_per_shard=64, term_buckets=4)
    return paths


def _index_content(spark, paths: IndexPaths):
    rows = (
        spark.read.parquet(paths.shards)
        .select("shard", "term", "df", "cf", "postings")
        .collect()
    )
    return sorted((r["shard"], r["term"], r["df"], r["cf"], bytes(r["postings"]))
                  for r in rows)


def test_structure_and_stats(spark, built):
    stats = json.load(open(built.stats))
    assert stats["n_docs"] == 200
    assert stats["n_shards"] == 4  # 200 docs / 64 per shard
    shards = spark.read.parquet(built.shards)
    assert shards.filter(F.col("df") <= 0).count() == 0
    # postings round-trip: df equals decoded length for every row
    for r in shards.limit(50).collect():
        ids, tfs, dls = decode_postings(bytes(r["postings"]))
        assert ids.size == r["df"]
        assert (tfs >= 1).all()


def test_global_merge_consistency(spark, built, tiny_corpus):
    """Global df per term == exact count from the corpus (merge is lossless)."""
    from dense_retriever_spark.operators.bm25 import doc_term_freqs, tokenize_corpus

    expected = (
        doc_term_freqs(tokenize_corpus(tiny_corpus))
        .groupBy("term")
        .agg(F.count("*").alias("edf"))
    )
    stats = json.loads(open(built.stats).read())
    got = spark.read.parquet(built.dictionary(stats)).select(
        "term", F.col("df").alias("gdf")
    )
    diff = got.join(expected, "term", "full").filter(
        F.col("gdf").isNull() | F.col("edf").isNull() | (F.col("gdf") != F.col("edf"))
    )
    assert diff.count() == 0
    # shard-level dfs sum to global df
    shard_sum = (
        spark.read.parquet(built.shards).groupBy("term").agg(F.sum("df").alias("s"))
    )
    bad = got.join(shard_sum, "term").filter(F.col("gdf") != F.col("s"))
    assert bad.count() == 0


def test_manifest_fingerprint_invariant(spark, built):
    """Per-row invariant: manifest fingerprint == recomputed sha256 over the
    (doc_id, content_sha) of the docs table (BASELINE.json:input_hint)."""
    from dense_retriever_spark.index.build import _fingerprint_df

    manifest = _read_manifest(built)
    assert len(manifest) == 4
    recomputed = {
        r["shard"]: r["fp"]
        for r in _fingerprint_df(
            spark.read.parquet(built.docs).withColumn(
                "shard", F.col("shard").cast("long")
            )
        ).collect()
    }
    for sid, row in manifest.items():
        assert row["status"] == "complete"
        assert row["input_fingerprint"] == recomputed[sid]
        assert row["row_count"] > 0 and row["bytes"] > 0


def test_resume_rebuilds_only_missing_shards(spark, tiny_corpus, built, tmp_path):
    # clone the built index, damage shards 1 and 2, resume, compare content
    clone = str(tmp_path / "index_clone")
    shutil.copytree(built.root, clone)
    cp = IndexPaths(clone)
    for sid in (1, 2):
        shutil.rmtree(os.path.join(cp.shards, f"shard={sid}"))
        shutil.rmtree(os.path.join(cp.manifest, f"shard_id={sid}"))
    untouched = os.path.join(cp.shards, "shard=0")
    mtime_before = max(
        os.path.getmtime(os.path.join(untouched, f)) for f in os.listdir(untouched)
    )
    build_index(tiny_corpus, clone, docs_per_shard=64, term_buckets=4)
    mtime_after = max(
        os.path.getmtime(os.path.join(untouched, f)) for f in os.listdir(untouched)
    )
    assert mtime_before == mtime_after, "completed shard was rebuilt"
    assert _index_content(spark, cp) == _index_content(spark, built)
    assert len(_read_manifest(cp)) == 4


def test_resume_rebuilds_stale_shards_on_input_change(spark, built, tmp_path):
    """If the corpus changed between runs, shards whose stored fingerprint no
    longer matches are REBUILT, not silently merged (resume trusts the
    fingerprint, not just status=complete)."""
    from dense_retriever_spark.corpus import ingest, synth_corpus

    clone = str(tmp_path / "index_stale")
    shutil.copytree(built.root, clone)
    cp = IndexPaths(clone)
    # a different corpus (different seed) → every shard's fingerprint changes
    changed = ingest(synth_corpus(spark, 200, seed=99))
    build_index(changed, clone, docs_per_shard=64, term_buckets=4)
    assert _index_content(spark, cp) != _index_content(spark, built)
    # and the rebuilt index must be self-consistent with ITS docs table
    manifest = _read_manifest(cp)
    from dense_retriever_spark.index.build import _fingerprint_df

    recomputed = {
        r["shard"]: r["fp"]
        for r in _fingerprint_df(
            spark.read.parquet(cp.docs).withColumn("shard", F.col("shard").cast("long"))
        ).collect()
    }
    assert all(
        row["input_fingerprint"] == recomputed[sid] for sid, row in manifest.items()
    )


def test_content_source_build_is_identical(spark, tiny_corpus, built, tmp_path):
    """The metadata-only docs table + content-by-natural-key join (the 100 TB
    storage knob) produces a byte-identical index to the default carry-content
    staging."""
    from dense_retriever_spark.corpus import synth_corpus

    src_dir = str(tmp_path / "immutable_src")
    synth_corpus(spark, 200).write.parquet(src_dir)
    d = str(tmp_path / "idx_cs")
    build_index(
        tiny_corpus, d, docs_per_shard=64, term_buckets=4,
        content_source=spark.read.parquet(src_dir),
    )
    cp = IndexPaths(d)
    assert _index_content(spark, cp) == _index_content(spark, built)
    assert "content" not in spark.read.parquet(cp.docs).columns


def test_resume_state_is_not_driver_resident(spark, tiny_corpus, tmp_path, monkeypatch):
    """The build may collect only O(n_batches) rows — never one row per shard.
    200 docs / 8 per shard = 25 shards, batch 5 → 5 batches; allow the small
    fixed driver collects (doc-id offsets ~4 pids, batch summary ≤ 6 rows)."""
    # Spark 4: pyspark.sql.DataFrame is a facade — patch the classic impl
    from pyspark.sql.classic.dataframe import DataFrame as SDF

    collected_sizes = []
    orig = SDF.collect

    def counting_collect(self):
        out = orig(self)
        collected_sizes.append(len(out))
        return out

    monkeypatch.setattr(SDF, "collect", counting_collect)
    d = str(tmp_path / "idx_driver")
    build_index(tiny_corpus, d, docs_per_shard=8, term_buckets=4, shard_batch=5)
    n_shards = 25
    assert max(collected_sizes) < n_shards / 2, collected_sizes


def test_compact_index_equals_fresh_build(spark, tiny_corpus, tiny_queries, tmp_path):
    """compact(index, kill) ≡ build_index(filtered corpus): only the touched
    shards are rebuilt (manifest build_tag proves it), killed ids never
    surface, and search results match a from-scratch index over the
    survivors bit-for-bit (same recomputed N/df/avgdl)."""
    from dense_retriever_spark.index.build import compact_index
    from dense_retriever_spark.index.search import search

    d = str(tmp_path / "cidx")
    build_index(tiny_corpus, d, docs_per_shard=32, term_buckets=2,
                build_tag="orig")
    kill = tiny_corpus.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    killed = {r["doc_id"] for r in kill.collect()}
    touched_shards = {i // 32 for i in killed}

    compact_index(spark, d, kill)

    man = _read_manifest(IndexPaths(d), spark)
    rebuilt = {s for s, row in man.items() if row["build_tag"] == "compact"}
    untouched = {s for s, row in man.items() if row["build_tag"] == "orig"}
    assert rebuilt == touched_shards  # exactly the shards with killed docs
    assert untouched and rebuilt.isdisjoint(untouched)

    fresh = str(tmp_path / "fidx")
    survivors = tiny_corpus.filter(~F.col("doc_id").isin(list(killed)))
    build_index(survivors, fresh, docs_per_shard=32, term_buckets=2)

    got = search(spark, d, tiny_queries, k=10).collect()
    want = search(spark, fresh, tiny_queries, k=10).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(((r["query_id"], r["doc_id"], r["score"], r["rank"])
                   for r in got)) == sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in want)
    assert not ({r["doc_id"] for r in got} & killed)

    # BM25 stats recomputed over the survivors
    stats = json.load(open(IndexPaths(d).stats))
    assert stats["n_docs"] == 200 - len(killed)


def test_compact_removes_fully_killed_shard(spark, tiny_corpus, tmp_path):
    """Killing every doc of a shard leaves an ORPHAN the manifest⟂fingerprint
    sweep must delete — ghost postings in shards/ or global/ would otherwise
    serve doc ids absent from the docs table (round-2 ADVICE)."""
    from dense_retriever_spark.index.build import compact_index

    d = str(tmp_path / "oidx")
    build_index(tiny_corpus, d, docs_per_shard=32, term_buckets=2)
    # shard 2 = doc ids [64, 96)
    kill = tiny_corpus.filter(
        (F.col("doc_id") >= 64) & (F.col("doc_id") < 96)
    ).select("doc_id")
    compact_index(spark, d, kill)

    assert not os.path.isdir(os.path.join(d, "shards", "shard=2"))
    assert 2 not in _read_manifest(IndexPaths(d), spark)
    shards = spark.read.parquet(IndexPaths(d).shards)
    assert shards.filter(F.col("shard") == 2).count() == 0
    # global/ is exactly the (term, df, cf) dictionary of the survivors
    from dense_retriever_spark.operators.bm25 import (
        doc_term_freqs,
        tokenize_corpus,
    )

    survivors = tiny_corpus.filter(
        (F.col("doc_id") < 64) | (F.col("doc_id") >= 96)
    )
    want = {
        r["term"]: (r["df"], r["cf"])
        for r in doc_term_freqs(tokenize_corpus(survivors))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .collect()
    }
    from dense_retriever_spark.index.search import load_stats

    g = spark.read.parquet(IndexPaths(d).dictionary(load_stats(d)))
    assert g.columns == ["term", "df", "cf"]
    got = {r["term"]: (r["df"], r["cf"]) for r in g.collect()}
    assert got == want


def test_format_version_and_dps_fail_fast(spark, tiny_corpus, tmp_path):
    """An index stamped with an older format (v1 u32 headers, v2 block-max
    columns and a postings-bearing global/, v3 a global/ rewritten in place
    or split into gen=<id>/ segments), or resumed with a different
    docs_per_shard, must be REFUSED loudly — not silently misread (round-2
    ADVICE). Every entry point checks: load_stats/search, a resumed
    build_index, and merge_indexes."""
    from dense_retriever_spark.index.codec import FORMAT_VERSION
    from dense_retriever_spark.index.merge import merge_indexes
    from dense_retriever_spark.index.search import load_stats, search

    assert FORMAT_VERSION == 4

    d = str(tmp_path / "vidx")
    build_index(tiny_corpus, d, docs_per_shard=64, term_buckets=2)
    stats_path = IndexPaths(d).stats

    with pytest.raises(ValueError, match="docs_per_shard"):
        build_index(tiny_corpus, d, docs_per_shard=32, term_buckets=2)

    ok = str(tmp_path / "vidx_ok")
    build_index(tiny_corpus, ok, docs_per_shard=64, term_buckets=2)
    q = spark.createDataFrame([(0, "def")], "query_id long, query string")
    s = json.load(open(stats_path))
    for old in (1, 2, 3):
        s["format_version"] = old
        json.dump(s, open(stats_path, "w"))
        with pytest.raises(ValueError, match="format"):
            load_stats(d)
        with pytest.raises(ValueError, match="format"):
            build_index(tiny_corpus, d, docs_per_shard=64, term_buckets=2)
        with pytest.raises(ValueError, match="format"):
            search(spark, d, q, k=5)
        with pytest.raises(ValueError, match="format"):
            merge_indexes(spark, [ok, d], str(tmp_path / f"vmerged{old}"))


def test_index_on_scheme_qualified_uri(spark, tiny_corpus, tiny_queries, tmp_path):
    """S13: the whole index lifecycle (build → search → compact) works with a
    scheme-qualified index_dir — driver-side metadata I/O goes through the
    Hadoop FileSystem API (index/fs.py), so s3a://canonically works the same
    way; file:// is the scheme the sandbox can serve."""
    from dense_retriever_spark.index.build import compact_index
    from dense_retriever_spark.index.search import load_stats, search

    d = "file://" + str(tmp_path / "uidx")
    build_index(tiny_corpus, d, docs_per_shard=64, term_buckets=2)
    stats = load_stats(d)
    assert stats["n_docs"] == 200
    got = search(spark, d, tiny_queries, k=5).collect()
    assert len(got) > 0
    # local-path twin must produce the identical index (same plans, same fs)
    d2 = str(tmp_path / "uidx2")
    build_index(tiny_corpus, d2, docs_per_shard=64, term_buckets=2)
    want = search(spark, d2, tiny_queries, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # compaction through the scheme too (staging lives on the same fs)
    kill = tiny_corpus.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    compact_index(spark, d, kill)
    assert load_stats(d)["n_docs"] == 180
    after = {r["doc_id"] for r in search(spark, d, tiny_queries, k=5).collect()}
    assert not any(i % 10 == 0 for i in after)
    assert not os.path.isdir(str(tmp_path / "uidx" / "_compact_staging"))


def test_reshard_index_bit_identical(spark, tmp_path):
    """Adaptive shard coalescing (north star: 'adaptive coalescing of small
    posting shards'): resharding to a coarser docs_per_shard keeps doc ids
    and returns bit-identical search results; should_reshard fires on a
    sparse index and stays quiet on a healthy one."""
    from dense_retriever_spark.corpus import ingest, synth_corpus, synth_queries
    from dense_retriever_spark.index.build import (
        build_index,
        reshard_index,
        should_reshard,
    )
    from dense_retriever_spark.index.search import load_stats, search

    idx = str(tmp_path / "rs_idx")
    build_index(ingest(synth_corpus(spark, 400, seed=13)), idx,
                docs_per_shard=32, term_buckets=2)
    qs = synth_queries(spark, 8)
    before = sorted(map(tuple, search(spark, idx, qs, k=5).collect()))
    s0 = load_stats(idx)
    assert s0["n_shards"] == 13  # 400/32 rounded up

    reshard_index(spark, idx, docs_per_shard=128)
    s1 = load_stats(idx)
    assert s1["docs_per_shard"] == 128 and s1["n_shards"] == 4
    assert s1["n_docs"] == s0["n_docs"] and s1["avgdl"] == s0["avgdl"]
    after = sorted(map(tuple, search(spark, idx, qs, k=5).collect()))
    assert after == before and len(after) > 0

    # policy: a fleet of tiny shards triggers; a healthy index does not
    sparse = {"n_shards": 1000,
              "metrics": {"posting_bytes": 1000 * (1 << 20)}}  # 1 MB avg
    assert should_reshard(sparse)
    healthy = {"n_shards": 1000,
               "metrics": {"posting_bytes": 1000 * (64 << 20)}}  # 64 MB avg
    assert not should_reshard(healthy)
    small = {"n_shards": 8, "metrics": {"posting_bytes": 8}}
    assert not should_reshard(small)  # too few shards to matter


def test_reshard_crash_recovery_and_policy_gate(spark, tmp_path, capsys):
    """A reshard that crashed between the docs move and the rebuild must be
    resumable (the staged corpus is the only copy — never deleted on
    failure); the CLI --if-needed gate skips healthy indexes; a
    metadata-only index fails cleanly with its docs table restored."""
    import json as _json
    import os

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import ingest, synth_corpus, synth_queries
    from dense_retriever_spark.index import fs
    from dense_retriever_spark.index.build import (
        IndexPaths,
        build_index,
        reshard_index,
    )
    from dense_retriever_spark.index.search import load_stats, search

    idx = str(tmp_path / "rc_idx")
    build_index(ingest(synth_corpus(spark, 200, seed=17)), idx,
                docs_per_shard=32, term_buckets=2)
    qs = synth_queries(spark, 5)
    before = sorted(map(tuple, search(spark, idx, qs, k=5).collect()))
    paths = IndexPaths(idx)

    # simulate the crash window: docs moved aside, rebuild never ran
    fs.rename(paths.docs, os.path.join(idx, "_reshard_staging"), spark)
    assert not fs.exists(paths.docs, spark)
    reshard_index(spark, idx, docs_per_shard=128)  # resumes from staging
    assert load_stats(idx)["docs_per_shard"] == 128
    assert not fs.exists(os.path.join(idx, "_reshard_staging"), spark)
    after = sorted(map(tuple, search(spark, idx, qs, k=5).collect()))
    assert after == before

    # simulate the WORSE crash window (round-5 ADVICE): the rebuild's
    # corpus-sized docs rewrite started but died mid-write — staging AND a
    # partial-looking docs dir are both present. docs existence must NOT be
    # trusted: recovery resumes from staging, or the corpus is silently
    # truncated to the partial table
    fs.rename(paths.docs, os.path.join(idx, "_reshard_staging"), spark)
    partial = spark.read.parquet(
        os.path.join(idx, "_reshard_staging")
    ).limit(10)
    partial.write.parquet(paths.docs)  # 10 of 200 docs: a partial rewrite
    reshard_index(spark, idx, docs_per_shard=64)
    assert not fs.exists(os.path.join(idx, "_reshard_staging"), spark)
    s_rec = load_stats(idx)
    assert s_rec["docs_per_shard"] == 64 and s_rec["n_docs"] == 200
    after2 = sorted(map(tuple, search(spark, idx, qs, k=5).collect()))
    assert after2 == before

    # --if-needed on a healthy (dense-shard) index: policy does not fire
    cli.main(["reshard", "--index-dir", idx, "--docs-per-shard", "256",
              "--if-needed"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"index": idx, "resharded": False, "policy_fired": False}
    assert load_stats(idx)["docs_per_shard"] == 64  # untouched

    # metadata-only index without content_source: clean error, docs intact
    idx2 = str(tmp_path / "rc_meta")
    src = synth_corpus(spark, 100, seed=18)
    src.write.parquet(str(tmp_path / "rc_src"))
    immutable = spark.read.parquet(str(tmp_path / "rc_src"))
    build_index(ingest(immutable), idx2, docs_per_shard=32, term_buckets=2,
                content_source=immutable)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="METADATA-ONLY"):
        reshard_index(spark, idx2, docs_per_shard=64)
    assert fs.exists(IndexPaths(idx2).docs, spark)  # restored, still readable
    assert load_stats(idx2)["docs_per_shard"] == 32
    # with the immutable input passed, the metadata-only reshard succeeds
    reshard_index(spark, idx2, docs_per_shard=64, content_source=immutable)
    assert load_stats(idx2)["docs_per_shard"] == 64
