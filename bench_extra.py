"""Targeted benchmark harness (round 8) — bench.py stays FROZEN for the
driver; this file isolates individual queries so a change can be measured
without paying the full suite. Prints one JSON line.

Usage:  python bench_extra.py <metric> [repeats]

Metrics:
  multifield  — 20-query search_fields over the bench index (2 legs, same dir)
  bigbatch    — 5k-query distributed-plane search, per-run seconds
  search      — 100-query broadcast search, cold + warm
  mlt         — 100-seed more_like_this
  prefix      — 100-query prefix search
  boolean     — 100-query boolean search
  merge       — self-merge of the bench index (2x), with build-phase split
  build       — full index build with phase split
  build_pos   — positional build (1/4 corpus) with phase split
  refresh     — one stream-refresh window
  dedup       — minhash LSH + jaccard verify on the sf documents table
  compact     — compact a 5% kill slice of the refresh index

Setup (corpus staging, initial index build) is UNTIMED and identical to
bench.py's construction so numbers are comparable per query.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    metric = sys.argv[1]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from dense_retriever_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench-extra-{metric}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    from pyspark.sql import functions as F

    from dense_retriever_spark.corpus import synth_corpus, synth_queries
    from dense_retriever_spark.index.build import (
        assign_doc_ids_scalable,
        build_index,
    )
    from dense_retriever_spark.index.search import search

    n_docs_table = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_corpus = max(2000, n_docs_table * 64)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    stage_root = tempfile.mkdtemp(prefix="benchx_corpus_", dir=shm)
    out: dict = {"metric": metric, "sf_dir": sf_dir, "cpus": cpus}
    runs: list[float] = []

    def timed(fn):
        for _ in range(repeats):
            t0 = time.time()
            fn()
            runs.append(round(time.time() - t0, 3))
        out["runs"] = runs
        out["median"] = sorted(runs)[len(runs) // 2]

    needs_index = metric in (
        "multifield", "bigbatch", "search", "mlt", "prefix", "boolean",
        "merge",
    )
    needs_corpus = needs_index or metric in (
        "build", "build_pos", "refresh", "compact",
    )
    idx_dir = None
    dps = max(1024, n_corpus // (2 * cpus))
    if needs_corpus:
        synth_corpus(spark, n_corpus).write.mode("overwrite").parquet(
            stage_root + "/corpus"
        )
    if needs_index:
        raw = spark.read.parquet(stage_root + "/corpus")
        corpus = assign_doc_ids_scalable(raw)
        idx_dir = tempfile.mkdtemp(prefix="benchx_idx_", dir=shm) + "/index"
        build_index(corpus, idx_dir, docs_per_shard=dps, term_buckets=4)

    if metric == "multifield":
        from dense_retriever_spark.index.fields import search_fields

        mf_q = synth_queries(spark, 100).cache()
        mf_q.count()
        mf_q = mf_q.limit(20)
        timed(lambda: search_fields(
            spark, [("a", idx_dir, 1.0), ("b", idx_dir, 0.5)], mf_q, k=10
        ).count())
        out["p50_ms_per_query"] = round(out["median"] / 20 * 1000, 2)
    elif metric == "bigbatch":
        big_q = synth_queries(spark, 5000).cache()
        big_q.count()
        timed(lambda: search(
            spark, idx_dir, big_q, k=10,
            query_mode="distributed",
        ).count())
        out["queries_per_sec"] = round(5000 / out["median"], 1)
    elif metric == "search":
        queries = synth_queries(spark, 100).cache()
        queries.count()

        timed(lambda: search(spark, idx_dir, queries, k=10).count())
        t0 = time.time()
        search(spark, idx_dir, queries, k=10).count()
        out["warm_seconds"] = round(time.time() - t0, 3)
        out["p50_ms_per_query"] = round(out["median"] / 100 * 1000, 2)
    elif metric == "mlt":
        from dense_retriever_spark.index.mlt import more_like_this

        seeds = spark.range(100).selectExpr(
            "id as query_id", f"id * {max(n_corpus // 100, 1)} as doc_id"
        )
        timed(lambda: more_like_this(
            spark, idx_dir, seeds, k=10, max_terms=10
        ).count())
        out["p50_ms_per_query"] = round(out["median"] / 100 * 1000, 2)
    elif metric == "prefix":
        from dense_retriever_spark.index.prefix import search_prefix

        queries = synth_queries(spark, 100).cache()
        queries.count()
        pfx_q = queries.selectExpr(
            "query_id",
            "concat(substring(split(query, ' ')[0], 1, 4), '*',"
            " case when size(split(query, ' ')) > 1"
            "      then concat(' ', split(query, ' ')[1]) else '' end)"
            " as query",
        )
        timed(lambda: search_prefix(spark, idx_dir, pfx_q, k=10).count())
        out["p50_ms_per_query"] = round(out["median"] / 100 * 1000, 2)
    elif metric == "boolean":
        from dense_retriever_spark.index.boolean import search_boolean

        queries = synth_queries(spark, 100).cache()
        queries.count()
        bool_q = queries.selectExpr(
            "query_id",
            "concat('+', split(query, ' ')[0],"
            " case when size(split(query, ' ')) > 1"
            "      then concat(' ', split(query, ' ')[1]) else '' end,"
            " case when size(split(query, ' ')) > 2"
            "      then concat(' -', split(query, ' ')[2]) else '' end)"
            " as query",
        )
        timed(lambda: search_boolean(spark, idx_dir, bool_q, k=10).count())
        out["p50_ms_per_query"] = round(out["median"] / 100 * 1000, 2)
    elif metric == "merge":
        from dense_retriever_spark.index.merge import merge_indexes

        phase_runs = []

        def one():
            mrg = os.path.dirname(idx_dir) + "/index_merged2x"
            shutil.rmtree(mrg, ignore_errors=True)
            t: dict = {}
            merge_indexes(
                spark, [idx_dir, idx_dir], mrg, build_tag="benchx_merge",
                timings=t,
            )
            phase_runs.append(t)
            shutil.rmtree(mrg, ignore_errors=True)

        timed(one)
        out["build_phase_seconds"] = phase_runs
        out["files_per_sec"] = round((2 * n_corpus) / out["median"], 1)
    elif metric in ("build", "build_pos"):
        pos = metric == "build_pos"
        n_b = max(2000, n_corpus // 4) if pos else n_corpus
        phase_runs = []

        def one():
            d = tempfile.mkdtemp(prefix="benchx_b_", dir=shm) + "/index"
            a = assign_doc_ids_scalable(
                spark.read.parquet(stage_root + "/corpus")
            )
            c = a.filter(F.col("doc_id") < n_b) if pos else a
            t: dict = {}
            build_index(
                c, d, docs_per_shard=max(1024, n_b // (2 * cpus)),
                term_buckets=4, positions=pos, timings=t,
            )
            getattr(a, "_persisted_src", a).unpersist()
            phase_runs.append(t)
            shutil.rmtree(os.path.dirname(d), ignore_errors=True)

        timed(one)
        out["build_phase_seconds"] = phase_runs
        out["files_per_sec"] = round(n_b / out["median"], 1)
    elif metric == "refresh":
        from dense_retriever_spark.pipeline import refresh_rounds
        from dense_retriever_spark.streaming.refresh import (
            ack_corpus_batch,
            drain_corpus_stream,
        )

        rq = synth_queries(spark, 20).selectExpr(
            "query_id as qid", "query as text"
        )
        rqrels = rq.select("qid", (F.col("qid") * 7 % 1000).alias("doc_id"))

        def one():
            wd = tempfile.mkdtemp(prefix="benchx_refresh_", dir=shm)
            refresh_rounds(
                spark, [spark.read.parquet(stage_root + "/corpus")], rq,
                rqrels, wd, k=10, docs_per_shard=dps, dedup_exact=True,
            )
            arrivals = wd + "/arrivals"
            synth_corpus(spark, 10_000, seed=99).write.parquet(arrivals)
            t0 = time.time()
            b = drain_corpus_stream(
                spark, arrivals, wd + "/staging", wd + "/ckpt"
            )
            refresh_rounds(
                spark, [b], rq, rqrels, wd, k=10, docs_per_shard=dps,
                dedup_exact=True, start_round=1,
            )
            ack_corpus_batch(spark, wd + "/staging", b)
            runs.append(round(time.time() - t0, 3))
            shutil.rmtree(wd, ignore_errors=True)

        for _ in range(repeats):
            one()
        out["runs"] = runs
        out["median"] = sorted(runs)[len(runs) // 2]
        out["docs_per_sec"] = round(10_000 / out["median"], 1)
    elif metric == "compact":
        from dense_retriever_spark.index.build import compact_index
        from dense_retriever_spark.index.search import load_stats
        from dense_retriever_spark.pipeline import refresh_rounds

        rq = synth_queries(spark, 20).selectExpr(
            "query_id as qid", "query as text"
        )
        rqrels = rq.select("qid", (F.col("qid") * 7 % 1000).alias("doc_id"))
        phase_runs = []

        def one():
            wd = tempfile.mkdtemp(prefix="benchx_comp_", dir=shm)
            refresh_rounds(
                spark, [spark.read.parquet(stage_root + "/corpus")], rq,
                rqrels, wd, k=10, docs_per_shard=dps, dedup_exact=True,
            )
            n_idx = int(load_stats(wd + "/index")["n_docs"])
            ckill = spark.range(0, int(n_idx * 0.05)).select(
                F.col("id").alias("doc_id")
            )
            t0 = time.time()
            compact_index(spark, wd + "/index", ckill)
            runs.append(round(time.time() - t0, 3))
            phase_runs.append(
                load_stats(wd + "/index")["metrics"]["phase_seconds"]
            )
            shutil.rmtree(wd, ignore_errors=True)

        for _ in range(repeats):
            one()
        out["runs"] = runs
        out["median"] = sorted(runs)[len(runs) // 2]
        out["build_phase_seconds"] = phase_runs
    elif metric == "dedup":
        from dense_retriever_spark.operators.dedup import (
            jaccard_verify,
            minhash_lsh_pairs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        timed(lambda: jaccard_verify(
            minhash_lsh_pairs(docs, n_hashes=16, bands=4), docs,
            threshold=0.5,
        ).count())
    else:
        raise SystemExit(f"unknown metric {metric}")

    print(json.dumps(out))
    if idx_dir:
        shutil.rmtree(os.path.dirname(idx_dir), ignore_errors=True)
    shutil.rmtree(stage_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
