"""Benchmark harness — one JSON line to stdout.

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]:

  q_index_build    — full inverted-index build over a synthetic code corpus
                     (N scaled to the sf dir's documents table × 4)
  q_build_metaonly — the same build with a METADATA-ONLY docs table (content
                     joined from the immutable input at build time — the
                     100 TB storage knob, build_index(content_source=...))
  q_index_build_positional — the same build with per-term position streams
                     (phrase-capable index; measures the positional overhead)
  q_merge_indexes  — structural cross-index merge (byte-level posting
                     rebase + delegated phase B) of 2× the bench index
  q_phrase_search  — 100 two-token phrases over the positional index
  q_search_indexed — 100-query top-10 via the indexed engine on that
                     index, COLD (term-df cache cleared), median of 3
  q_search_tombstoned — the same 100 queries with a ~14% kill-list applied
                     (masked before shard-local top-k)
  q_search_boolean — the 100 queries as "+req opt -forbidden" boolean
                     grammar (per-shard intersection + exclusion)
  q_search_prefix  — the 100 queries with the first term as a 4-char
                     trailing-* dictionary pattern; ~40% of the patterns
                     legitimately expand to ~400 rare terms (the synthetic
                     vocab's sym#### tail), so this measures wide-
                     disjunction scoring (~15.7k query-term pairs vs ~300
                     for q_search_indexed), not per-query overhead
  q_search_bigbatch_dist — 5k queries on the distributed plane, median of 3
  q_stream_refresh_round — one drain→refresh→ack window: ~10k new docs
                     folded incrementally into the existing corpus index
                     (the steady-state cost of the cron-driven deployment)
  q_compact_genned_range — compact a ~5% kill slice of the refresh index:
                     touched-shard rebuild + (term, df, cf) re-aggregate
                     (the full compaction wave, O(touched), round 7)
  q_stream_refresh_round_merged — the same window in a second workdir
                     (the name predates format v4, which has one global/
                     layout; kept so old artifacts stay comparable)
  q_bm25_exact     — index-free exact BM25 (the oracle path) on documents
  q_dedup_minhash  — MinHash-LSH candidate pairs + Jaccard verify on documents
  q_cosine_topk    — brute-force cosine top-3 on embeddings
  q_term_stats     — tokenize/explode/df-cf aggregation on documents

Also reports files_per_sec for the index build and search p50 latency.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from dense_retriever_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import q01_bm25_topk, q10_term_stats
    from dense_retriever_spark.corpus import synth_corpus, synth_queries
    from dense_retriever_spark.index.build import (
        assign_doc_ids_scalable,
        build_index,
    )
    from dense_retriever_spark.index.search import search
    from dense_retriever_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_pairs,
    )
    from dense_retriever_spark.operators.similarity import cosine_topk_bruteforce

    n_docs_table = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # ×64 the sf dir's documents table: at sf0.1 that's 320k files, enough
    # that the build measures sustained throughput, not fixed per-job driver
    # cost (~0.3-1s/job on this box; a <15s build is overhead-dominated)
    n_corpus = max(2000, n_docs_table * 64)

    timings: dict[str, float] = {}
    extra: dict[str, object] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # corpus for the index path (deterministic synthetic code corpus),
    # MATERIALIZED to parquet before the timed region — the timed build
    # measures ingest+index work, not synthetic-data generation. /dev/shm
    # keeps the staging read off the disk path. Doc-id assignment uses the
    # SCALE path (partition-offset zipWithIndex shape, no global
    # single-partition sort); build_index stages the result to parquet, so
    # the assignment executes exactly once.
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    stage_root = tempfile.mkdtemp(prefix="bench_corpus_", dir=shm)
    synth_corpus(spark, n_corpus).write.mode("overwrite").parquet(stage_root + "/corpus")
    raw = spark.read.parquet(stage_root + "/corpus")
    corpus = assign_doc_ids_scalable(raw)
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_", dir=shm) + "/index"

    dps = max(1024, n_corpus // (2 * cpus))
    # per-phase attribution (round-4 verdict): driver-bench build numbers
    # straddled a measured box-contention band; phase splits let a future
    # regression be attributed to stage_docs / phase A / phase B in one
    # artifact instead of needing a re-run
    build_phases: dict[str, float] = {}
    timed("q_index_build", lambda: build_index(
        corpus, idx_dir, docs_per_shard=dps, term_buckets=4,
        timings=build_phases,
    ))
    extra["files_per_sec"] = round(n_corpus / timings["q_index_build"], 1)
    extra["build_phase_seconds"] = build_phases

    # metadata-only variant: docs table carries NO content; phase A joins the
    # immutable staged input by natural key instead (the 100 TB storage knob)
    idx_meta = os.path.dirname(idx_dir) + "/index_meta"
    corpus_meta = assign_doc_ids_scalable(spark.read.parquet(stage_root + "/corpus"))
    metaonly_phases: dict[str, float] = {}
    timed("q_build_metaonly", lambda: build_index(
        corpus_meta, idx_meta, docs_per_shard=dps, term_buckets=4,
        content_source=spark.read.parquet(stage_root + "/corpus"),
        timings=metaonly_phases,
    ))
    extra["metaonly_phase_seconds"] = metaonly_phases
    extra["files_per_sec_metaonly"] = round(
        n_corpus / timings["q_build_metaonly"], 1
    )

    # positional (phrase-capable) build: measures the position-stream
    # overhead as a files/sec RATE (the phrase metric below searches this
    # index). A quarter of the corpus keeps the suite's wall clock bounded
    # while staying sustained-throughput scale; the rate is comparable to
    # files_per_sec directly and the corpus size lands in the artifact.
    n_pos = max(2000, n_corpus // 4)
    idx_pos = os.path.dirname(idx_dir) + "/index_pos"
    assigned_pos = assign_doc_ids_scalable(
        spark.read.parquet(stage_root + "/corpus")
    )
    corpus_pos = assigned_pos.filter(F.col("doc_id") < n_pos)
    pos_phases: dict[str, float] = {}
    timed("q_index_build_positional", lambda: build_index(
        corpus_pos, idx_pos,
        docs_per_shard=max(1024, n_pos // (2 * cpus)), term_buckets=4,
        positions=True, timings=pos_phases,
    ))
    # the filtered DF loses the assignment's persist handle — free it here
    getattr(assigned_pos, "_persisted_src", assigned_pos).unpersist()
    extra["files_per_sec_positional"] = round(
        n_pos / timings["q_index_build_positional"], 1
    )
    extra["positional_corpus_files"] = n_pos
    extra["positional_phase_seconds"] = pos_phases

    # cross-index merge (round 7): structurally merge two indexes — the
    # 10^12-file build topology is parallel per-dataset builds + merge.
    # Self-merge of the bench index doubles the doc space with zero extra
    # setup; the rebase/fingerprint/phase-B work is identical to a real
    # two-source merge. The headline comparison is merge_files_per_sec vs
    # files_per_sec: merging must beat rebuilding by a wide margin.
    from dense_retriever_spark.index.merge import merge_indexes

    mrg_dir = os.path.dirname(idx_dir) + "/index_merged2x"
    timed("q_merge_indexes", lambda: merge_indexes(
        spark, [idx_dir, idx_dir], mrg_dir, build_tag="bench_merge",
    ))
    extra["merge_files_per_sec"] = round(
        (2 * n_corpus) / timings["q_merge_indexes"], 1
    )
    shutil.rmtree(mrg_dir, ignore_errors=True)

    queries = synth_queries(spark, 100).cache()
    queries.count()

    # phrase search: 100 two-token phrases over the positional index —
    # position-stream decode + adjacency chain inside every term-matching
    # shard (the phrase plane's full cost regardless of hit count)
    from dense_retriever_spark.index.phrase import search_phrase

    phrases = queries.selectExpr(
        "query_id",
        "array_join(slice(split(query, ' '), 1, 2), ' ') as query",
    )
    timed("q_phrase_search", lambda: search_phrase(
        spark, idx_pos, phrases, k=10
    ).count())
    extra["phrase_p50_ms_per_query"] = round(
        timings["q_phrase_search"] / 100 * 1000, 2
    )

    def run_search():
        return search(spark, idx_dir, queries, k=10).count()

    # COLD search = REPEAT-MEDIAN of 3 (round-6 verdict: the single-shot
    # number false-regressed 2× on box noise two rounds running — same
    # treatment bigbatch got in round 6). Every run reads the term
    # dictionary and scans the shards; JVM/py-workers stay warm across
    # runs, exactly like the bigbatch protocol.
    search_runs: list[float] = []
    for _ in range(3):
        t0 = time.time()
        run_search()
        search_runs.append(round(time.time() - t0, 3))
    timings["q_search_indexed"] = sorted(search_runs)[1]
    extra["search_runs_seconds"] = search_runs
    extra["search_p50_ms_per_query"] = round(
        timings["q_search_indexed"] / 100 * 1000, 2
    )

    # warm repeat of the same batch: the interactive-serving regime —
    # py-workers and file listings are hot. This is the p50 a session after
    # the first query actually sees.
    timed("q_search_warm", run_search)
    extra["search_warm_p50_ms_per_query"] = round(
        timings["q_search_warm"] / 100 * 1000, 2
    )

    # tombstoned search: ~14% of docs masked at query time
    kill = (
        spark.read.parquet(f"{idx_dir}/docs")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )
    timed("q_search_tombstoned", lambda: search(
        spark, idx_dir, queries, k=10,
        exclude_doc_ids=kill,
    ).count())
    extra["search_tombstoned_p50_ms_per_query"] = round(
        timings["q_search_tombstoned"] / 100 * 1000, 2
    )

    # metadata-filtered search: ~33% allowed set, cogrouped with the scan
    allowed = (
        spark.read.parquet(f"{idx_dir}/docs")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id")
    )
    timed("q_search_filtered", lambda: search(
        spark, idx_dir, queries, k=10,
        include_doc_ids=allowed,
    ).count())
    extra["search_filtered_p50_ms_per_query"] = round(
        timings["q_search_filtered"] / 100 * 1000, 2
    )

    # boolean search: the same 100 queries rewritten to
    # "+first second -third" (first term required, third forbidden when
    # present) — postings-intersection conjunction + exclusion per shard
    from dense_retriever_spark.index.boolean import search_boolean

    bool_q = queries.selectExpr(
        "query_id",
        "concat('+', split(query, ' ')[0],"
        " case when size(split(query, ' ')) > 1"
        "      then concat(' ', split(query, ' ')[1]) else '' end,"
        " case when size(split(query, ' ')) > 2"
        "      then concat(' -', split(query, ' ')[2]) else '' end)"
        " as query",
    )
    timed("q_search_boolean", lambda: search_boolean(
        spark, idx_dir, bool_q, k=10
    ).count())
    extra["boolean_p50_ms_per_query"] = round(
        timings["q_search_boolean"] / 100 * 1000, 2
    )

    # prefix search: first term truncated to a 4-char trailing-* pattern
    # (dictionary StartsWith scan + expanded-disjunction scoring)
    from dense_retriever_spark.index.prefix import search_prefix

    pfx_q = queries.selectExpr(
        "query_id",
        "concat(substring(split(query, ' ')[0], 1, 4), '*',"
        " case when size(split(query, ' ')) > 1"
        "      then concat(' ', split(query, ' ')[1]) else '' end)"
        " as query",
    )
    timed("q_search_prefix", lambda: search_prefix(
        spark, idx_dir, pfx_q, k=10
    ).count())
    extra["prefix_p50_ms_per_query"] = round(
        timings["q_search_prefix"] / 100 * 1000, 2
    )

    # multi-field combination machinery (index/fields.py): two weighted
    # legs over the SAME physical index — measures the untruncated
    # score_matches legs + pivot combine + re-rank without paying two more
    # index builds; per-leg scan cost is the real per-field cost. 20
    # queries, not 100: the synthetic 35-word vocabulary makes every query
    # match most of the corpus, so the untruncated relation is |corpus|-
    # dense per query — the worst case no real vocabulary produces
    from dense_retriever_spark.index.fields import search_fields

    mf_q = queries.limit(20)
    timed("q_search_multifield", lambda: search_fields(
        spark, [("a", idx_dir, 1.0), ("b", idx_dir, 0.5)], mf_q, k=10
    ).count())
    extra["multifield_p50_ms_per_query"] = round(
        timings["q_search_multifield"] / 20 * 1000, 2
    )

    # more-like-this (index/mlt.py): 100 seed docs spread across the
    # corpus — interesting-term selection (pruned docs scan + stats join)
    # + the standard scored search + seed anti-join
    from dense_retriever_spark.index.mlt import more_like_this

    seeds = spark.range(100).selectExpr(
        "id as query_id", f"id * {max(n_corpus // 100, 1)} as doc_id"
    )
    timed("q_mlt", lambda: more_like_this(
        spark, idx_dir, seeds, k=10, max_terms=10
    ).count())
    extra["mlt_p50_ms_per_query"] = round(timings["q_mlt"] / 100 * 1000, 2)

    # distributed query plane: a 5k-query batch flowing as a RELATION
    # (query terms ⋈ global stats ⋈ shard presence, cogrouped with the shard
    # scan — O(1) driver state at any |Q|): the training-set-scale path.
    # REPEAT-MEDIAN (round-5 verdict): this is the suite's largest single
    # metric and the box's measured run-to-run spread on identical code is
    # ~2× — one run cannot distinguish a plan regression from noise. The
    # headline is the median of 3; every run lands in the artifact.
    big_q = synth_queries(spark, 5000).cache()
    big_q.count()
    bigbatch_runs: list[float] = []
    for _ in range(3):
        t0 = time.time()
        search(
            spark, idx_dir, big_q, k=10,
            query_mode="distributed",
        ).count()
        bigbatch_runs.append(round(time.time() - t0, 3))
    timings["q_search_bigbatch_dist"] = sorted(bigbatch_runs)[1]
    extra["bigbatch_runs_seconds"] = bigbatch_runs
    extra["bigbatch_queries_per_sec"] = round(
        5000 / timings["q_search_bigbatch_dist"], 1
    )
    big_q.unpersist()

    # incremental operating mode (round-5 verdict item 7): ONE stream-refresh
    # window — drain ~10k newly-arrived docs, run a refresh round against an
    # EXISTING index over the full staged corpus, ack. Setup (the round-0
    # build of the existing index) is untimed; the metric is the steady-state
    # per-window cost a cron-driven deployment pays.
    from dense_retriever_spark.pipeline import refresh_rounds
    from dense_retriever_spark.streaming.refresh import (
        ack_corpus_batch,
        drain_corpus_stream,
    )

    wd = tempfile.mkdtemp(prefix="bench_refresh_", dir=shm)
    rq = synth_queries(spark, 20).selectExpr(
        "query_id as qid", "query as text"
    )
    rqrels = rq.select("qid", (F.col("qid") * 7 % 1000).alias("doc_id"))
    # DEFAULT configuration: the out-of-box steady-state window cost
    refresh_rounds(
        spark, [spark.read.parquet(stage_root + "/corpus")], rq, rqrels, wd,
        k=10, docs_per_shard=dps, dedup_exact=True,
    )
    arrivals = wd + "/arrivals"
    synth_corpus(spark, 10_000, seed=99).write.parquet(arrivals)

    def stream_refresh_round():
        b = drain_corpus_stream(
            spark, arrivals, wd + "/staging", wd + "/ckpt"
        )
        refresh_rounds(
            spark, [b], rq, rqrels, wd, k=10, docs_per_shard=dps,
            dedup_exact=True, start_round=1,
        )
        ack_corpus_batch(spark, wd + "/staging", b)

    timed("q_stream_refresh_round", stream_refresh_round)
    extra["stream_refresh_docs_per_sec"] = round(
        10_000 / timings["q_stream_refresh_round"], 1
    )

    # compaction wave (round-7 ask #4): compact a contiguous ~5% slice.
    # compact_index's internal rebuild re-runs phase B, so this ONE call is
    # the whole wave — phase A rebuilds only the touched shards
    # (fingerprint skip for the rest) and phase B re-aggregates the
    # (term, df, cf) dictionary, not the postings. The per-phase split
    # lands in the artifact.
    from dense_retriever_spark.index.build import compact_index
    from dense_retriever_spark.index.search import load_stats

    n_idx = int(load_stats(wd + "/index")["n_docs"])
    ckill = spark.range(0, int(n_idx * 0.05)).select(
        F.col("id").alias("doc_id")
    )
    timed(
        "q_compact_genned_range",
        lambda: compact_index(spark, wd + "/index", ckill),
    )
    extra["compact_phase_seconds"] = load_stats(wd + "/index")["metrics"][
        "phase_seconds"
    ]
    shutil.rmtree(wd, ignore_errors=True)

    # the same window in a second workdir (before format v4 this ran the
    # other global/ layout; the metric name is kept for old artifacts)
    wdg = tempfile.mkdtemp(prefix="bench_refresh_merged_", dir=shm)
    refresh_rounds(
        spark, [spark.read.parquet(stage_root + "/corpus")], rq, rqrels, wdg,
        k=10, docs_per_shard=dps, dedup_exact=True,
    )
    arrivals_g = wdg + "/arrivals"
    synth_corpus(spark, 10_000, seed=99).write.parquet(arrivals_g)

    def stream_refresh_round_merged():
        b = drain_corpus_stream(
            spark, arrivals_g, wdg + "/staging", wdg + "/ckpt"
        )
        refresh_rounds(
            spark, [b], rq, rqrels, wdg, k=10, docs_per_shard=dps,
            dedup_exact=True, start_round=1,
        )
        ack_corpus_batch(spark, wdg + "/staging", b)

    timed("q_stream_refresh_round_merged", stream_refresh_round_merged)
    extra["stream_refresh_merged_docs_per_sec"] = round(
        10_000 / timings["q_stream_refresh_round_merged"], 1
    )
    shutil.rmtree(wdg, ignore_errors=True)

    timed("q_bm25_exact", lambda: q01_bm25_topk(spark, sf_dir).count())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(
        "q_dedup_minhash",
        lambda: jaccard_verify(
            minhash_lsh_pairs(docs, n_hashes=16, bands=4), docs, threshold=0.5
        ).count(),
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    timed("q_cosine_topk", lambda: cosine_topk_bruteforce(emb, qv, k=3).count())

    timed("q_term_stats", lambda: q10_term_stats(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "corpus_files": n_corpus,
                **extra,
            }
        )
    )
    shutil.rmtree(os.path.dirname(idx_dir), ignore_errors=True)
    shutil.rmtree(stage_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
