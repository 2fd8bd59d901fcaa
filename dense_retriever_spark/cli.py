"""spark-submit entry points mirroring the reference's retrieval CLI.

Reference: 12 click commands (cli/__init__.py:15-26). Mapping:
  search_from_prebuilt / search_from_scratch / evaluate_index
    → build-index / search / evaluate (cli/ann_index.py:6-61)
  construct_query_samples → construct-samples (cli/preprocessing.py:8-14)
  construct_train_set → build-train-set (cli/preprocessing.py:25-34)
  tokenize_train_set / tokenize_test_set → tokenize-set (:37-60; HF BERT
    tokenizer replaced by the engine's code tokenizer — no torch in-scope)
  extract_texts_for_inference → extract-texts
  build_encoding_cache → build-term-cache (the reference caches per-text
    encodings keyed by id; the lexical analog is the per-term statistics
    cache (term, df, cf) served to query time — q28 is the cache JOIN)
  train_model_with_refresh → refresh (pipeline.refresh_rounds; the PyTorch
    training step is out of scope for an analytics engine, the data loop —
    search → mine negatives → rebuild — is fully implemented)
  (beyond the reference) compact → physically drop a tombstone kill-list
    from the index, rebuilding only the affected shards (build.compact_index)
  train_model / run_inference / build_encoding_cache → out of scope (GPU
    model training/inference; the KV cache join exists as contract.q28_cache_join).

Package with ``python tools/package.py`` → ``spark-submit --py-files
engine.zip -m dense_retriever_spark.cli <cmd> ...`` (or python -m locally).
"""

from __future__ import annotations

import argparse
import os
import json
import sys


def _spark(args):
    from dense_retriever_spark.session import get_spark

    return get_spark(app_name=f"dr-{args.cmd}", master=args.master)


def cmd_build_index(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.index.build import (
        assign_doc_ids_scalable,
        build_index,
    )
    from dense_retriever_spark.schemas import CORPUS_SCHEMA

    corpus = spark.read.schema(CORPUS_SCHEMA).parquet(args.corpus)
    ingested = assign_doc_ids_scalable(corpus)
    # --no-stage-content: metadata-only docs table, content joined from the
    # immutable input at build time (100 TB storage knob, see build_index)
    content_source = (
        spark.read.schema(CORPUS_SCHEMA).parquet(args.corpus)
        if args.no_stage_content
        else None
    )
    paths = build_index(
        ingested,
        args.index_dir,
        docs_per_shard=args.docs_per_shard,
        term_buckets=args.term_buckets,
        shard_batch=args.shard_batch,
        content_source=content_source,
        positions=args.positions or None,
        stopwords=(
            [w for w in args.stopwords.split(",") if w]
            if args.stopwords is not None
            else None
        ),
    )
    from dense_retriever_spark.index.search import load_stats

    print(json.dumps({"index": paths.root, "stats": load_stats(paths.root)}))


def cmd_phrase_search(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.phrase import search_phrase
    from dense_retriever_spark.sources.readers import read_queries_tsv

    queries = read_queries_tsv(spark, args.queries).selectExpr(
        "qid as query_id", "text as query"
    )
    excl = (
        spark.read.parquet(args.exclude_ids).select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
        if args.exclude_ids
        else None
    )
    res = search_phrase(
        spark, args.index_dir, queries, k=args.top_n,
        query_mode=args.query_mode, exclude_doc_ids=excl,
    )
    res.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"results": args.out, "rows": n}))


def cmd_search(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.search import search
    from dense_retriever_spark.sources.readers import read_queries_tsv

    queries = read_queries_tsv(spark, args.queries).selectExpr(
        "qid as query_id", "text as query"
    )

    def ids(path):
        if not path:
            return None
        return spark.read.parquet(path).select(
            F.col("doc_id").cast("long").alias("doc_id")
        )

    if args.synonyms and args.syntax != "plain":
        raise SystemExit(
            f"--synonyms applies to plain syntax only (got --syntax "
            f"{args.syntax}); expand-then-{args.syntax} is not defined"
        )
    if args.offset and args.syntax != "plain":
        raise SystemExit(
            f"--offset applies to plain syntax only (got --syntax "
            f"{args.syntax})"
        )
    if args.offset and args.synonyms:
        # search_synonyms has no offset parameter — silently ignoring the
        # flag would return page 1 labelled as page N (ADVICE r7)
        raise SystemExit(
            "--offset is not supported together with --synonyms "
            "(pagination is not threaded through synonym expansion)"
        )
    common = dict(
        k=args.top_n,
        exclude_doc_ids=ids(args.exclude_ids),
        include_doc_ids=ids(args.include_ids),
        query_mode=args.query_mode,
        eager=not args.lazy,
    )
    if args.syntax == "boolean":
        from dense_retriever_spark.index.boolean import search_boolean

        res = search_boolean(
            spark, args.index_dir, queries,
            min_should_match=args.min_should_match, **common,
        )
    elif args.syntax == "prefix":
        from dense_retriever_spark.index.prefix import search_prefix

        res = search_prefix(
            spark, args.index_dir, queries,
            max_expansions=args.max_expansions, **common,
        )
    elif args.syntax == "fuzzy":
        from dense_retriever_spark.index.fuzzy import search_fuzzy

        res = search_fuzzy(
            spark, args.index_dir, queries,
            max_edits=args.max_edits, **common,
        )
    elif args.syntax == "regex":
        from dense_retriever_spark.index.regexq import search_regex

        res = search_regex(
            spark, args.index_dir, queries,
            max_expansions=args.max_expansions, **common,
        )
    elif args.synonyms:
        from dense_retriever_spark.index.synonyms import search_synonyms

        syn = spark.read.parquet(args.synonyms).select("term", "variant")
        res = search_synonyms(
            spark, args.index_dir, queries, syn, **common
        )
    else:
        res = search(
            spark, args.index_dir, queries, offset=args.offset, **common
        )
    res.write.mode("overwrite").parquet(args.out)
    # count the WRITTEN parquet — counting `res` under --lazy would re-run
    # the whole search a second time
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"results": args.out, "rows": n}))


def cmd_search_fields(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.fields import search_fields
    from dense_retriever_spark.sources.readers import read_queries_tsv

    fields = []
    for spec in args.field:
        # name=dir:weight (weight optional, default 1.0)
        name, rest = spec.split("=", 1)
        if ":" in rest.rsplit("/", 1)[-1]:
            d, w = rest.rsplit(":", 1)
            fields.append((name, d, float(w)))
        else:
            fields.append((name, rest, 1.0))
    queries = read_queries_tsv(spark, args.queries).selectExpr(
        "qid as query_id", "text as query"
    )
    res = search_fields(
        spark, fields, queries, k=args.top_n, combine=args.combine,
        query_mode=args.query_mode,
    )
    res.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "results": args.out, "rows": n,
        "fields": [{"name": f[0], "weight": f[2]} for f in fields],
    }))


def cmd_mlt(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.mlt import more_like_this

    seeds = spark.read.parquet(args.seeds).select(
        F.col("query_id").cast("long"), F.col("doc_id").cast("long")
    )
    res = more_like_this(
        spark, args.index_dir, seeds, k=args.top_n,
        max_terms=args.max_terms, query_mode=args.query_mode,
    )
    res.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"results": args.out, "rows": n}))


def cmd_explain(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.index.explain import explain_scores
    from dense_retriever_spark.sources.readers import read_queries_tsv

    queries = read_queries_tsv(spark, args.queries).selectExpr(
        "qid as query_id", "text as query"
    )
    res = spark.read.parquet(args.results) if args.results else None
    out = explain_scores(spark, args.index_dir, queries, results=res)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"explain": args.out, "rows": n}))


def cmd_rank_metrics(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.operators.rank_metrics import ndcg_recall

    results = spark.read.parquet(args.results)
    qrels = spark.read.parquet(args.qrels).select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rel").cast("double"),
    )
    per_q = ndcg_recall(results, qrels, k=args.k)
    per_q.write.mode("overwrite").option("header", "true").csv(args.out)
    means = per_q.agg(
        F.avg("ndcg").alias("ndcg"), F.avg("recall").alias("recall")
    ).collect()[0]
    print(json.dumps({
        f"ndcg@{args.k}": means["ndcg"], f"recall@{args.k}": means["recall"],
    }))


def cmd_count_matches(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.boolean import count_matches
    from dense_retriever_spark.sources.readers import read_queries_tsv

    queries = read_queries_tsv(spark, args.queries).selectExpr(
        "qid as query_id", "text as query"
    )
    excl = (
        spark.read.parquet(args.exclude_ids).select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
        if args.exclude_ids
        else None
    )
    res = count_matches(
        spark, args.index_dir, queries, exclude_doc_ids=excl
    )
    res.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"counts": args.out, "rows": n}))


def cmd_suggest_terms(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.index.fuzzy import suggest_terms

    terms = spark.read.text(args.terms).selectExpr("value as term")
    res = suggest_terms(
        spark, args.index_dir, terms, max_edits=args.max_edits, k=args.top_n
    )
    res.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"suggestions": args.out, "rows": n}))


def cmd_facets(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.operators.facets import (
        facet_counts,
        facet_ranges,
    )

    res = spark.read.parquet(args.results)
    docs = spark.read.parquet(args.docs)
    if not args.range and not args.columns:
        raise SystemExit("facets needs --columns or --range")
    if args.range:
        col, lo, hi, bins = args.range.split(":")
        out = facet_ranges(
            res, docs, col, float(lo), float(hi), int(bins),
            id_col=args.id_col,
        )
    else:
        out = facet_counts(
            res, docs,
            [c.strip() for c in args.columns.split(",") if c.strip()],
            id_col=args.id_col,
        )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"facets": args.out, "rows": n}))


def cmd_evaluate(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.operators.rank_metrics import (
        mrr,
        reciprocal_rank,
        results_as_ranked_lists,
    )
    from dense_retriever_spark.sources.readers import read_qrels

    results = spark.read.parquet(args.results)
    qrels = read_qrels(spark, args.qrels).select(
        F.col("qid").alias("query_id"), F.col("doc_id").alias("positive_doc_id")
    )
    rr = reciprocal_rank(results_as_ranked_lists(results), qrels, k=args.k)
    rr.write.mode("overwrite").option("header", "true").csv(args.out)
    key = f"mrr@{args.k}" if args.k else "mrr"
    print(json.dumps({key: mrr(rr).collect()[0]["mrr"]}))


def cmd_construct_samples(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.operators.negatives import construct_query_samples
    from dense_retriever_spark.sources.readers import read_qrels, read_queries_tsv

    queries = read_queries_tsv(spark, args.queries)
    qrels = read_qrels(spark, args.qrels)
    out = construct_query_samples(queries, qrels)
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"samples": args.out, "rows": out.count()}))


def cmd_build_train_set(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.operators.negatives import (
        build_train_set,
        mine_hard_negatives,
    )
    from dense_retriever_spark.operators.rank_metrics import (
        results_as_ranked_lists,
    )

    samples = spark.read.parquet(args.samples)
    results = results_as_ranked_lists(
        spark.read.parquet(args.results), id_to_str=False
    )
    mined = mine_hard_negatives(samples, results, seed=args.seed)
    docs = spark.read.parquet(args.docs).select(
        "doc_id", F.col(args.text_col).alias("text")
    )
    train = build_train_set(mined, docs)
    train.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"train_set": args.out, "rows": train.count()}))


def cmd_tokenize_set(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.functions.tokenizer import tokenize_code_expr

    df = spark.read.parquet(args.dataset)
    out = df.withColumn("tokens", tokenize_code_expr(F.col(args.text_col)))
    if args.max_length:
        out = out.withColumn("tokens", F.slice("tokens", 1, args.max_length))
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"tokenized": args.out, "rows": out.count()}))


def cmd_extract_texts(args) -> None:
    spark = _spark(args)
    df = spark.read.parquet(args.dataset).select(args.id_col, args.text_col)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"texts": args.out, "rows": df.count()}))


def cmd_build_term_cache(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.search import global_term_stats, load_stats

    stats = global_term_stats(
        spark, args.index_dir, load_stats(args.index_dir)
    )
    if args.min_df > 1:
        stats = stats.filter(F.col("df") >= args.min_df)
    stats.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"cache": args.out, "terms": stats.count()}))


def cmd_compact(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.build import compact_index

    kill = spark.read.parquet(args.kill_list).select(
        F.col(args.kill_col).cast("long").alias("doc_id")
    )
    paths = compact_index(spark, args.index_dir, kill)
    from dense_retriever_spark.index.search import load_stats

    print(json.dumps({"index": paths.root, "stats": load_stats(paths.root)}))


def cmd_merge_indexes(args) -> None:
    """Structurally merge independently built indexes (byte-level posting
    rebase — the scale topology for 10^12 files is many parallel builds,
    one per dataset/crawl, merged into a serving index)."""
    spark = _spark(args)
    from dense_retriever_spark.index.merge import merge_indexes
    from dense_retriever_spark.index.search import load_stats

    content_source = (
        spark.read.parquet(args.content_source) if args.content_source else None
    )
    timings: dict = {}
    paths = merge_indexes(
        spark, args.src, args.out_dir,
        content_source=content_source,
        build_tag=args.build_tag,
        timings=timings,
    )
    print(json.dumps({
        "index": paths.root,
        "sources": args.src,
        "timings": timings,
        "stats": load_stats(paths.root),
    }))


def cmd_index_stats(args) -> None:
    """Read-only index inspection: stats.json, a manifest roll-up (shards by
    build tag, posting rows/bytes), and the maintenance-policy verdicts
    (should_reshard) — the JSON a scheduler gates compaction/reshard jobs
    on without touching the index."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.build import IndexPaths, should_reshard
    from dense_retriever_spark.index.search import load_stats

    stats = load_stats(args.index_dir)
    m = spark.read.parquet(IndexPaths(args.index_dir).manifest)
    tags = [
        {"build_tag": r["build_tag"], "shards": r["n"],
         "posting_rows": r["rows"], "posting_bytes": r["bytes"]}
        for r in m.groupBy("build_tag").agg(
            F.count("*").alias("n"),
            F.sum("row_count").alias("rows"),
            F.sum("bytes").alias("bytes"),
        ).orderBy("build_tag").collect()
    ]
    print(json.dumps({
        "index": args.index_dir,
        "stats": stats,
        "manifest_by_tag": tags,
        "should_reshard": should_reshard(
            stats, min_avg_shard_bytes=args.min_avg_shard_bytes
        ),
    }))


def cmd_reshard(args) -> None:
    """Adaptive shard coalescing: rebuild the index at a coarser (or finer)
    docs_per_shard. With --if-needed the build.should_reshard policy gates
    the rebuild (sparse doc-range shards after compactions, or a
    granularity outgrown by corpus growth) — a scheduler can run this
    unconditionally and pay the rebuild only when the index needs it."""
    spark = _spark(args)
    from dense_retriever_spark.index.build import reshard_index, should_reshard
    from dense_retriever_spark.index.search import load_stats
    from dense_retriever_spark.schemas import CORPUS_SCHEMA

    stats = load_stats(args.index_dir)
    needed = should_reshard(
        stats, min_avg_shard_bytes=args.min_avg_shard_bytes
    )
    if args.if_needed and not needed:
        print(json.dumps({"index": args.index_dir, "resharded": False,
                          "policy_fired": False}))
        return
    content_source = (
        spark.read.schema(CORPUS_SCHEMA).parquet(args.content_source)
        if args.content_source
        else None
    )
    paths = reshard_index(
        spark, args.index_dir, docs_per_shard=args.docs_per_shard,
        content_source=content_source,
    )
    print(json.dumps({"index": paths.root, "resharded": True,
                      "policy_fired": needed,
                      "stats": load_stats(paths.root)}))


def cmd_build_ann_index(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.index.ann import build_ann_index, load_ann_meta

    emb = spark.read.parquet(args.embeddings)
    paths = build_ann_index(
        emb, args.index_dir, n_centroids=args.n_centroids,
        quantizer=args.quantizer, id_col=args.id_col, vec_col=args.vec_col,
        seed=args.seed,
    )
    print(json.dumps({"index": paths.root, "meta": load_ann_meta(paths.root)}))


def cmd_refresh_ann(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.index.ann import maintain_ann_index

    emb = (
        spark.read.parquet(args.embeddings)
        if args.embeddings
        else None
    )
    meta = maintain_ann_index(
        spark, args.index_dir, emb,
        id_col=args.id_col, vec_col=args.vec_col,
        assume_new_ids=args.assume_new_ids,
        auto_recluster=not args.no_recluster,
        growth_factor=args.growth_factor,
        max_coherence_drop=args.max_coherence_drop,
    )
    print(json.dumps({"index": args.index_dir, "meta": meta}))


def cmd_ann_search(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.ann import search_ann_index

    queries = spark.read.parquet(args.queries).select(
        F.col(args.id_col).alias("query_vec_id"),
        F.col(args.vec_col).alias("qvec"),
    )
    res = search_ann_index(
        spark, args.index_dir, queries, k=args.top_n, nprobe=args.nprobe,
        exclude_self=not args.keep_self,
    )
    res.write.mode("overwrite").parquet(args.out)
    # count the WRITTEN parquet, not the lazy plan (which would re-run the
    # probe+join+topk DAG end to end)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"results": args.out, "rows": n}))


def cmd_refresh(args) -> None:
    spark = _spark(args)
    from dense_retriever_spark.pipeline import refresh_rounds
    from dense_retriever_spark.schemas import CORPUS_SCHEMA
    from dense_retriever_spark.sources.readers import read_qrels, read_queries_tsv

    batches = [
        spark.read.schema(CORPUS_SCHEMA).parquet(p)
        for p in args.corpus_batches.split(",")
    ]
    queries = read_queries_tsv(spark, args.queries)
    qrels = read_qrels(spark, args.qrels)
    rounds = refresh_rounds(
        spark, batches, queries, qrels, args.workdir,
        k=args.top_n, docs_per_shard=args.docs_per_shard,
        dedup_exact=args.dedup_exact,
        dedup_near=args.dedup_near,
        compact_fraction=args.compact_fraction,
        compact_min_ids=args.compact_min_ids,
        auto_reshard=args.auto_reshard,
        metadata_only_docs=args.metadata_only_docs,
    )
    print(json.dumps({"workdir": args.workdir, "rounds": rounds}))


def cmd_stream_refresh(args) -> None:
    """Streamed front door of the refresh loop: drain newly-arrived corpus
    files (exactly-once per file via the stream checkpoint), run ONE refresh
    round over the drained batch, and acknowledge it only after the round
    committed — a crash mid-round re-delivers the batch next run, and the
    round's exact-dedup drops the replayed content. Run from cron/Airflow
    per arrival window; each run is one incremental round."""
    spark = _spark(args)
    from dense_retriever_spark.pipeline import refresh_rounds
    from dense_retriever_spark.sources.readers import read_qrels, read_queries_tsv
    from dense_retriever_spark.streaming.refresh import (
        ack_corpus_batch,
        drain_corpus_stream,
    )

    batch = drain_corpus_stream(
        spark, args.input_dir, args.staging_dir, args.checkpoint_dir
    )
    n = batch.count()
    if n == 0:
        # ack the (empty) window too: without it an empty staged micro-batch
        # would re-open the same window and re-scan the staging table on
        # every subsequent run until real data arrived
        ack_corpus_batch(spark, args.staging_dir, batch)
        print(json.dumps({"workdir": args.workdir, "drained_rows": 0,
                          "rounds": []}))
        return
    queries = read_queries_tsv(spark, args.queries)
    qrels = read_qrels(spark, args.qrels)
    # continue the round numbering from what is already on disk, so each
    # arrival window accumulates its own negatives_round{i} /
    # train_set_round{i} / metrics_round{i}.json (and a fresh negative-
    # mining seed) instead of overwriting round 0 every run
    import glob as _glob

    prior = _glob.glob(os.path.join(args.workdir, "metrics_round*.json"))
    start = 1 + max(
        (int(p.rsplit("metrics_round", 1)[1].split(".")[0]) for p in prior),
        default=-1,
    )
    rounds = refresh_rounds(
        spark, [batch], queries, qrels, args.workdir,
        k=args.top_n, docs_per_shard=args.docs_per_shard,
        dedup_exact=True,  # required: makes the at-least-once drain exact
        dedup_near=args.dedup_near,
        compact_fraction=args.compact_fraction,
        compact_min_ids=args.compact_min_ids,
        start_round=start,
        auto_reshard=args.auto_reshard,
        metadata_only_docs=args.metadata_only_docs,
    )
    ack_corpus_batch(spark, args.staging_dir, batch)
    print(json.dumps({"workdir": args.workdir, "drained_rows": n,
                      "rounds": rounds}))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="dense-retriever-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index-dir", required=True)
    b.add_argument("--docs-per-shard", type=int, default=1 << 14)
    b.add_argument("--term-buckets", type=int, default=8)
    b.add_argument("--shard-batch", type=int, default=None)
    b.add_argument("--no-stage-content", action="store_true")
    b.add_argument("--positions", action="store_true",
                   help="phrase-capable index: store per-term position "
                        "streams (read only by phrase-search)")
    b.add_argument("--stopwords", default=None,
                   help="comma-separated terms dropped at index time "
                        "(Lucene-StopFilter semantics: dl/avgdl count "
                        "indexed terms only; recorded in stats.json and "
                        "inherited by incremental builds/compaction)")
    b.set_defaults(fn=cmd_build_index)

    ph = sub.add_parser("phrase-search")
    ph.add_argument("--index-dir", required=True)
    ph.add_argument("--queries", required=True, help="TSV qid\\tphrase")
    ph.add_argument("--top-n", type=int, default=10)
    ph.add_argument("--out", required=True)
    ph.add_argument("--exclude-ids", default=None,
                    help="parquet (doc_id): tombstone kill-list")
    ph.add_argument("--query-mode", default="auto",
                    choices=["auto", "broadcast", "distributed"])
    ph.set_defaults(fn=cmd_phrase_search)

    s = sub.add_parser("search")
    s.add_argument("--index-dir", required=True)
    s.add_argument("--queries", required=True, help="TSV qid\\ttext")
    s.add_argument("--top-n", type=int, default=50)  # reference default
    s.add_argument("--exclude-ids", default=None,
                   help="parquet (doc_id): tombstone kill-list")
    s.add_argument("--include-ids", default=None,
                   help="parquet (doc_id): allowed set (metadata filter)")
    s.add_argument("--query-mode", default="auto",
                   choices=["auto", "broadcast", "distributed"],
                   help="query-side plan: file sizes are unknown here, so "
                        "auto probes |Q| and distributes large batches")
    s.add_argument("--lazy", action="store_true",
                   help="skip eager executor-side materialization (results "
                        "are written below either way; lazy defers the per-"
                        "call broadcast release to GC)")
    s.add_argument("--syntax", default="plain",
                   choices=["plain", "boolean", "prefix", "fuzzy", "regex"],
                   help="query grammar: plain BM25 bag-of-terms; boolean "
                        "(+required / -forbidden segments); prefix "
                        "(trailing-* segments expand against the term "
                        "dictionary); fuzzy (trailing-~ segments match at "
                        "bounded edit distance); regex (/pattern/ segments "
                        "full-match dictionary terms)")
    s.add_argument("--max-expansions", type=int, default=1024,
                   help="prefix syntax: per-pattern dictionary expansion "
                        "cap (lexicographically smallest terms win)")
    s.add_argument("--max-edits", type=int, default=1,
                   help="fuzzy syntax: default edit distance for bare ~ "
                        "segments (~1 / ~2 pin it per segment; max 2)")
    s.add_argument("--min-should-match", type=int, default=0,
                   help="boolean syntax: docs must match at least this "
                        "many distinct optional (bare) terms on top of "
                        "every +required term (Lucene msm; 0 = off)")
    s.add_argument("--offset", type=int, default=0,
                   help="pagination (plain syntax only): return the rank "
                        "window [offset+1, offset+top-n] with absolute "
                        "ranks; cost grows with page depth")
    s.add_argument("--synonyms", default=None,
                   help="parquet (term, variant): plain-syntax queries "
                        "expand through this relation before scoring "
                        "(index/synonyms.py)")
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_search)

    sf = sub.add_parser("search-fields")
    sf.add_argument("--field", action="append", required=True,
                    help="name=index_dir:weight (repeat per field; weight "
                         "defaults to 1.0) — weighted multi-field BM25 "
                         "(index/fields.py)")
    sf.add_argument("--queries", required=True, help="TSV qid\\ttext")
    sf.add_argument("--top-n", type=int, default=50)
    sf.add_argument("--combine", default="sum", choices=["sum", "max"],
                    help="sum = BM25F-style weighted sum; max = dismax")
    sf.add_argument("--query-mode", default="auto",
                    choices=["auto", "broadcast", "distributed"])
    sf.add_argument("--out", required=True)
    sf.set_defaults(fn=cmd_search_fields)

    ml = sub.add_parser("mlt")
    ml.add_argument("--index-dir", required=True)
    ml.add_argument("--seeds", required=True,
                    help="parquet (query_id, doc_id): seed docs per query")
    ml.add_argument("--top-n", type=int, default=10)
    ml.add_argument("--max-terms", type=int, default=10,
                    help="interesting terms kept per query (tf-idf rank)")
    ml.add_argument("--query-mode", default="auto",
                    choices=["auto", "broadcast", "distributed"])
    ml.add_argument("--out", required=True)
    ml.set_defaults(fn=cmd_mlt)

    xp = sub.add_parser("explain")
    xp.add_argument("--index-dir", required=True)
    xp.add_argument("--queries", required=True, help="TSV qid\\ttext")
    xp.add_argument("--results", default=None,
                    help="parquet (query_id, doc_id): restrict the "
                         "explanation to these pairs (a search output)")
    xp.add_argument("--out", required=True)
    xp.set_defaults(fn=cmd_explain)

    rm = sub.add_parser("rank-metrics")
    rm.add_argument("--results", required=True,
                    help="parquet (query_id, doc_id, rank) — a search output")
    rm.add_argument("--qrels", required=True,
                    help="parquet (query_id, doc_id, rel) graded judgments")
    rm.add_argument("--k", type=int, default=10)
    rm.add_argument("--out", required=True)
    rm.set_defaults(fn=cmd_rank_metrics)

    cm = sub.add_parser("count-matches")
    cm.add_argument("--index-dir", required=True)
    cm.add_argument("--queries", required=True,
                    help="TSV qid\\tquery (boolean grammar supported)")
    cm.add_argument("--exclude-ids", default=None,
                    help="parquet (doc_id): tombstone kill-list")
    cm.add_argument("--out", required=True)
    cm.set_defaults(fn=cmd_count_matches)

    sg = sub.add_parser("suggest-terms")
    sg.add_argument("--index-dir", required=True)
    sg.add_argument("--terms", required=True,
                    help="text file, one term per line")
    sg.add_argument("--max-edits", type=int, default=1)
    sg.add_argument("--top-n", type=int, default=5)
    sg.add_argument("--out", required=True)
    sg.set_defaults(fn=cmd_suggest_terms)

    fa = sub.add_parser("facets")
    fa.add_argument("--results", required=True,
                    help="parquet search results (query_id, doc_id, ...)")
    fa.add_argument("--docs", required=True,
                    help="parquet document metadata table")
    fa.add_argument("--columns", default=None,
                    help="comma-separated facet columns, e.g. lang,source")
    fa.add_argument("--range", default=None,
                    help="numeric range facet col:lo:hi:bins (e.g. "
                         "n_chars:0:200:5) — width_bucket histogram "
                         "instead of categorical counts")
    fa.add_argument("--id-col", default="doc_id")
    fa.add_argument("--out", required=True)
    fa.set_defaults(fn=cmd_facets)

    e = sub.add_parser("evaluate")
    e.add_argument("--results", required=True)
    e.add_argument("--qrels", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--k", type=int, default=None,
                   help="MRR@k cutoff (default: full returned list)")
    e.set_defaults(fn=cmd_evaluate)

    cs = sub.add_parser("construct-samples")
    cs.add_argument("--queries", required=True, help="TSV qid\\ttext")
    cs.add_argument("--qrels", required=True, help="space-separated qrels")
    cs.add_argument("--out", required=True)
    cs.set_defaults(fn=cmd_construct_samples)

    bt = sub.add_parser("build-train-set")
    bt.add_argument("--samples", required=True, help="construct-samples parquet")
    bt.add_argument("--results", required=True, help="search results parquet")
    bt.add_argument("--docs", required=True, help="docs parquet (doc_id + text col)")
    bt.add_argument("--text-col", default="content")
    bt.add_argument("--seed", type=int, default=0)
    bt.add_argument("--out", required=True)
    bt.set_defaults(fn=cmd_build_train_set)

    tk = sub.add_parser("tokenize-set")
    tk.add_argument("--dataset", required=True)
    tk.add_argument("--text-col", default="doc")
    tk.add_argument("--max-length", type=int, default=512)  # reference default
    tk.add_argument("--out", required=True)
    tk.set_defaults(fn=cmd_tokenize_set)

    ex = sub.add_parser("extract-texts")
    ex.add_argument("--dataset", required=True)
    ex.add_argument("--id-col", default="doc_id")
    ex.add_argument("--text-col", default="text")
    ex.add_argument("--out", required=True)
    ex.set_defaults(fn=cmd_extract_texts)

    tc = sub.add_parser("build-term-cache")
    tc.add_argument("--index-dir", required=True)
    tc.add_argument("--min-df", type=int, default=1)
    tc.add_argument("--out", required=True)
    tc.set_defaults(fn=cmd_build_term_cache)

    cp = sub.add_parser("compact")
    cp.add_argument("--index-dir", required=True)
    cp.add_argument("--kill-list", required=True,
                    help="parquet with the tombstoned doc ids")
    cp.add_argument("--kill-col", default="doc_id")
    cp.set_defaults(fn=cmd_compact)

    ist = sub.add_parser("index-stats")
    ist.add_argument("--index-dir", required=True)
    ist.add_argument("--min-avg-shard-bytes", type=int, default=4 << 20)
    ist.set_defaults(fn=cmd_index_stats)

    mi = sub.add_parser("merge-indexes")
    mi.add_argument("--src", action="append", required=True,
                    help="source index dir (repeat; order fixes doc-id "
                         "rebasing: source i's ids shift past source i-1's "
                         "shard range)")
    mi.add_argument("--out-dir", required=True)
    mi.add_argument("--content-source", default=None,
                    help="parquet path of the immutable input table — "
                         "required iff sources use metadata-only docs")
    mi.add_argument("--build-tag", default="merge")
    mi.set_defaults(fn=cmd_merge_indexes)

    rs = sub.add_parser("reshard")
    rs.add_argument("--index-dir", required=True)
    rs.add_argument("--docs-per-shard", type=int, required=True)
    rs.add_argument("--if-needed", action="store_true",
                    help="rebuild only when build.should_reshard fires")
    rs.add_argument("--min-avg-shard-bytes", type=int, default=4 << 20,
                    help="policy threshold for --if-needed")
    rs.add_argument("--content-source",
                    help="immutable input table — required for indexes "
                         "built with --no-stage-content")
    rs.set_defaults(fn=cmd_reshard)

    ba = sub.add_parser("build-ann-index")
    ba.add_argument("--embeddings", required=True,
                    help="parquet with (id, embedding) rows")
    ba.add_argument("--index-dir", required=True)
    ba.add_argument("--n-centroids", type=int, default=256)
    ba.add_argument("--quantizer", default="hash",
                    choices=["hash", "kmeans"])
    ba.add_argument("--id-col", default="vec_id")
    ba.add_argument("--vec-col", default="embedding")
    ba.add_argument("--seed", type=int, default=7)
    ba.set_defaults(fn=cmd_build_ann_index)

    an = sub.add_parser("ann-search")
    an.add_argument("--index-dir", required=True)
    an.add_argument("--queries", required=True,
                    help="parquet with (id, embedding) query rows")
    an.add_argument("--top-n", type=int, default=10)
    an.add_argument("--nprobe", type=int, default=8)
    an.add_argument("--id-col", default="vec_id")
    an.add_argument("--vec-col", default="embedding")
    an.add_argument("--keep-self", action="store_true",
                    help="keep hits where vec_id == query id")
    an.add_argument("--out", required=True)
    an.set_defaults(fn=cmd_ann_search)

    ra = sub.add_parser(
        "refresh-ann",
        help="fold a window of new vectors into an existing ANN index "
             "O(window) and act on the recluster policy — the per-window "
             "maintenance call of a stream-refresh deployment serving both "
             "the BM25 index and the ANN artifact",
    )
    ra.add_argument("--index-dir", required=True)
    ra.add_argument("--embeddings", default=None,
                    help="parquet of NEW (id, embedding) rows; omit to "
                         "only evaluate/act on the recluster policy")
    ra.add_argument("--id-col", default="vec_id")
    ra.add_argument("--vec-col", default="embedding")
    ra.add_argument("--assume-new-ids", action="store_true",
                    help="skip the replay-dedup anti-join (strictly "
                         "O(window)) — safe when ids are fresh by "
                         "construction, e.g. the refresh loop's new doc ids")
    ra.add_argument("--no-recluster", action="store_true",
                    help="report should_recluster in the meta but don't act")
    ra.add_argument("--growth-factor", type=float, default=4.0)
    ra.add_argument("--max-coherence-drop", type=float, default=0.1)
    ra.set_defaults(fn=cmd_refresh_ann)

    rf = sub.add_parser("refresh")
    rf.add_argument("--corpus-batches", required=True,
                    help="comma-separated parquet paths, one per round")
    rf.add_argument("--queries", required=True)
    rf.add_argument("--qrels", required=True)
    rf.add_argument("--workdir", required=True)
    rf.add_argument("--top-n", type=int, default=10)
    rf.add_argument("--docs-per-shard", type=int, default=1 << 14)
    rf.add_argument("--dedup-exact", action="store_true")
    rf.add_argument("--dedup-near", action="store_true",
                    help="per-round near-dup kill-list + tombstone-vs-"
                         "compaction policy (pipeline.apply_kill_list)")
    rf.add_argument("--compact-fraction", type=float, default=0.1,
                    help="compact when the kill-list exceeds this fraction "
                         "of the corpus")
    rf.add_argument("--compact-min-ids", type=int, default=10_000_000,
                    help="compact when the kill-list exceeds this absolute "
                         "size (the tombstone broadcast ceiling)")
    rf.add_argument("--auto-reshard", action="store_true",
                    help="act on the per-round should_reshard policy "
                         "verdict (always recorded in metrics) by "
                         "coalescing sparse shards mid-loop")
    rf.add_argument("--metadata-only-docs", action="store_true",
                    help="stage a metadata-only docs table; content joins "
                         "from the corpus at build time (no second "
                         "corpus-sized write per round)")
    rf.set_defaults(fn=cmd_refresh)

    sr = sub.add_parser("stream-refresh")
    sr.add_argument("--input-dir", required=True,
                    help="directory new corpus parquet files arrive in")
    sr.add_argument("--staging-dir", required=True)
    sr.add_argument("--checkpoint-dir", required=True)
    sr.add_argument("--queries", required=True)
    sr.add_argument("--qrels", required=True)
    sr.add_argument("--workdir", required=True)
    sr.add_argument("--top-n", type=int, default=10)
    sr.add_argument("--docs-per-shard", type=int, default=1 << 14)
    sr.add_argument("--dedup-near", action="store_true")
    sr.add_argument("--compact-fraction", type=float, default=0.1)
    sr.add_argument("--compact-min-ids", type=int, default=10_000_000)
    sr.add_argument("--auto-reshard", action="store_true")
    sr.add_argument("--metadata-only-docs", action="store_true")
    sr.set_defaults(fn=cmd_stream_refresh)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
