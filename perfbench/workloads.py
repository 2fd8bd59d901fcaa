"""The three workloads: ``interactive``, ``offline`` and ``refresh``.

Each workload generates its inputs from the seed, sets up (timed as
``setup_s``), measures for the requested number of seconds, then checks its
outputs outside the timed region. Every run reports the same end-to-end
metrics (their meaning per workload is in README.md); a traced run also
records spans and Spark job counts around each call into the package and
reports the per-layer metrics.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import harness as H
from gen import CodeCorpus, _draw, _zipf_cdf

K = 10
INTERACTIVE_DOCS, INTERACTIVE_POOL = 2_000, 200
OFFLINE_DOCS, OFFLINE_BATCH, MIN_BATCHES = 1_000, 1_000, 3
REFRESH_BASE, REFRESH_WINDOW, REFRESH_QUERIES = 300, 150, 50
REFRESH_DUP_SHARE, FRESH_PER_WINDOW = 0.05, 4
#: untimed windows in set-up (without reads), then timed windows (at least
#: MIN_WINDOWS)
WARM_WINDOWS, MIN_WINDOWS = 1, 1
#: query ids of window w's fresh reads start at FRESH_QID * w
FRESH_QID = 1_000_000
#: plain-search results compared with the exact oracle per run
ORACLE_SAMPLE = 12


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: H.Tracer
    cpus: int
    corpus: CodeCorpus
    #: sampled until the measured part of the run ends
    rss: H.RssSampler
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    #: unbounded facts recorded beside the result (MRR@10, raw timings)
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    #: build seconds inside each timed refresh round (for refresh_eval_s)
    round_build_s: list = field(default_factory=list)
    #: when the timed part began; per-layer refresh medians skip spans
    #: before it (the warm-up windows)
    timed_t0: float = 0.0
    t0: float = field(default_factory=time.perf_counter)

    def log(self, what: str) -> None:
        """Progress to stderr (stdout carries only the result)."""
        print(f"perfbench: {what} at {time.perf_counter() - self.t0:.1f} s",
              file=sys.stderr, flush=True)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(why)

    def check(self, rows: list, what: str) -> bool:
        bad = H.malformed(rows, K)
        if bad:
            self.fail(f"{what}: {bad}")
        return bad is None


def _dps(n_docs: int, cpus: int) -> int:
    """Two doc-range shards per core."""
    return max(128, math.ceil(n_docs / (2 * cpus)))


def _write_corpus(spark, frame: pd.DataFrame, path: str, mode="overwrite"):
    spark.createDataFrame(frame).write.mode(mode).parquet(path)


def _qdf(spark, pairs):
    return spark.createDataFrame(pairs, "query_id long, query string")


def _docs_table(spark, index_dir: str):
    from dense_retriever_spark.index.build import IndexPaths

    return spark.read.parquet(IndexPaths(index_dir).docs)


def _oracle_docs(run: Run, table, frame: pd.DataFrame, what: str):
    """The exact oracle's (doc_id, content) relation: the generated files
    ``frame``, under the doc ids the program's ``table`` (doc_id, path)
    gave them.

    One checked operation: ``table`` must hold every path of ``frame``
    once, under distinct doc ids, and no other path. A file the program
    lost gets a fresh id, so the oracle still ranks it."""
    got = table.select("doc_id", "path").toPandas()
    run.attempted += 1
    want, have = set(frame["path"]), set(got["path"])
    if len(got) != len(frame) or have != want or not got["doc_id"].is_unique:
        run.fail(
            f"{what} holds {len(got)} docs for {len(frame)} files: "
            f"{len(want - have)} missing, {len(have - want)} unknown, "
            f"{len(got) - len(have)} repeated paths"
        )
    ids = dict(zip(got["path"], got["doc_id"].astype("int64").tolist()))
    nxt = max(ids.values(), default=-1) + 1
    doc_ids = []
    for path in frame["path"]:
        if path not in ids:
            ids[path], nxt = nxt, nxt + 1
        doc_ids.append(ids[path])
    return run.spark.createDataFrame(
        list(zip(doc_ids, frame["content"].tolist())),
        "doc_id long, content string",
    )


def _build(run: Run, corpus_path: str, index_dir: str, n_docs: int):
    """``build_index`` (default merged layout) over the corpus at
    ``corpus_path``; returns (seconds, phase timings)."""
    from dense_retriever_spark.index.build import (
        assign_doc_ids_scalable,
        build_index,
    )

    timings: dict = {}
    t0 = time.perf_counter()
    with run.tracer.span("index.build"):
        build_index(
            assign_doc_ids_scalable(run.spark.read.parquet(corpus_path)),
            index_dir,
            docs_per_shard=_dps(n_docs, run.cpus),
            term_buckets=4,
            timings=timings,
        )
    return time.perf_counter() - t0, timings


def _qrels(spark, frame: pd.DataFrame, queries: pd.DataFrame, index_dir):
    """(query_id, positive_doc_id) for known-item queries over ``frame``;
    a file missing from the index has doc id -1 (the corpus check fails
    the run)."""
    docs = _docs_table(spark, index_dir).select("doc_id", "path").toPandas()
    doc_of_path = dict(zip(docs.path, docs.doc_id.astype("int64")))
    return spark.createDataFrame(pd.DataFrame({
        "query_id": queries["query_id"],
        "positive_doc_id": [
            doc_of_path.get(p, -1)
            for p in frame["path"].iloc[queries["doc"]]
        ],
    }))


def _oracle_check(run: Run, docs, got: dict, queries: dict) -> None:
    """Compare results of sampled queries with ``bm25_exact_topk``."""
    if not queries:
        return
    oracle = H.Oracle(docs)
    try:
        want = oracle.topk(run.spark, queries, K)
    finally:
        oracle.close()
    for qid in queries:
        if not H.rank_identical(got.get(qid, []), want.get(qid, [])):
            run.fail(f"query {qid} differs from the exact oracle")


def _mrr(run: Run, results, qrels) -> float:
    from dense_retriever_spark.operators.rank_metrics import (
        mrr,
        reciprocal_rank,
        results_as_ranked_lists,
    )

    with run.tracer.span("operators.rank_metrics"):
        rr = reciprocal_rank(
            results_as_ranked_lists(results, id_to_str=False), qrels, k=K
        )
        return float(mrr(rr).collect()[0]["mrr"] or 0.0)


def _finish(run: Run, index_ratio, op_s: list, per_s, build_per_s,
            mrr) -> None:
    """End-to-end metrics from the run's op timings (seconds); MRR@10 and
    the raw timings go beside the result. A metric whose operations all
    failed (None, or no timings) is left out: the run is failed anyway."""
    metrics = {
        "setup_s": (run.setup_s, "s"),
        "op_p50_ms": (H.median(op_s) * 1e3 if op_s else None, "ms"),
        "throughput_per_s": (per_s, "1/s"),
        "build_files_per_s": (build_per_s, "files/s"),
        "index_bytes_per_input_byte": (index_ratio, "ratio"),
    }
    run.e2e.update({k: v for k, v in metrics.items() if v[0] is not None})
    run.info.update(mrr_at_10=mrr, op_s=[round(x, 4) for x in op_s])


def _content_bytes(frame: pd.DataFrame) -> int:
    return int(frame.content.str.len().sum())


def _build_layers(run: Run, timings: dict, index_dir: str) -> None:
    from dense_retriever_spark.index.search import load_stats

    for phase in ("stage_docs", "resume_plan", "phase_a", "phase_b",
                  "stats_metrics"):
        run.layers[f"index.build.{phase}_s"] = (timings.get(phase, 0.0), "s")
    stats = load_stats(index_dir)
    m = stats["metrics"]
    run.layers["index.build.posting_bytes"] = (m["posting_bytes"], "bytes")
    run.layers["index.build.posting_rows"] = (m["posting_rows"], "count")
    run.layers["index.build.total_tokens"] = (m["total_tokens"], "count")
    run.layers["index.build.shards"] = (m["manifest_shards"], "count")
    run.layers["index.build.gens"] = (stats.get("n_gens", 0), "count")


# --- interactive ----------------------------------------------------------


def interactive(run: Run) -> None:
    """Closed loop, one client, one query per request at k=10 on the
    broadcast plane: 70% plain search, 10% language-filtered search, 10%
    boolean, 10% prefix (shuffled cycles of ten). Queries come Zipf-like
    from a pool of known-item queries, so the term-df cache mostly hits."""
    from pyspark.sql import functions as F

    from dense_retriever_spark.index.boolean import search_boolean
    from dense_retriever_spark.index.prefix import search_prefix
    from dense_retriever_spark.index.search import search

    spark = run.spark
    frame, tokens = run.corpus.docs(INTERACTIVE_DOCS)
    pool = run.corpus.queries(tokens, INTERACTIVE_POOL)
    corpus_path = os.path.join(run.work, "corpus")
    index_dir = os.path.join(run.work, "index")
    _write_corpus(spark, frame, corpus_path)

    build_s, timings = _build(run, corpus_path, index_dir, len(frame))
    run.setup_s += build_s
    run.log("set up")
    docs_tbl = _docs_table(spark, index_dir)
    docs = docs_tbl.select("doc_id", "lang").toPandas()
    lang_of = dict(zip(docs.doc_id, docs.lang))
    langs = sorted(set(lang_of.values()))

    rng = np.random.default_rng([run.seed, 10])
    zipf = _zipf_cdf(len(pool), 1.1)
    kinds = ["plain"] * 7 + ["filtered", "boolean", "prefix"]
    texts = pool["query"].tolist()
    lat: list[float] = []
    plain_rows: dict[int, list] = {}
    rid = 0
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end or rid < 10:
        for kind in rng.permutation(kinds):
            qi = int(_draw(rng, zipf, 1)[0])
            words = texts[qi].split()
            lang = str(rng.choice(langs))
            if kind == "boolean":
                text = " ".join(
                    ["+" + words[0]] + words[1:2] + ["-" + w for w in words[2:3]]
                )
            elif kind == "prefix":
                text = " ".join([words[0][:4] + "*"] + words[1:])
            else:
                text = texts[qi]
            rid += 1
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                qdf = _qdf(spark, [(rid, text)])
                if kind == "plain":
                    with run.tracer.span("index.search", rid):
                        rows = search(spark, index_dir, qdf, k=K).collect()
                elif kind == "filtered":
                    allowed = docs_tbl.filter(F.col("lang") == lang)
                    with run.tracer.span("index.search.filtered", rid):
                        rows = search(
                            spark, index_dir, qdf, k=K,
                            include_doc_ids=allowed.select("doc_id"),
                        ).collect()
                elif kind == "boolean":
                    with run.tracer.span("index.boolean", rid):
                        rows = search_boolean(
                            spark, index_dir, qdf, k=K
                        ).collect()
                else:
                    with run.tracer.span("index.prefix", rid):
                        rows = search_prefix(
                            spark, index_dir, qdf, k=K
                        ).collect()
            except Exception as e:  # counted as a failed request
                run.fail(f"{kind} request raised {type(e).__name__}: {e}")
                continue
            lat.append(time.perf_counter() - t0)
            if not run.check(rows, kind):
                continue
            if kind == "filtered" and any(
                lang_of.get(r["doc_id"]) != lang for r in rows
            ):
                run.fail("filtered result outside the allowed language")
            if kind == "plain":
                rows = [r.asDict() for r in rows]
                prev = plain_rows.setdefault(qi, rows)
                if [(r["doc_id"], r["score"]) for r in prev] != [
                    (r["doc_id"], r["score"]) for r in rows
                ]:
                    run.fail(f"repeated query {qi} changed its results")

    run.log(f"{len(lat)} requests served")
    run.rss.stop()
    # untimed: MRR@10 over the whole pool, and the oracle on a sample of
    # the plain requests the loop served
    qrels = _qrels(spark, frame, pool, index_dir)
    res = search(spark, index_dir, _qdf(
        spark, list(zip(pool["query_id"].tolist(), texts))
    ), k=K)
    mrr = _mrr(run, res, qrels)
    served = sorted(plain_rows)
    sample = [served[i] for i in rng.permutation(len(served))[:ORACLE_SAMPLE]]
    _oracle_check(
        run, _oracle_docs(run, docs_tbl, frame, "the docs table"),
        {qi: plain_rows[qi] for qi in sample}, {qi: texts[qi] for qi in sample},
    )
    _finish(run, H.dir_bytes(index_dir) / _content_bytes(frame), lat,
            len(lat) / sum(lat) if lat else None, len(frame) / build_s, mrr)
    if run.tracer.enabled:
        _build_layers(run, timings, index_dir)
        probe_layers(run, index_dir, frame, texts)


# --- offline --------------------------------------------------------------


def offline(run: Run) -> None:
    """The reference pipeline, as a fresh batch job runs it. Timed: one
    full ``build_index`` in the new JVM, then query batches on the
    distributed plane, each followed by MRR@10, until ``seconds`` have
    passed (at least ``MIN_BATCHES``). One untimed batch before them, part
    of the set-up, lets the search path warm up."""
    spark = run.spark
    frame, tokens = run.corpus.docs(OFFLINE_DOCS)
    batch = run.corpus.queries(tokens, OFFLINE_BATCH)
    corpus_path = os.path.join(run.work, "corpus")
    index_dir = os.path.join(run.work, "index")
    _write_corpus(spark, frame, corpus_path)
    texts = batch["query"].tolist()
    qdf = _qdf(spark, list(zip(batch["query_id"].tolist(), texts))).cache()
    qdf.count()

    run.attempted += 1
    try:
        build_s, timings = _build(run, corpus_path, index_dir, len(frame))
    except Exception as e:  # nothing to search: the run ends failed
        run.fail(f"build raised {type(e).__name__}: {e}")
        return
    run.log("built")
    qrels = _qrels(spark, frame, batch, index_dir).cache()
    qrels.count()
    warm: list[float] = []
    first = _batch(run, index_dir, qdf, qrels, len(texts), warm, [])
    run.log("warm batch")
    run.setup_s += sum(warm)

    times: list[float] = []
    mrrs: list[float] = []
    t_end = time.perf_counter() + run.seconds
    n = 0
    while time.perf_counter() < t_end or n < MIN_BATCHES:
        n += 1
        got = _batch(run, index_dir, qdf, qrels, len(texts), times, mrrs)
        if got is None:
            continue
        if first is None:
            first = got
        elif got != first:
            run.fail("a repeated batch changed its results")

    run.log(f"{len(times)} batches")
    run.rss.stop()
    rng = np.random.default_rng([run.seed, 20])
    sample = [int(i) for i in rng.permutation(len(texts))[:2 * ORACLE_SAMPLE]]
    _oracle_check(
        run, _oracle_docs(run, _docs_table(spark, index_dir), frame,
                          "the docs table"),
        first or {}, {q: texts[q] for q in sample},
    )
    run.log("checked")
    _finish(run, H.dir_bytes(index_dir) / _content_bytes(frame), times,
            len(texts) / H.median(times) if times else None,
            len(frame) / build_s, mrrs[-1] if mrrs else None)
    if run.tracer.enabled:
        _build_layers(run, timings, index_dir)
        probe_layers(run, index_dir, frame, texts)


def _batch(run: Run, index_dir: str, qdf, qrels, n: int, times: list,
           mrrs: list) -> dict | None:
    """One timed batch: distributed search of every query, then MRR@10.
    Appends its seconds and MRR; returns the checked results by query."""
    from dense_retriever_spark.index.search import search

    run.attempted += n
    t0 = time.perf_counter()
    try:
        with run.tracer.span("index.search", len(times)):
            res = search(run.spark, index_dir, qdf, k=K,
                         query_mode="distributed")
        m = _mrr(run, res, qrels)
    except Exception as e:
        run.failed += n - 1
        run.fail(f"batch raised {type(e).__name__}: {e}")
        return None
    times.append(time.perf_counter() - t0)
    mrrs.append(m)
    got = {q: [r.asDict() for r in rows]
           for q, rows in H.by_query(res.collect()).items()}
    res.unpersist()
    for qid in range(n):
        run.check(got.get(qid, []), "batch query")
    return got


# --- refresh --------------------------------------------------------------


def _key_order(frame: pd.DataFrame, tokens: list) -> tuple:
    """Rows (and their token lists) in (repo, path, commit) order with
    repeated contents dropped: how ``assign_doc_ids_scalable`` numbers a
    batch that ``refresh_rounds(dedup_exact=True)`` deduplicated."""
    f = frame.assign(_tokens=tokens)
    f = (
        f.sort_values(["repo", "path", "commit"])
        .drop_duplicates("content")
        .reset_index(drop=True)
    )
    return f.drop(columns="_tokens"), f["_tokens"].tolist()


def _arrivals(run: Run, w: int, seen: pd.DataFrame, rng):
    """Window ``w``'s arrivals: new files plus ~5% exact re-crawls of
    earlier files (same file and content, new commit). Returns (arrivals,
    new files, their tokens). ``seen`` is every file the refresh corpus
    should hold so far."""
    n_dup = int(REFRESH_WINDOW * REFRESH_DUP_SHARE)
    fresh, tokens = run.corpus.docs(REFRESH_WINDOW - n_dup, start=w * 1_000_000)
    dups = seen.iloc[rng.choice(len(seen), n_dup, replace=False)].copy()
    dups["commit"] = [f"{int(c):040x}" for c in rng.integers(0, 1 << 62, n_dup)]
    return pd.concat([fresh, dups], ignore_index=True), fresh, tokens


def _window(run: Run, w: int, ctx: dict, seen: pd.DataFrame, rng,
            n_reads: int = FRESH_PER_WINDOW):
    """Window ``w``: write its arrivals, drain_corpus_stream →
    refresh_rounds(start_round=w) → ack_corpus_batch, then ``n_reads``
    single-query searches for files that just arrived. Returns None if
    the write path raised, else what the window measured and ``seen``,
    the files the refresh corpus should hold after it."""
    from dense_retriever_spark.index.search import search
    from dense_retriever_spark.pipeline import refresh_rounds
    from dense_retriever_spark.streaming.refresh import (
        ack_corpus_batch,
        drain_corpus_stream,
    )

    spark = run.spark
    batch, fresh, ftokens = _arrivals(run, w, seen, rng)
    _write_corpus(spark, batch, ctx["arrivals"], mode="append")
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with run.tracer.span("streaming.refresh.drain", w):
            b = drain_corpus_stream(spark, ctx["arrivals"], ctx["staging"],
                                    ctx["ckpt"])
        with run.tracer.span("pipeline.refresh_round", w):
            rounds = refresh_rounds(
                spark, [b], ctx["rq"], ctx["rqrels"], ctx["wd"], k=K,
                docs_per_shard=ctx["dps"], dedup_exact=True, start_round=w,
            )
        with run.tracer.span("streaming.refresh.ack", w):
            ack_corpus_batch(spark, ctx["staging"], b)
    except Exception as e:
        run.fail(f"window {w} raised {type(e).__name__}: {e}")
        return None
    timings = rounds[-1]["build_timings"]
    out = {
        "docs_per_s": len(batch) / (time.perf_counter() - t0),
        "build_per_s": len(batch) / max(sum(timings.values()), 1e-3),
        "timings": timings,
        "read_s": [],
        "reads": {},
    }
    # the corpus keeps one file per content: fresh files whose content
    # is already there (the re-crawls among them) are dropped
    kept = (
        fresh[~fresh.content.isin(seen.content)]
        .sort_values(["repo", "path", "commit"])
        .drop_duplicates("content")
    )
    out["seen"] = pd.concat([seen, kept], ignore_index=True)

    fq = run.corpus.queries(ftokens, FRESH_PER_WINDOW, stream=100 + w,
                            start=(w - 1) * FRESH_PER_WINDOW)
    for i, text in enumerate(fq["query"].tolist()[:n_reads]):
        qid = FRESH_QID * w + i
        run.attempted += 1
        t1 = time.perf_counter()
        try:
            with run.tracer.span("index.search", qid):
                rows = search(
                    spark, ctx["index_dir"], _qdf(spark, [(qid, text)]), k=K
                ).collect()
        except Exception as e:
            run.fail(f"fresh search raised {type(e).__name__}: {e}")
            continue
        out["read_s"].append(time.perf_counter() - t1)
        if run.check(rows, "fresh search"):
            out["reads"][qid] = (text, [r.asDict() for r in rows])
    return out


def refresh(run: Run) -> None:
    """Writes beside reads. Set-up runs round 0 of ``refresh_rounds``
    (generational layout) and ``WARM_WINDOWS`` windows, so that the timed
    windows find the write and read paths warm. Each window writes new
    arrivals, runs drain_corpus_stream → refresh_rounds(start_round=i) →
    ack_corpus_batch, then sends single-query searches for files that
    just arrived."""
    from dense_retriever_spark.index.search import search
    from dense_retriever_spark.pipeline import refresh_rounds

    spark = run.spark
    wd = os.path.join(run.work, "refresh")
    index_dir = os.path.join(wd, "index")
    base, tokens = _key_order(*run.corpus.docs(REFRESH_BASE))
    queries = run.corpus.queries(tokens, REFRESH_QUERIES)
    rq = spark.createDataFrame(pd.DataFrame({
        "qid": queries["query_id"], "text": queries["query"],
    }))
    # round 0 numbers the deduplicated base in key order
    rqrels = spark.createDataFrame(pd.DataFrame({
        "qid": queries["query_id"], "doc_id": queries["doc"].astype("int64"),
    }))
    ctx = {
        "wd": wd, "index_dir": index_dir, "rq": rq, "rqrels": rqrels,
        "staging": os.path.join(wd, "staging"),
        "ckpt": os.path.join(wd, "ckpt"),
        "arrivals": os.path.join(run.work, "arrivals"),
        "dps": _dps(REFRESH_BASE, run.cpus),
    }
    base_path = os.path.join(run.work, "base")
    _write_corpus(spark, base, base_path)
    rng = np.random.default_rng([run.seed, 30])
    seen = base
    last_fresh: dict = {}
    t0 = time.perf_counter()
    refresh_rounds(spark, [spark.read.parquet(base_path)], rq, rqrels, wd,
                   k=K, docs_per_shard=ctx["dps"], dedup_exact=True)
    run.log("round 0")
    for w in range(1, WARM_WINDOWS + 1):
        got = _window(run, w, ctx, seen, rng, n_reads=0)
        if got is not None:
            seen = got["seen"]
    run.setup_s += time.perf_counter() - t0
    run.log("round 0 and the warm-up windows")

    docs_s, build_rates, fresh_s = [], [], []
    phases: list[dict] = []
    index_ratio = None
    run.timed_t0 = time.perf_counter()
    t_end = run.timed_t0 + run.seconds
    w = WARM_WINDOWS
    while time.perf_counter() < t_end or w < WARM_WINDOWS + MIN_WINDOWS:
        w += 1
        got = _window(run, w, ctx, seen, rng)
        if got is None:
            continue
        seen, last_fresh = got["seen"], got["reads"]
        docs_s.append(got["docs_per_s"])
        build_rates.append(got["build_per_s"])
        phases.append(got["timings"])
        run.round_build_s.append(sum(got["timings"].values()))
        fresh_s.extend(got["read_s"])
        if w == WARM_WINDOWS + MIN_WINDOWS:  # later windows vary with speed
            index_ratio = H.dir_bytes(index_dir) / _content_bytes(seen)

    run.log(f"{w - WARM_WINDOWS} timed windows")
    run.rss.stop()
    # untimed: a batch of the base queries on the final index (MRR@10 via
    # operators.rank_metrics), then the exact oracle over the files that
    # should be in the corpus, on a sample of that batch and the last
    # window's reads
    texts = queries["query"].tolist()
    qrels = spark.createDataFrame(pd.DataFrame({
        "query_id": queries["query_id"],
        "positive_doc_id": queries["doc"].astype("int64"),
    }))
    qdf = _qdf(spark, list(zip(queries["query_id"].tolist(), texts)))
    res = search(spark, index_dir, qdf, k=K, query_mode="distributed")
    mrr = _mrr(run, res, qrels)
    got = H.by_query(res.collect())
    res.unpersist()
    run.log("base batch")
    run.attempted += len(texts)
    for qid in range(len(texts)):
        run.check(got.get(qid, []), "base query")
    sample = [int(i) for i in rng.permutation(len(texts))[:ORACLE_SAMPLE]]
    got = {q: [r.asDict() for r in got.get(q, [])] for q in sample}
    want = {q: texts[q] for q in sample}
    for q, (text, rows) in last_fresh.items():
        got[q], want[q] = rows, text
    _oracle_check(
        run,
        _oracle_docs(run, spark.read.parquet(os.path.join(wd, "corpus")),
                     seen, "the refresh corpus"),
        got, want,
    )
    run.log("checked")
    _finish(run, index_ratio, fresh_s, H.median(docs_s) if docs_s else None,
            H.median(build_rates) if build_rates else None, mrr)
    run.info["window_docs_per_s"] = [round(x, 2) for x in docs_s]
    if run.tracer.enabled and phases:
        med = {p: H.median([t.get(p, 0.0) for t in phases]) for p in phases[0]}
        _build_layers(run, med, index_dir)
        probe_layers(run, index_dir, seen, texts)


WORKLOADS = {"interactive": interactive, "offline": offline, "refresh": refresh}


# --- traced-run layer probes ----------------------------------------------


def probe_layers(run: Run, index_dir: str, frame: pd.DataFrame,
                 texts: list[str]) -> None:
    """Per-layer numbers beyond the workload's own spans: tokenizer, codec
    and scorer throughput on this workload's documents and index, plus a
    few calls into any layer the workload does not exercise itself, so
    that every traced run reports every per-layer metric."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_flat

    t = run.tracer
    if "op_p50_ms" in run.e2e:
        run.layers["trace.op_p50_ms"] = run.e2e["op_p50_ms"]
    sample = frame["content"].iloc[:1000].reset_index(drop=True)
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        tokenize_code_flat(sample)
        rates.append(len(sample) / (time.perf_counter() - t0))
    run.layers["functions.tokenizer.docs_per_s"] = (H.median(rates), "docs/s")
    _codec_wand(run, index_dir, texts[:50])
    if not t.durations("index.boolean"):
        _probe_boolean_prefix(run, index_dir, texts[:1])
    if not t.durations("streaming.refresh.drain"):
        _probe_refresh(run, frame)
    if not t.durations("operators.rank_metrics"):
        raise RuntimeError("workload computed no rank metrics")

    for name in ("index.search", "index.boolean", "index.prefix"):
        run.layers[f"{name}.call_ms_p50"] = (
            H.median(t.durations(name)) * 1e3, "ms"
        )
        run.layers[f"{name}.jobs_per_call"] = (t.per_call(name, "jobs"), "count")
    run.layers["index.search.first_call_ms"] = (
        t.durations("index.search")[0] * 1e3, "ms"
    )
    for key in ("stages", "tasks"):
        run.layers[f"index.search.{key}_per_call"] = (
            t.per_call("index.search", key), "count"
        )
    run.layers["index.search.failed_tasks"] = (
        sum(c["failed_tasks"] for c in t.counts.get("index.search", [])),
        "count",
    )
    round_s = H.median(t.durations("pipeline.refresh_round", run.timed_t0))
    run.layers["streaming.refresh.drain_s"] = (
        H.median(t.durations("streaming.refresh.drain", run.timed_t0)), "s"
    )
    run.layers["streaming.refresh.ack_s"] = (
        H.median(t.durations("streaming.refresh.ack", run.timed_t0)), "s"
    )
    run.layers["pipeline.refresh_round_s"] = (round_s, "s")
    run.layers["pipeline.refresh_eval_s"] = (
        round_s - H.median(run.round_build_s), "s"
    )
    run.layers["operators.rank_metrics.mrr_s"] = (
        H.median(t.durations("operators.rank_metrics")), "s"
    )
    run.layers["trace.bookkeeping_s"] = (t.bookkeeping_s, "s")


def _codec_wand(run: Run, index_dir: str, texts: list[str]) -> None:
    """Decode the real posting blobs of sampled query terms
    (``index.codec.decode_postings``) and score them shard by shard
    (``index.wand.score_query_exact``), on the driver."""
    from pyspark.sql import functions as F

    from dense_retriever_spark.functions.tokenizer import tokenize_code_series
    from dense_retriever_spark.index.build import IndexPaths
    from dense_retriever_spark.index.codec import decode_postings
    from dense_retriever_spark.index.search import load_stats
    from dense_retriever_spark.index.wand import idf, score_query_exact

    stats = load_stats(index_dir)
    terms = sorted(
        {t for ts in tokenize_code_series(pd.Series(texts)) for t in ts}
    )
    rows = (
        run.spark.read.parquet(IndexPaths(index_dir).shards)
        .filter(F.col("term").isin(terms))
        .select("shard", "term", "df", "postings")
        .collect()
    )
    n_post = sum(int(r["df"]) for r in rows)
    decode_s, decoded = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        decoded = [decode_postings(r["postings"]) for r in rows]
        decode_s.append(time.perf_counter() - t0)
    run.layers["index.codec.postings_per_s"] = (
        n_post / max(H.median(decode_s), 1e-9), "1/s"
    )
    by_shard: dict[int, list] = {}
    for r, (ids, tfs, dls) in sorted(
        zip(rows, decoded), key=lambda x: x[0]["term"]
    ):
        by_shard.setdefault(int(r["shard"]), []).append(
            (r["term"], idf(float(r["df"]), float(stats["n_docs"])),
             ids, tfs, dls)
        )
    dps = stats["docs_per_shard"]
    score_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        for shard, term_rows in by_shard.items():
            score_query_exact(term_rows, shard * dps, dps, K, stats["k1"],
                              stats["b"], stats["avgdl"])
        score_s.append(time.perf_counter() - t0)
    run.layers["index.wand.postings_per_s"] = (
        n_post / max(H.median(score_s), 1e-9), "1/s"
    )


def _probe_boolean_prefix(run: Run, index_dir: str, texts: list[str]) -> None:
    from dense_retriever_spark.index.boolean import search_boolean
    from dense_retriever_spark.index.prefix import search_prefix

    for i, text in enumerate(texts):
        words = text.split()
        with run.tracer.span("index.boolean", i):
            search_boolean(run.spark, index_dir, _qdf(
                run.spark, [(i, "+" + " ".join(words))]), k=K).collect()
        with run.tracer.span("index.prefix", i):
            search_prefix(run.spark, index_dir, _qdf(
                run.spark, [(i, words[0][:4] + "*")]), k=K).collect()


def _probe_refresh(run: Run, frame: pd.DataFrame) -> None:
    """One small refresh round (100 arrivals into an empty corpus) for
    workloads that do not refresh."""
    from dense_retriever_spark.pipeline import refresh_rounds
    from dense_retriever_spark.streaming.refresh import (
        ack_corpus_batch,
        drain_corpus_stream,
    )

    spark = run.spark
    wd = os.path.join(run.work, "probe-refresh")
    staging, ckpt = os.path.join(wd, "staging"), os.path.join(wd, "ckpt")
    rq = spark.createDataFrame(pd.DataFrame({"qid": [0], "text": ["def"]}))
    rqrels = spark.createDataFrame(pd.DataFrame({"qid": [0], "doc_id": [0]}))
    _write_corpus(spark, frame.iloc[:100], os.path.join(wd, "arrivals"))
    with run.tracer.span("streaming.refresh.drain", 0):
        b = drain_corpus_stream(spark, os.path.join(wd, "arrivals"),
                                staging, ckpt)
    with run.tracer.span("pipeline.refresh_round", 0):
        rounds = refresh_rounds(spark, [b], rq, rqrels, wd, k=K,
                                docs_per_shard=128, dedup_exact=True)
    with run.tracer.span("streaming.refresh.ack", 0):
        ack_corpus_batch(spark, staging, b)
    run.round_build_s.append(sum(rounds[-1]["build_timings"].values()))
    shutil.rmtree(wd, ignore_errors=True)
