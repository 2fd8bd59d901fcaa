"""Sources (S1-S11), streaming, CLI, plan assertions."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_readers_roundtrip(spark, tmp_path):
    from dense_retriever_spark.sources.readers import (
        read_docs_jsonl,
        read_qrels,
        read_queries_tsv,
        write_jsonl,
    )

    qrels_path = str(tmp_path / "qrels.txt")
    with open(qrels_path, "w") as f:
        f.write("1 0 D10 1\n2 0 D20 1\n")
    qr = read_qrels(spark, qrels_path)
    assert [(r["qid"], r["doc_id"]) for r in qr.orderBy("qid").collect()] == [
        (1, "D10"), (2, "D20"),
    ]

    q_path = str(tmp_path / "queries.tsv")
    with open(q_path, "w") as f:
        f.write("1\talpha beta\n2\tgamma\n")
    qs = read_queries_tsv(spark, q_path)
    assert qs.count() == 2 and qs.schema["text"].dataType.simpleString() == "string"

    docs_path = str(tmp_path / "docs.json")
    with open(docs_path, "w") as f:
        f.write('{"doc_id": "D1555982", "text": "url<sep>title<sep>body"}\n')
    docs = read_docs_jsonl(spark, docs_path)
    row = docs.collect()[0]
    assert row["doc_id"] == "D1555982" and "<sep>" in row["text"]

    out = str(tmp_path / "out_jsonl")
    write_jsonl(docs, out)
    assert spark.read.json(out).count() == 1


def test_readers_uri_scheme(spark, tmp_path):
    """S13: every reader/writer takes a scheme-qualified Hadoop FileSystem
    URI — the identical code path serves s3a:// / gs:// on a cluster with
    the connector jars on the classpath; the sandbox exercises the explicit
    file:// scheme (no object store reachable here)."""
    from dense_retriever_spark.sources.readers import read_parquet, write_parquet

    uri = f"file://{tmp_path}/t"
    write_parquet(spark.range(10).withColumnRenamed("id", "doc_id"), uri)
    assert read_parquet(spark, uri).count() == 10


def test_package_zip_importable(tmp_path):
    """S14 + north star 'packaged for spark-submit --py-files': the zip built
    by tools/package.py must be importable stand-alone (zipimport), exactly
    how executors receive --py-files."""
    import subprocess
    import sys

    sys.path.insert(0, "/root/repo/tools")
    try:
        import package as pkgmod
    finally:
        sys.path.pop(0)
    out = str(tmp_path / "engine.zip")
    pkgmod.main(out)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import dense_retriever_spark.schemas as s; "
        "import dense_retriever_spark.index.codec as c; "
        "print(len(s.CORPUS_SCHEMA.fields), c.HEADER_BYTES)"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, out],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "5 32"


def test_streaming_windowed_counts_batch_parity(spark, sf_dir="/root/testdata/sf0.001"):
    from dense_retriever_spark.streaming.refresh import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev)
    row = out.agg(F.sum("n").alias("total")).collect()[0]
    assert row["total"] == ev.count()  # tumbling windows partition all events


def test_cli_end_to_end(spark, tmp_path):
    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import synth_corpus

    corpus_dir = str(tmp_path / "corpus")
    synth_corpus(spark, 300).write.parquet(corpus_dir)
    idx = str(tmp_path / "idx")
    cli.main(
        [
            "build-index", "--corpus", corpus_dir, "--index-dir", idx,
            "--docs-per-shard", "128", "--term-buckets", "2",
        ]
    )
    assert os.path.exists(f"{idx}/stats.json")

    qpath = str(tmp_path / "q.tsv")
    with open(qpath, "w") as f:
        f.write("1\tblockMaxWand posting_list\n2\tdef import\n")
    rdir = str(tmp_path / "results")
    cli.main(["search", "--index-dir", idx, "--queries", qpath,
              "--top-n", "5", "--out", rdir])
    res = spark.read.parquet(rdir)
    assert res.count() > 0

    qrels_path = str(tmp_path / "qrels.txt")
    top1 = res.filter("rank = 1").collect()[0]
    with open(qrels_path, "w") as f:
        f.write(f"{top1['query_id']} 0 D{top1['doc_id']} 1\n")
    eval_out = str(tmp_path / "eval")
    cli.main(["evaluate", "--results", rdir, "--qrels", qrels_path,
              "--out", eval_out])
    # the qrels positive IS the rank-1 doc -> MRR 1.0 for that query
    import csv

    with open([os.path.join(eval_out, f) for f in os.listdir(eval_out)
               if f.endswith(".csv")][0]) as f:
        rows = list(csv.DictReader(f))
    assert any(float(r["reciprocal_rank"]) == 1.0 for r in rows)

    # preprocessing commands (reference cli/preprocessing.py parity):
    # construct-samples → build-train-set → tokenize-set → extract-texts
    samples_dir = str(tmp_path / "samples")
    cli.main(["construct-samples", "--queries", qpath, "--qrels", qrels_path,
              "--out", samples_dir])
    samples = spark.read.parquet(samples_dir)
    assert {"query", "query_id", "positive_doc_id"} <= set(samples.columns)

    # build-train-set needs long ids in results + samples; reuse search
    # results (doc_id long) with a long-id samples table
    samples_long = str(tmp_path / "samples_long")
    samples.withColumn(
        "positive_doc_id", F.expr("CAST(substr(positive_doc_id, 2) AS LONG)")
    ).write.parquet(samples_long)
    train_dir = str(tmp_path / "train")
    cli.main(["build-train-set", "--samples", samples_long, "--results", rdir,
              "--docs", f"{idx}/docs", "--text-col", "content",
              "--out", train_dir])
    train = spark.read.parquet(train_dir)
    assert set(train.columns) == {"query", "doc", "label"}
    assert train.filter("label = 0").count() > 0

    tok_dir = str(tmp_path / "tokenized")
    cli.main(["tokenize-set", "--dataset", train_dir, "--text-col", "doc",
              "--max-length", "16", "--out", tok_dir])
    tok = spark.read.parquet(tok_dir)
    assert tok.filter(F.size("tokens") > 16).count() == 0
    assert tok.filter(F.size("tokens") > 0).count() == tok.count()

    texts_dir = str(tmp_path / "texts")
    cli.main(["extract-texts", "--dataset", f"{idx}/docs",
              "--id-col", "doc_id", "--text-col", "content",
              "--out", texts_dir])
    assert spark.read.parquet(texts_dir).columns == ["doc_id", "content"]

    cache_dir = str(tmp_path / "term_cache")
    cli.main(["build-term-cache", "--index-dir", idx, "--min-df", "2",
              "--out", cache_dir])
    cache = spark.read.parquet(cache_dir)
    assert cache.columns == ["term", "df", "cf"]
    assert cache.filter(F.col("df") < 2).count() == 0


def test_cli_refresh(spark, tmp_path):
    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import synth_corpus

    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    synth_corpus(spark, 120, seed=3).write.parquet(b1)
    synth_corpus(spark, 80, seed=4).write.parquet(b2)
    qpath = str(tmp_path / "q.tsv")
    with open(qpath, "w") as f:
        f.write("1\tblockMaxWand posting_list\n2\tdef import\n")
    qrels_path = str(tmp_path / "qrels.txt")
    with open(qrels_path, "w") as f:
        f.write("1 0 5 1\n2 0 9 1\n")
    workdir = str(tmp_path / "wd")
    cli.main(["refresh", "--corpus-batches", f"{b1},{b2}",
              "--queries", qpath, "--qrels", qrels_path,
              "--workdir", workdir, "--top-n", "5",
              "--docs-per-shard", "64"])
    assert os.path.exists(f"{workdir}/metrics_round1.json")
    assert spark.read.parquet(f"{workdir}/train_set_round1").count() > 0


def test_plan_quality_bm25(spark):
    """Scale assertions on the flagship plan: broadcast join present, filter
    pushdown reaches the parquet scan, codegen covers the pipeline."""
    from dense_retriever_spark.contract import q01_bm25_topk
    from dense_retriever_spark.plans import (
        codegen_stage_count,
        scan_pushdown_info,
        uses_broadcast_join,
    )

    df = q01_bm25_topk(spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)
    assert codegen_stage_count(df) >= 3

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pruned = docs.filter(F.col("lang") == "de").select("doc_id", "n_chars")
    info = scan_pushdown_info(pruned)
    assert info["pushed_filters"] and "lang" in info["pushed_filters"]
    assert info["read_schema"] and "text" not in info["read_schema"]


def test_cli_ann_index_end_to_end(spark, tmp_path):
    """build-ann-index → ann-search CLI pair over the embeddings table; the
    prebuilt artifact must reproduce the inline operator exactly."""
    from pyspark.sql import functions as F

    from dense_retriever_spark import cli
    from dense_retriever_spark.operators.similarity import ivf_ann_topk

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ann_idx")
    cli.main(["build-ann-index", "--embeddings", emb_path,
              "--index-dir", idx, "--n-centroids", "8"])

    emb = spark.read.parquet(emb_path)
    qdir = str(tmp_path / "annq")
    emb.filter(F.col("vec_id") < 5).write.parquet(qdir)
    out = str(tmp_path / "annr")
    cli.main(["ann-search", "--index-dir", idx, "--queries", qdir,
              "--top-n", "3", "--nprobe", "4", "--out", out])

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    want = sorted(map(tuple, ivf_ann_topk(
        emb, qv, k=3, n_centroids=8, nprobe=4
    ).collect()))
    assert got == want and len(got) > 0


def test_spark_submit_py_files_package(tmp_path):
    """North-rule execution mode: package the engine (tools/package.py) and
    run a real `spark-submit --py-files engine.zip` job in a fresh process
    from a DIFFERENT cwd — the engine must import from the zip alone and
    build+search end-to-end. Closes the 'archive sink untested' gap (S14)."""
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "engine.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "package.py"), zip_path],
        check=True, cwd=repo,
    )
    driver = tmp_path / "job.py"
    driver.write_text(
        "import json\n"
        "from dense_retriever_spark.session import get_spark\n"
        "from dense_retriever_spark.corpus import synth_corpus, ingest, "
        "synth_queries\n"
        "from dense_retriever_spark.index.build import build_index\n"
        "from dense_retriever_spark.index.search import search\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        "import sys\n"
        "idx = sys.argv[1]\n"
        "build_index(ingest(synth_corpus(spark, 80)), idx,\n"
        "            docs_per_shard=64, term_buckets=2)\n"
        "n = search(spark, idx, synth_queries(spark, 5), k=3).count()\n"
        "print('SUBMIT_RESULT', json.dumps({'rows': n}))\n"
        "spark.stop()\n"
    )
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", zip_path,
         str(driver), str(tmp_path / "sub_idx")],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if "SUBMIT_RESULT" in l]
    assert line, out.stdout[-2000:]
    import json as _json

    assert _json.loads(line[0].split("SUBMIT_RESULT ", 1)[1])["rows"] == 15


def test_cli_stream_refresh(spark, tmp_path):
    """stream-refresh = drain -> one refresh round -> ack, runnable per
    arrival window. Second invocation with no new files is a cheap no-op;
    a third after more files arrive indexes only the new content."""
    import json as _json

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import synth_corpus

    in_dir = str(tmp_path / "in")
    staging = str(tmp_path / "st")
    ckpt = str(tmp_path / "ck")
    workdir = str(tmp_path / "wd")
    qpath = str(tmp_path / "q.tsv")
    with open(qpath, "w") as f:
        f.write("1\tdef import\n2\treturn class\n")
    qrels_path = str(tmp_path / "qrels.txt")
    with open(qrels_path, "w") as f:
        f.write("1 0 5 1\n2 0 9 1\n")

    base = ["stream-refresh", "--input-dir", in_dir, "--staging-dir", staging,
            "--checkpoint-dir", ckpt, "--queries", qpath,
            "--qrels", qrels_path, "--workdir", workdir,
            "--top-n", "5", "--docs-per-shard", "64"]

    synth_corpus(spark, 60, seed=31).write.mode("append").parquet(in_dir)
    cli.main(base)
    m0 = _json.load(open(f"{workdir}/metrics_round0.json"))
    assert m0["n_docs"] == 60

    # no new arrivals: no-op round (no metrics_round written for it)
    cli.main(base)
    assert not os.path.exists(f"{workdir}/metrics_round1.json")

    # 20 re-crawls + 25 new docs arrive -> next run indexes only the 25,
    # CONTINUING the round numbering (round-1 artifacts accumulate next to
    # round 0's instead of overwriting them)
    synth_corpus(spark, 20, seed=31).write.mode("append").parquet(in_dir)
    synth_corpus(spark, 25, seed=32).write.mode("append").parquet(in_dir)
    cli.main(base)
    corpus = spark.read.parquet(f"{workdir}/corpus")
    assert corpus.count() == 85
    assert corpus.select("doc_id").distinct().count() == 85
    m1 = _json.load(open(f"{workdir}/metrics_round1.json"))
    assert m1["round"] == 1 and m1["n_docs"] == 85
    assert os.path.exists(f"{workdir}/metrics_round0.json")  # not clobbered
    assert os.path.exists(f"{workdir}/train_set_round1")


def test_cli_index_stats(spark, tmp_path, capsys):
    """index-stats: read-only inspect verb — stats, per-tag manifest
    roll-up, and the should_reshard verdict a scheduler gates on."""
    import json as _json

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import build_index

    idx = str(tmp_path / "is_idx")
    build_index(ingest(synth_corpus(spark, 120, seed=9)), idx,
                docs_per_shard=32, term_buckets=2, build_tag="r0")
    cli.main(["index-stats", "--index-dir", idx])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stats"]["n_docs"] == 120
    assert out["manifest_by_tag"][0]["build_tag"] == "r0"
    assert out["manifest_by_tag"][0]["shards"] == 4
    assert isinstance(out["should_reshard"], bool)


def test_cli_merge_indexes_and_phrase_search(spark, tmp_path, capsys):
    """merge-indexes + phrase-search verbs end-to-end: two positional
    half-corpus indexes merged via the CLI, then phrase-searched via the
    CLI against the merged artifact."""
    import json as _json

    from pyspark.sql import functions as F

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import build_index

    full = ingest(synth_corpus(spark, 128, seed=21)).localCheckpoint(
        eager=True
    )
    a = full.filter(F.col("doc_id") < 64)
    b = full.filter(F.col("doc_id") >= 64).withColumn(
        "doc_id", F.col("doc_id") - 64
    )
    ia, ib, im = (str(tmp_path / x) for x in ("a", "b", "m"))
    build_index(a, ia, docs_per_shard=32, term_buckets=2, positions=True)
    build_index(b, ib, docs_per_shard=32, term_buckets=2, positions=True)
    cli.main(["merge-indexes", "--src", ia, "--src", ib, "--out-dir", im,
              "--build-tag", "cli_merge"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stats"]["n_docs"] == 128
    assert out["stats"]["positions"] is True
    assert out["sources"] == [ia, ib]

    qpath = str(tmp_path / "phrases.tsv")
    with open(qpath, "w") as f:
        f.write("0\ttable\n1\tzzznotaterm never\n")
    rpath = str(tmp_path / "phrase_res")
    cli.main(["phrase-search", "--index-dir", im, "--queries", qpath,
              "--top-n", "5", "--out", rpath])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    res = spark.read.parquet(rpath)
    assert out2["rows"] == res.count()
    assert res.filter(F.col("query_id") == 1).count() == 0


def test_cli_boolean_prefix_facets(spark, tmp_path, capsys):
    import json as _json

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import build_index

    corpus = ingest(synth_corpus(spark, 128, seed=9)).localCheckpoint(
        eager=True
    )
    idx = str(tmp_path / "idx")
    build_index(corpus, idx, docs_per_shard=32, term_buckets=2)

    qpath = str(tmp_path / "bool.tsv")
    with open(qpath, "w") as f:
        f.write("0\t+merge batch\n1\t+zzznotaterm merge\n")
    rdir = str(tmp_path / "bool_res")
    cli.main(["search", "--index-dir", idx, "--queries", qpath,
              "--syntax", "boolean", "--top-n", "5", "--out", rdir])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    res = spark.read.parquet(rdir)
    assert out["rows"] == res.count() > 0
    assert res.filter(F.col("query_id") == 1).count() == 0  # OOV required

    ppath = str(tmp_path / "pfx.tsv")
    with open(ppath, "w") as f:
        f.write("0\tsym000* merge\n")
    pdir = str(tmp_path / "pfx_res")
    cli.main(["search", "--index-dir", idx, "--queries", ppath,
              "--syntax", "prefix", "--top-n", "5", "--out", pdir])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["rows"] == spark.read.parquet(pdir).count() > 0

    # facet the boolean results over lang (docs metadata = the corpus table)
    docs_dir = str(tmp_path / "docsmeta")
    corpus.select("doc_id", "lang").write.parquet(docs_dir)
    fdir = str(tmp_path / "facets")
    cli.main(["facets", "--results", rdir, "--docs", docs_dir,
              "--columns", "lang", "--out", fdir])
    out3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    fres = spark.read.parquet(fdir)
    assert out3["rows"] == fres.count() > 0
    total = fres.agg(F.sum("n_docs").alias("s")).collect()[0]["s"]
    assert total == res.select("doc_id").distinct().count() or total == res.count()


def test_cli_fuzzy_syntax(spark, tmp_path, capsys):
    import json as _json

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import build_index

    corpus = ingest(synth_corpus(spark, 128, seed=11)).localCheckpoint(
        eager=True
    )
    idx = str(tmp_path / "idx")
    build_index(corpus, idx, docs_per_shard=32, term_buckets=2)

    qpath = str(tmp_path / "fz.tsv")
    with open(qpath, "w") as f:
        f.write("0\tmerg~ batch\n1\tzzzzzz~\n")
    rdir = str(tmp_path / "fz_res")
    cli.main(["search", "--index-dir", idx, "--queries", qpath,
              "--syntax", "fuzzy", "--max-edits", "1",
              "--top-n", "5", "--out", rdir])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    res = spark.read.parquet(rdir)
    assert out["rows"] == res.count() > 0
    assert res.filter(F.col("query_id") == 1).count() == 0


def test_cli_count_and_suggest(spark, tmp_path, capsys):
    import json as _json

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import ingest, synth_corpus
    from dense_retriever_spark.index.build import build_index

    corpus = ingest(synth_corpus(spark, 128, seed=13)).localCheckpoint(
        eager=True
    )
    idx = str(tmp_path / "idx")
    build_index(corpus, idx, docs_per_shard=32, term_buckets=2)

    qpath = str(tmp_path / "q.tsv")
    with open(qpath, "w") as f:
        f.write("0\t+merge batch\n1\tzzznotaterm\n")
    cdir = str(tmp_path / "counts")
    cli.main(["count-matches", "--index-dir", idx, "--queries", qpath,
              "--out", cdir])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    res = {int(r["query_id"]): int(r["n_matches"])
           for r in spark.read.parquet(cdir).collect()}
    assert out["rows"] == 2 and res[0] > 0 and res[1] == 0

    tpath = str(tmp_path / "terms.txt")
    with open(tpath, "w") as f:
        f.write("merg\nzzqqzz\n")
    sdir = str(tmp_path / "sugs")
    cli.main(["suggest-terms", "--index-dir", idx, "--terms", tpath,
              "--max-edits", "1", "--top-n", "3", "--out", sdir])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sugs = spark.read.parquet(sdir).collect()
    assert out2["rows"] == len(sugs) > 0
    assert any(r["suggestion"] == "merge" for r in sugs)


def test_cli_fields_mlt_metrics_synonyms(spark, tmp_path):
    """Round-7 session-4 verbs: search-fields, mlt, rank-metrics, and the
    search --synonyms flag — each end-to-end through cli.main."""
    import json as _json

    from pyspark.sql import functions as F

    from dense_retriever_spark import cli
    from dense_retriever_spark.corpus import synth_corpus
    from dense_retriever_spark.index.fields import derive_field

    corpus = synth_corpus(spark, 200)
    tdir, bdir = str(tmp_path / "tc"), str(tmp_path / "bc")
    derive_field(corpus, "content", 10, head=True, out_col="content2").drop(
        "content"
    ).withColumnRenamed("content2", "content").write.parquet(tdir)
    derive_field(corpus, "content", 10, head=False, out_col="content2").drop(
        "content"
    ).withColumnRenamed("content2", "content").write.parquet(bdir)
    ti, bi = str(tmp_path / "ti"), str(tmp_path / "bi")
    for src, dst in ((tdir, ti), (bdir, bi)):
        cli.main(["build-index", "--corpus", src, "--index-dir", dst,
                  "--docs-per-shard", "64", "--term-buckets", "2"])

    qpath = str(tmp_path / "q.tsv")
    with open(qpath, "w") as f:
        f.write("1\tdef import\n")
    fdir = str(tmp_path / "fres")
    cli.main(["search-fields", "--field", f"title={ti}:2.0",
              "--field", f"body={bi}", "--queries", qpath,
              "--top-n", "5", "--out", fdir])
    fres = spark.read.parquet(fdir)
    assert fres.count() > 0
    assert set(fres.columns) == {"query_id", "doc_id", "score", "rank"}

    # mlt over the title index, seeded by the top field hit
    seed_doc = fres.filter("rank = 1").collect()[0]["doc_id"]
    sdir = str(tmp_path / "seeds")
    spark.createDataFrame(
        [(0, int(seed_doc))], "query_id long, doc_id long"
    ).write.parquet(sdir)
    mdir = str(tmp_path / "mres")
    cli.main(["mlt", "--index-dir", ti, "--seeds", sdir,
              "--top-n", "5", "--max-terms", "5", "--out", mdir])
    mres = spark.read.parquet(mdir)
    assert mres.count() > 0
    assert seed_doc not in {r["doc_id"] for r in mres.collect()}

    # rank-metrics: judge the field results against themselves (rel = 1 for
    # the top-2 docs) -> recall@5 = 1.0
    qrels_dir = str(tmp_path / "grels")
    fres.filter("rank <= 2").select(
        "query_id", "doc_id", F.lit(1).alias("rel")
    ).write.parquet(qrels_dir)
    rmdir = str(tmp_path / "rm")
    cli.main(["rank-metrics", "--results", fdir, "--qrels", qrels_dir,
              "--k", "5", "--out", rmdir])
    import csv
    import os as _os

    rows = []
    for fn in _os.listdir(rmdir):
        if fn.endswith(".csv"):
            with open(_os.path.join(rmdir, fn)) as f:
                rows += list(csv.DictReader(f))
    assert rows and all(float(r["recall"]) == 1.0 for r in rows)

    # --synonyms flag on plain search
    syn_dir = str(tmp_path / "syn")
    spark.createDataFrame(
        [("def", "import")], "term string, variant string"
    ).write.parquet(syn_dir)
    q2 = str(tmp_path / "q2.tsv")
    with open(q2, "w") as f:
        f.write("1\tdef\n")
    sres_dir = str(tmp_path / "sres")
    cli.main(["search", "--index-dir", bi, "--queries", q2, "--top-n", "5",
              "--synonyms", syn_dir, "--out", sres_dir])
    assert spark.read.parquet(sres_dir).count() > 0
