"""Cross-index merge: combine independently built BM25 indexes into one.

The north rule names "posting-list construction, merge, compression, top-k
scoring" as the engine's core. At 10^12-file scale the natural build topology
is MANY independent builds — one per dataset / crawl / tenant, each with its
own dense doc-id space starting at 0 — followed by a merge into one serving
index. ``merge_indexes`` is that merge, and it is a *byte-level* operation:

- doc ids of source i are rebased by ``doc_off[i] = shard_off[i] *
  docs_per_shard`` — shard-aligned, so source shard ``s`` becomes merged
  shard ``shard_off[i] + s`` and every shard keeps its doc-range invariant;
- posting blobs are rebased in O(1) each (codec.rebase_postings rewrites the
  single absolute v-byte at the head of the delta stream; tf/dl bytes are
  untouched) — the merge never decodes a posting list;
- the global (term, df, cf) dictionary, stats.json, and structured build
  metrics are produced by delegating to ``build_index`` over the rebased
  docs table: the recomputed per-shard fingerprints match the manifest rows
  this module writes, so phase A resumes as a complete no-op and only phase
  B (the term-stats aggregate) runs.
  All of build_index's crash-safety, orphan cleanup, and metrics machinery
  is reused instead of re-implemented.

Scale shape: one narrow scan+write per source for shards (no shuffle — rows
keep their shard partitioning), one metadata-sized fingerprint aggregation,
and phase B's usual (term, df, cf) aggregate. Nothing is proportional to
corpus content except the one docs-table write that every build pays.

The merged index is a fully standard index: searchable on both query planes,
resumable (a later incremental ``build_index`` over the merged docs table +
appended rows rebuilds only new shards), compactable, reshardable.

Reference analog: the reference rebuilds its FAISS artifact from scratch to
combine corpora (/root/reference/dense_retriever/transforms/ann_index.py:87-98
is a full re-add); this module replaces that with an O(metadata + shard
bytes) structural merge.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.index import fs
from dense_retriever_spark.index.build import (
    MANIFEST_SCHEMA,
    IndexPaths,
    _fingerprint_df,
    _manifest_df,
    build_index,
)
from dense_retriever_spark.index.search import load_stats


def _rebase_udf(off: int):
    """Arrow-batched rebase of posting blobs by a fixed offset — O(1) python
    work per blob (one v-byte rewrite) + a memcpy; never decodes postings."""

    def fn(blobs: pd.Series) -> pd.Series:
        from dense_retriever_spark.index.codec import rebase_postings

        return blobs.map(lambda b: rebase_postings(b, off))

    return F.pandas_udf(fn, "binary")


def _validate_sources(spark: SparkSession, src_dirs: list[str]) -> list[dict]:
    """Fail fast on structurally incompatible sources (same class of checks
    build_index runs on resume: a silent mismatch would mis-route doc ids or
    mis-decode blobs). Each source is read through ``load_stats``, which
    refuses another posting format."""
    if len(src_dirs) < 2:
        raise ValueError("merge_indexes needs at least two source indexes")
    for d in src_dirs:
        if not fs.exists(IndexPaths(d).stats, spark):
            raise ValueError(f"no index at {d} (missing stats.json)")
    stats = [load_stats(d) for d in src_dirs]
    key_fields = ("docs_per_shard", "k1", "b")
    first = stats[0]
    for d, st in zip(src_dirs[1:], stats[1:]):
        for f_ in key_fields:
            if st.get(f_) != first.get(f_):
                raise ValueError(
                    f"index at {d} has {f_}={st.get(f_)!r}, expected "
                    f"{first.get(f_)!r} (from {src_dirs[0]}) — merged shards "
                    "must share one doc-range granularity and BM25 parameters"
                )
        if bool(st.get("positions", False)) != bool(
            first.get("positions", False)
        ):
            raise ValueError(
                f"index at {d} has positions={bool(st.get('positions', False))}, "
                f"expected {bool(first.get('positions', False))} — merged "
                "shards cannot mix positional and non-positional rows"
            )
        if sorted(st.get("stopwords", []) or []) != sorted(
            first.get("stopwords", []) or []
        ):
            raise ValueError(
                f"index at {d} has stopwords={st.get('stopwords')}, "
                f"expected {first.get('stopwords')} — merged shards must "
                "share one vocabulary filter"
            )
    return stats


def merge_indexes(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    content_source: DataFrame | None = None,
    term_buckets: int | None = None,
    timings: dict | None = None,
    build_tag: str = "merge",
) -> IndexPaths:
    """Merge ``src_dirs`` (each a complete index) into a new index at
    ``out_dir``. Sources are untouched; ``out_dir`` must not already hold an
    index (merging INTO a live index would break its committed doc-id space).

    ``content_source``: required iff any source's docs table is
    metadata-only (no ``content`` column) — same contract as build_index.

    Returns the merged IndexPaths. The merged docs table keeps every source
    row with ``doc_id += doc_off[i]`` — because offsets are shard-aligned,
    source i's id gaps (compaction) and partial tail shard carry over as
    plain id-space gaps, which every reader already supports.
    """
    paths = IndexPaths(out_dir)
    if fs.exists(paths.stats, spark):
        raise ValueError(
            f"{out_dir} already holds an index — merge writes a fresh one"
        )
    stats = _validate_sources(spark, src_dirs)
    docs_per_shard = int(stats[0]["docs_per_shard"])
    buckets = term_buckets or int(stats[0].get("term_buckets", 8))

    shard_off: list[int] = []
    acc = 0
    for st in stats:
        shard_off.append(acc)
        acc += int(st["n_shards"])

    fs.mkdirs(out_dir, spark)

    # --- shards: rebased byte-level copy, one narrow job per source -------
    # Source rows already live in shard=<s> partitions; the write keeps that
    # partitioning (shard is just shifted), so no shuffle moves posting
    # bytes — each task streams its input partition to its output partition.
    merged_shards = None
    for st, src, s_off in zip(stats, src_dirs, shard_off):
        sp = IndexPaths(src)
        d_off = s_off * docs_per_shard
        df = spark.read.parquet(sp.shards).withColumn(
            "shard", F.col("shard").cast("long") + F.lit(s_off)
        )
        if d_off:
            df = df.withColumn("postings", _rebase_udf(int(d_off))("postings"))
        merged_shards = df if merged_shards is None else merged_shards.unionByName(df)
    (
        merged_shards.write.mode("overwrite")
        .partitionBy("shard")
        .parquet(paths.shards)
    )

    # --- docs: rebased union (ids shift; content/sha/keys unchanged) ------
    merged_docs = None
    for st, src, s_off in zip(stats, src_dirs, shard_off):
        sp = IndexPaths(src)
        d_off = s_off * docs_per_shard
        df = (
            spark.read.parquet(sp.docs)
            .drop("shard")  # re-derived by build_index from the new ids
            .withColumn("doc_id", F.col("doc_id") + F.lit(int(d_off)))
        )
        merged_docs = df if merged_docs is None else merged_docs.unionByName(
            df, allowMissingColumns=False
        )
    if "content" not in merged_docs.columns and content_source is None:
        raise ValueError(
            "sources carry metadata-only docs tables — pass content_source "
            "(the immutable input table) so the merged index can stage docs"
        )

    # --- manifest: carried rows + fingerprints recomputed over NEW ids ----
    # The fingerprint is sha256 over sorted (doc_id:content_sha) per shard —
    # ids changed, so it MUST be recomputed (with the same function
    # build_index's resume uses, so the delegation below sees every merged
    # shard as complete). Metadata-sized aggregation: never touches content.
    staged_like = merged_docs.select(
        "doc_id",
        "content_sha",
        (F.col("doc_id") / docs_per_shard).cast("long").alias("shard"),
    )
    fp_df = _fingerprint_df(staged_like).withColumnRenamed("shard", "shard_id")
    merged_manifest = None
    for st, src, s_off in zip(stats, src_dirs, shard_off):
        sp = IndexPaths(src)
        m = _manifest_df(spark, sp)
        if m is None:
            raise ValueError(f"index at {src} has no manifest — cannot merge")
        m = m.withColumn("shard_id", F.col("shard_id") + F.lit(s_off))
        merged_manifest = m if merged_manifest is None else merged_manifest.unionByName(m)
    # inner join: a stale manifest row whose docs vanished (source compacted
    # its corpus but never rebuilt) gets no fingerprint and is dropped here;
    # build_index's orphan cleanup then reaps its shard dir.
    cols = [c for c in MANIFEST_SCHEMA.split(", ")]
    col_names = [c.split(" ")[0] for c in cols]
    out_manifest = (
        merged_manifest.drop("input_fingerprint")
        .join(fp_df, "shard_id")
        .withColumn("input_fingerprint", F.col("fp"))
        .select(*col_names)
    )
    (
        out_manifest.write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(paths.manifest)
    )

    # --- delegate: docs staging, resume no-op, phase B, stats, metrics ----
    # build_index re-stages docs from merged_docs (ids fixed — no
    # re-assignment happens; it selects the existing doc_id column),
    # recomputes fingerprints, finds every manifest row complete, skips
    # phase A entirely, and runs the standard phase B + stats commit.
    return build_index(
        merged_docs,
        out_dir,
        docs_per_shard=docs_per_shard,
        term_buckets=buckets,
        k1=float(stats[0].get("k1", 1.2)),
        b=float(stats[0].get("b", 0.75)),
        timings=timings,
        build_tag=build_tag,
        content_source=content_source,
        positions=bool(stats[0].get("positions", False)),
        stopwords=stats[0].get("stopwords") or None,
    )
