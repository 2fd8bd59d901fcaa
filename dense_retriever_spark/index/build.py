"""Sharded inverted-index build — the rebuild of the reference's index `fit`.

Reference analog: ``ANNIndex._fit_transformer_fn`` builds one in-RAM FAISS flat
index from all embeddings on one node
(/root/reference/dense_retriever/transforms/ann_index.py:87-91) and OOMs at
scale (np.vstack of every shard, :64). The rebuild is a two-phase distributed
build over (doc-range × term-bucket) groups:

PHASE A  (doc-partitioned serving index, ``shards/``)
  ingested corpus --(doc_id, content, shard=doc_id // docs_per_shard)-->
  groupBy(shard).applyInPandas(_build_shard_from_content) → one posting row
  per (shard, term) with df, cf and delta+varbyte postings. Tokenization, tf
  run-length counting, and encoding all run inside
  the per-shard Arrow batch, so the build's ONLY wide shuffle moves compact
  text rows (measured ~2x faster than exploding tokens JVM-side, and it
  scales: the shuffle volume is the corpus, not the token stream).
  The doc-range shard IS the hot-term salt: a term with df≈N ('def',
  'import') contributes at most docs_per_shard postings to any one group, so
  no reducer can be overloaded no matter how skewed the term distribution.

PHASE B  (global term dictionary, ``global/``)
  phase-A (term, df, cf) columns --groupBy(term).agg(sum df, sum cf)-->
  global (term, df, cf). A plain aggregate: partial sums run map-side, so
  the exchange moves dictionary-sized rows and never a posting byte. Search
  scores shards/ and reads global/ only for df, so no second copy of the
  postings is kept. Each build writes its dictionary into a fresh
  ``global/gen-<n>/`` directory; stats.json names it, so the atomic
  stats.json write is the commit and a reader never sees a half-written
  dictionary (copy-forward: the previous generation is swept one build
  later).

Resumability: the build loops over shard batches; each completed batch writes
its manifest rows (shard id, term range, row counts, bytes, input fingerprint,
status) into a PARQUET MANIFEST TABLE partitioned by shard — written by
executors, latest-wins via dynamic partition overwrite. On restart, a shard is
considered done only if its manifest row is status=complete AND its stored
input_fingerprint equals the fingerprint recomputed from the CURRENT staged
corpus — a changed input forces a rebuild of exactly the changed shards. The
driver never materializes per-shard state: done/todo are DataFrame joins and
the batch loop collects one summary row per BATCH (O(n_shards / batch)), so
resume state stays executor-side at 10^8+ shards.

Determinism: the ingested corpus is STAGED to parquet (docs table, including
content) before any shard work, and every downstream job (fingerprints,
phase A, phase B) reads the staged table. Doc ids are therefore assigned by
exactly one Spark job — repartitionByRange's sampled bounds can differ between
executions, so re-evaluating the assignment lineage in a second job could
yield different ids (see assign_doc_ids_scalable).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark import BM25_B, BM25_K1
from dense_retriever_spark.index import fs
import struct

from dense_retriever_spark.index.codec import _varbyte_encode_raw

POSTING_ROW_SCHEMA = (
    "shard long, term string, df long, cf long, postings binary"
)


# --- doc-id assignment --------------------------------------------------------

def assign_doc_ids_scalable(corpus: DataFrame, partitions: int = 0) -> DataFrame:
    """Dense deterministic doc_id without a global single-partition sort.

    Two cheap jobs: (1) range-repartition + sort within partitions by
    (repo, path, commit) and count rows per partition; (2) add the partition
    offset to the within-partition row index. This is the classic
    zipWithIndex shape expressed with DataFrames + one tiny driver collect —
    O(P) driver state, no global sort, scales to 10^12 rows.
    """
    from pyspark import StorageLevel

    keys = [F.col("repo"), F.col("path"), F.col("commit")]
    p = partitions or corpus.sparkSession.sparkContext.defaultParallelism
    # pid must be MATERIALIZED as a column in the range-partitioned stage:
    # a second spark_partition_id() call downstream would evaluate AFTER the
    # window's exchange and return the post-shuffle partition id (wrong ids).
    #
    # PERSIST before the counts job: repartitionByRange samples its bounds
    # per-execution (seeded by the RDD id), so without persist the counts job
    # and the downstream projection could see DIFFERENT partitionings →
    # duplicate/missing doc ids. DISK_ONLY blocks are not evicted under memory
    # pressure; callers should additionally materialize the result to parquet
    # (build_index stages it to the docs table) before long pipelines.
    arranged = (
        corpus.repartitionByRange(p, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("pid", F.spark_partition_id())
        .persist(StorageLevel.DISK_ONLY)
    )
    counts = arranged.groupBy("pid").count().collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["count"]
    # offsets ride as a broadcast-joined (pid, offset) relation, NOT an
    # F.create_map literal: a literal map puts 2P entries in the plan
    # expression tree, which at 10^5+ input partitions is megabytes of plan
    # the driver analyzes/serializes per build (round-4 verdict). The join
    # is on the already-materialized pid column, small side broadcast.
    off_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(int(pid), int(off)) for pid, off in offsets.items()],
            "pid int, _pid_offset long",
        )
    )

    # Within-partition row index WITHOUT a shuffle: the persisted partitions
    # are already sorted by the keys, so the stored row order IS the
    # row_number() order — monotonically_increasing_id's low 33 bits are
    # exactly the within-partition record number, a narrow JVM projection.
    # The round-7 implementation used row_number() OVER (PARTITION BY pid
    # ORDER BY keys), which re-exchanged + re-sorted the ENTIRE corpus
    # (content included) because Catalyst cannot see that the persisted
    # blocks are already clustered by pid and sorted — one full corpus
    # shuffle per build for an id the narrow form computes identically
    # (asserted by the determinism/density tests). Evaluated directly on
    # ``arranged`` (before any join) so the partition ids match ``pid``.
    local_idx = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    out = (
        arranged.withColumn("_local_idx", local_idx)
        .join(off_df, "pid")
        .withColumn(
            "doc_id",
            (F.col("_pid_offset") + F.col("_local_idx")).cast("long"),
        )
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .drop("pid", "_pid_offset", "_local_idx")
    )
    # hand the persist HANDLE to callers: unpersist() must target the exact
    # DataFrame that was persisted (calling it on this derived plan is a
    # no-op) — build_index frees it right after staging. CAVEAT: any derived
    # DataFrame (.withColumn, .select, ...) DROPS this attribute — callers
    # that transform the result must keep their own reference to THIS
    # DataFrame and unpersist via it (see pipeline.refresh_rounds).
    out._persisted_src = arranged
    return out


# --- paths & manifest ---------------------------------------------------------

@dataclass
class IndexPaths:
    root: str

    @property
    def shards(self) -> str:
        return os.path.join(self.root, "shards")

    @property
    def global_dir(self) -> str:
        return os.path.join(self.root, "global")

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    def dictionary(self, stats: dict) -> str:
        """The (term, df, cf) dictionary directory ``stats`` commits."""
        return os.path.join(self.global_dir, stats["dictionary"])


MANIFEST_SCHEMA = (
    "term_lo string, term_hi string, row_count long, bytes long, "
    "cf_sum long, input_fingerprint string, status string, "
    "build_tag string, shard_id long"
)


def _manifest_df(spark: SparkSession, paths: IndexPaths) -> DataFrame | None:
    """The manifest as a DataFrame (None if no manifest exists yet).

    A parquet table partitioned by shard_id, written by EXECUTORS via dynamic
    partition overwrite — latest build of a shard wins, the driver holds no
    per-shard state. This replaces the round-1 one-JSON-file-per-shard layout
    that put O(n_shards) files + dict entries on the driver."""
    if not fs.is_dir(paths.manifest, spark):
        return None
    df = spark.read.schema(MANIFEST_SCHEMA).parquet(paths.manifest)
    return df.withColumn("shard_id", F.col("shard_id").cast("long"))


def _read_manifest(paths: IndexPaths, spark: SparkSession | None = None) -> dict[int, dict]:
    """TEST/INSPECTION helper: collect the manifest into a driver dict.
    O(n_shards) by construction — never used by the build/resume path."""
    from pyspark.sql import SparkSession as _S

    spark = spark or _S.getActiveSession()
    df = _manifest_df(spark, paths)
    if df is None:
        return {}
    return {int(r["shard_id"]): r.asDict() for r in df.collect()}


def _fingerprint_df(staged: DataFrame) -> DataFrame:
    """(shard, fp): per-shard sha256 over sorted doc_id:content_sha pairs —
    the per-row invariant (BASELINE.json:input_hint) rolled up per shard.
    Group size is bounded by docs_per_shard, never by corpus size."""
    return staged.groupBy("shard").agg(
        F.sha2(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "content_sha"))),
                    lambda s: F.concat_ws(":", s["doc_id"], s["content_sha"]),
                ),
            ),
            256,
        ).alias("fp")
    )


# --- phase A: per-shard postings (tokenize inside the group) ------------------

def _build_shard_from_content(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-arg applyInPandas wrapper (two params would make Spark treat
    the function as the (key, pdf) grouped-map form)."""
    return _build_shard_rows(pdf, False)


def _build_shard_from_content_positional(pdf: pd.DataFrame) -> pd.DataFrame:
    return _build_shard_rows(pdf, True)


def _make_shard_builder(positions: bool, stopwords):
    """Phase-A builder closure carrying the index's stopword set (numpy str
    array or None); module-level wrappers above stay for the no-stopword
    default path and external callers."""
    if stopwords is None or len(stopwords) == 0:
        return (
            _build_shard_from_content_positional
            if positions
            else _build_shard_from_content
        )

    def _f(pdf: pd.DataFrame) -> pd.DataFrame:
        return _build_shard_rows(pdf, positions, stopwords)

    return _f


def _build_shard_rows(
    pdf: pd.DataFrame, positions: bool, stopwords=None
):
    """applyInPandas body for ONE doc-range shard, fed RAW TEXT.

    Tokenization happens here (vectorized pandas tokenizer), so the build's
    only wide shuffle moves compact (doc_id, content) rows — ~5x fewer
    Arrow-transferred values than exploding tokens JVM-side. tf counting is a
    vectorized run-length encode over (term_code, doc_id). The doc-range shard
    IS the hot-term salt: a term's group-local df is bounded by docs_per_shard
    regardless of global frequency (SURVEY.md §7.4).

    ``positions=True`` (phrase-capable indexes) adds a ``positions`` column:
    per-term position stream in canonical token order (codec.
    encode_position_stream), split at query time by the posting blob's own
    tf stream. Costs one extra v-byte stream per posting — the scoring path
    never reads it (column pruning keeps it out of every non-phrase scan).

    ``stopwords`` (numpy str array): tokens in the set are dropped from the
    stream BEFORE tf/df/cf/dl — the Lucene-StopFilter semantics where the
    analyzer never emits them, so document length and avgdl count indexed
    terms only (consistent with the cf-derived avgdl). Positions keep their
    ORIGINAL canonical indices (gap semantics): a phrase cannot match
    across a dropped stopword."""
    from dense_retriever_spark.functions.tokenizer import tokenize_code_flat

    cols = ["shard", "term", "df", "cf", "postings"]
    if positions:
        cols = cols + ["positions"]
    empty = pd.DataFrame(columns=cols)
    if len(pdf) == 0:
        return empty
    # Arrow-kernel tokenization: flat (doc_idx, term_code) streams, no
    # per-token Python strings — the token multiset matches
    # tokenize_code_series exactly (order differs; irrelevant for tf/dl).
    # With positions, each token also carries its canonical in-doc index.
    if positions:
        doc_idx, codes, uniques, dl, tok_pos = tokenize_code_flat(
            pdf["content"], with_positions=True
        )
    else:
        doc_idx, codes, uniques, dl = tokenize_code_flat(pdf["content"])
        tok_pos = None
    if codes.size == 0:
        return empty
    if stopwords is not None and len(stopwords):
        terms_all = (
            uniques.to_numpy()
            if hasattr(uniques, "to_numpy")
            else np.asarray(uniques)
        )
        stop_code = np.isin(terms_all, stopwords)
        if stop_code.any():
            keep = ~stop_code[codes]
            doc_idx, codes = doc_idx[keep], codes[keep]
            if tok_pos is not None:
                tok_pos = tok_pos[keep]
            # dl counts INDEXED terms only (see docstring) — recompute
            dl = np.bincount(doc_idx, minlength=dl.shape[0]).astype(dl.dtype)
            if codes.size == 0:
                return empty
    doc_ids_in = pdf["doc_id"].to_numpy(np.int64)
    shard = int(pdf["shard"].iloc[0])
    out = []
    doc_ids_r = doc_ids_in[doc_idx]
    dls_r = dl[doc_idx]
    # lexsort is STABLE: within a (term, doc) run the original stream order
    # survives, and the canonical order is ascending-position per doc — so
    # tok_pos[order] is already the per-doc ascending position stream.
    order = np.lexsort((doc_ids_r, codes))
    codes = codes[order]
    doc_ids = doc_ids_r[order]
    dls_raw = dls_r[order]
    pos_sorted = tok_pos[order] if positions else None
    # collapse runs of identical (term, doc_id) -> tf
    new_term = np.r_[True, codes[1:] != codes[:-1]]
    new_pair = new_term | np.r_[True, doc_ids[1:] != doc_ids[:-1]]
    starts = np.flatnonzero(new_pair)
    tfs = np.diff(np.r_[starts, codes.size])
    p_codes = codes[starts]
    p_docs = doc_ids[starts]
    p_dls = dls_raw[starts]
    p_terms = uniques.to_numpy() if hasattr(uniques, "to_numpy") else np.asarray(uniques)
    p_terms = p_terms[p_codes]
    bounds = np.flatnonzero(np.r_[True, p_codes[1:] != p_codes[:-1]])
    bounds = np.r_[bounds, p_codes.size]
    # BATCHED stream encode (round 8): one v-byte pass per stream over the
    # WHOLE shard, split per term at value boundaries — v-byte is per-value
    # independent and each term segment's first delta is its absolute doc
    # id, so the slices are byte-identical to per-term encode_postings
    # (asserted by the codec round-trip tests). The former per-term calls
    # (4 × |vocab| numpy invocations per shard) dominated phase A's
    # non-tokenizer time.
    seg_starts = bounds[:-1]
    deltas = p_docs.copy()
    deltas[1:] -= p_docs[:-1]
    deltas[seg_starts] = p_docs[seg_starts]
    ids_buf, ids_ends = _varbyte_encode_raw(deltas.astype(np.uint64))
    tf_buf, tf_ends = _varbyte_encode_raw(tfs.astype(np.uint64))
    dl_buf, dl_ends = _varbyte_encode_raw(p_dls.astype(np.uint64))
    ids_off = np.concatenate(([0], ids_ends))
    tf_off = np.concatenate(([0], tf_ends))
    dl_off = np.concatenate(([0], dl_ends))
    cf_sums = np.add.reduceat(tfs, seg_starts)
    if positions:
        # position deltas reset at every (term, doc) run start (= the
        # per-doc absolute-first rule of encode_position_stream)
        pdel = pos_sorted.copy()
        pdel[1:] -= pos_sorted[:-1]
        pdel[starts] = pos_sorted[starts]
        pos_buf, pos_ends = _varbyte_encode_raw(pdel.astype(np.uint64))
        pos_off = np.concatenate(([0], pos_ends))
        tok_bounds = np.r_[starts, codes.size][bounds]
    for i in range(bounds.size - 1):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        ids_b = ids_buf[ids_off[lo]:ids_off[hi]]
        tf_b = tf_buf[tf_off[lo]:tf_off[hi]]
        dl_b = dl_buf[dl_off[lo]:dl_off[hi]]
        blob = (
            struct.pack("<QQQQ", hi - lo, ids_b.size, tf_b.size, dl_b.size)
            + ids_b.tobytes()
            + tf_b.tobytes()
            + dl_b.tobytes()
        )
        row = (shard, p_terms[lo], hi - lo, int(cf_sums[i]), blob)
        if positions:
            row = row + (
                pos_buf[
                    pos_off[tok_bounds[i]]:pos_off[tok_bounds[i + 1]]
                ].tobytes(),
            )
        out.append(row)
    return pd.DataFrame(out, columns=cols)


# --- phase B: the (term, df, cf) dictionary --------------------------------

def _term_stats_df(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """The (term, df, cf) dictionary over every shard — phase B. A plain
    groupBy aggregate is partial-aggregated map-side, so the exchange moves
    only (term, df, cf) rows — a term-dictionary-sized cost at any index
    size — and parquet never reads the postings column (column pruning)."""
    return spark.read.parquet(paths.shards).groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )


# --- the build ----------------------------------------------------------------

def build_index(
    ingested: DataFrame,
    index_dir: str,
    docs_per_shard: int = 2048,
    term_buckets: int = 8,
    k1: float = BM25_K1,
    b: float = BM25_B,
    shard_batch: int | None = None,
    timings: dict | None = None,
    build_tag: str = "",
    content_source: DataFrame | None = None,
    positions: bool | None = None,
    stopwords: list[str] | None = None,
) -> IndexPaths:
    """Build the full index from an ingested corpus (doc_id + content_sha).

    ``positions``: ``True`` makes the index phrase-capable — every shard
    posting row carries a per-term position stream (see
    _build_shard_from_content), consumed only by index/phrase.py. ``None``
    inherits the existing index's setting (like ``stopwords``); the flag
    cannot change across incremental builds of one index (shards would mix
    layouts) — resharding to a fresh directory is the migration path.

    ``stopwords``: terms dropped from the token stream at index time
    (Lucene-StopFilter semantics — dl/avgdl count indexed terms only, so
    building with stopwords is score-identical to building over text with
    those words removed; positions keep their original indices, so phrases
    cannot match across a dropped word). Recorded in stats.json; ``None``
    inherits the existing index's set, and an incremental build cannot
    change it (shards would mix vocabularies). The 100 TB lever: the most
    frequent tokens dominate postings bytes.

    ``shard_batch``: how many doc-range shards to build per driver round
    (None = all in one Spark job). Smaller batches = finer-grained
    resumability; each round commits its shards' parquet + manifest rows
    before the next starts.

    ``content_source``: storage-scale knob. By default the staged docs table
    CARRIES content — one extra full write, zero extra shuffles, and every
    downstream job is a pure function of one parquet table. At 100 TB that
    write doubles corpus storage; instead pass the IMMUTABLE input table
    (read fresh, e.g. ``spark.read.parquet(corpus_path)``) here: the docs
    table then stores only metadata (ids, keys, sha — tiny), and phase A
    fetches content by joining ``content_source`` on the natural key
    (repo, path, commit) — one corpus-sized shuffle instead of one
    corpus-sized write. Determinism holds because the join key targets an
    immutable table, not a re-runnable lineage; natural keys must be unique
    (the same requirement doc-id assignment already has).

    Every build re-aggregates the whole (term, df, cf) dictionary into a
    fresh ``global/gen-<n>/`` and commits it by naming it in stats.json
    (``"dictionary"``). The directory the previous stats.json named is kept
    until the next build, so a reader still serving off that view keeps
    every file it can see; every other directory in global/ (superseded or
    left by a crashed build) is swept after the commit.
    """
    import time

    t = timings if timings is not None else {}
    t0 = time.time()

    def mark(name):
        nonlocal t0
        t[name] = round(time.time() - t0, 3)
        t0 = time.time()

    spark = ingested.sparkSession
    paths = IndexPaths(index_dir)
    # all driver-side metadata I/O goes through the Hadoop FileSystem API, so
    # index_dir may be any Spark-supported scheme (file://, hdfs://, s3a://)
    fs.mkdirs(index_dir, spark)

    # FAIL FAST on incompatible prior state (round-2 ADVICE): resuming into
    # an index written by an older posting format, or with a different
    # docs_per_shard, would silently mis-decode blobs / mis-route doc ids.
    from dense_retriever_spark.index.codec import FORMAT_VERSION

    prev_positions = None
    prev_stop: list[str] | None = None
    prev_dict: str | None = None
    if fs.exists(paths.stats, spark):
        prev = json.loads(fs.read_text(paths.stats, spark))
        pv = prev.get("format_version", 1)
        if pv != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has posting format v{pv}; this build "
                f"writes v{FORMAT_VERSION} — use a fresh index directory"
            )
        if prev.get("docs_per_shard") != docs_per_shard and fs.is_dir(
            paths.manifest, spark
        ):
            raise ValueError(
                f"index at {index_dir} was built with docs_per_shard="
                f"{prev.get('docs_per_shard')}, this build uses "
                f"{docs_per_shard}; shard boundaries would not line up — "
                "pass the original value or use a fresh index directory"
            )
        prev_positions = bool(prev.get("positions", False))
        if (
            positions is not None
            and bool(positions) != prev_positions
            and fs.is_dir(paths.manifest, spark)
        ):
            raise ValueError(
                f"index at {index_dir} was built with "
                f"positions={prev_positions}; an incremental build cannot "
                f"switch to positions={bool(positions)} — resumed shards "
                "would mix positional and non-positional rows. Rebuild into "
                "a fresh directory (or reshard) to change it"
            )
        prev_stop = sorted(prev.get("stopwords", []) or [])
        if (
            stopwords is not None
            and sorted(set(stopwords)) != prev_stop
            and fs.is_dir(paths.manifest, spark)
        ):
            raise ValueError(
                f"index at {index_dir} was built with stopwords="
                f"{prev_stop}; an incremental build cannot change the set — "
                "resumed shards would mix vocabularies. Rebuild into a "
                "fresh directory to change it"
            )
        # the copy-forward sweep must keep the dictionary the CURRENTLY
        # committed stats.json names (a serving reader's view)
        prev_dict = prev.get("dictionary")
    pos_flag = bool(positions) if positions is not None else bool(prev_positions)
    stop_list = (
        sorted(set(stopwords)) if stopwords is not None else (prev_stop or [])
    )

    # STAGE: materialize the ingested corpus exactly once (doc dimension table
    # WITH content, partitioned by shard for per-batch pruning). Every
    # downstream job reads this parquet, so doc ids are fixed by a single
    # execution — re-evaluating the assignment lineage (repartitionByRange
    # samples bounds per-execution) can NOT produce divergent ids between the
    # docs table and the postings. Content rides along so phase A never
    # touches the (potentially nondeterministic) input lineage either; column
    # pruning keeps content out of every scan that doesn't ask for it.
    doc_cols = ["doc_id", "repo", "path", "commit", "lang", "content_sha"]
    if content_source is None:
        doc_cols.insert(5, "content")
    inc = ingested.select(*doc_cols).withColumn(
        "shard", (F.col("doc_id") / docs_per_shard).cast("long")
    )
    # INCREMENTAL staging (round 8): an existing docs table is diffed
    # per-shard — sha-pair fingerprints of the CURRENT docs partitions vs
    # the ingested corpus — and only changed/new shard partitions are
    # rewritten (dynamic partition overwrite), vanished ones deleted. A
    # steady-state refresh window thus writes O(window) doc bytes instead
    # of re-writing the whole corpus every build; the comparison itself is
    # metadata-sized (two (doc_id, content_sha) scans — content is never
    # read from the old table). Correctness matches the phase-A resume
    # convention exactly: a shard whose (doc_id, content_sha) set is
    # unchanged keeps its partition verbatim (the fingerprint is computed
    # from the LIVE docs table, not the manifest, so a crash between a
    # docs write and its manifest commit can never leave a silently-stale
    # partition). The diff evaluates ``ingested`` twice (fingerprints +
    # write) — the same deterministic-re-evaluation requirement resume
    # already places on it (parquet read / persisted assignment).
    fp_reuse = None
    incremental = False
    if fs.is_dir(paths.docs, spark):
        try:
            old_docs = spark.read.parquet(paths.docs)
        except Exception:
            old_docs = None
        if old_docs is not None and sorted(old_docs.columns) == sorted(
            inc.columns
        ):
            from pyspark import StorageLevel

            fp_new = _fingerprint_df(inc).persist(StorageLevel.DISK_ONLY)
            fp_old = _fingerprint_df(
                old_docs.withColumn("shard", F.col("shard").cast("long"))
            ).withColumnRenamed("fp", "fp_old")
            diff = fp_new.join(fp_old, "shard", "full_outer")
            # bounded driver probe, ONE job: changed/new shards (rewrite)
            # and vanished shards (partition delete) together. Collected
            # BEFORE any overwrite — the diff lineage reads paths.docs,
            # whose cached file listing the dynamic overwrite invalidates.
            # Incremental staging only pays off when few shards changed;
            # past the cap (or when most of the table changed) the plain
            # full overwrite is both simpler and faster.
            cap = 100_000
            flagged = diff.filter(
                F.col("fp").isNull()
                | F.col("fp_old").isNull()
                | (F.col("fp") != F.col("fp_old"))
            ).select(
                "shard", F.col("fp").isNull().alias("gone")
            ).limit(cap + 1).collect()
            changed_head = [r for r in flagged if not r["gone"]]
            n_total = fp_new.count()
            if (
                len(flagged) <= cap
                and 2 * len(changed_head) < max(n_total, 1)
            ):
                vanished = [r for r in flagged if r["gone"]]
                if changed_head:
                    ch = spark.createDataFrame(
                        [(int(r["shard"]),) for r in changed_head],
                        "shard long",
                    )
                    (
                        inc.join(F.broadcast(ch), "shard", "left_semi")
                        .write.mode("overwrite")
                        .partitionBy("shard")
                        .option("partitionOverwriteMode", "dynamic")
                        .parquet(paths.docs)
                    )
                for r in vanished:
                    fs.delete(
                        os.path.join(paths.docs, f"shard={int(r['shard'])}"),
                        spark,
                    )
                # the diff's own read of paths.docs cached a file listing
                # that the dynamic overwrite just invalidated — drop it, or
                # the staged re-read lists deleted part files
                spark.catalog.refreshByPath(paths.docs)
                fp_reuse = fp_new  # == fingerprint of the staged table
                incremental = True
            else:
                fp_new.unpersist()
    if not incremental:
        (
            inc.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(paths.docs)
        )
    # free the doc-id assignment's DISK_ONLY blocks (the staged parquet now
    # owns the data); the handle targets the DataFrame that was persisted
    getattr(ingested, "_persisted_src", ingested).unpersist()
    staged = spark.read.parquet(paths.docs).withColumn(
        "shard", F.col("shard").cast("long")
    )

    # N = plain row count — no tokenization pass needed: avgdl is derived
    # AFTER phase A from the shards' cf sums. N counts ALL docs (incl.
    # zero-token ones) — same convention as the oracle's corpus_stats.
    # n_shards comes from the MAX doc id, not the count: after a compaction
    # the id space has gaps, and ceil(count/dps) would undercount trailing
    # shards (for dense ids the two are identical).
    agg = staged.agg(
        F.count("*").alias("n"), F.max("doc_id").alias("mx")
    ).collect()[0]
    n_docs = int(agg["n"])
    max_id = agg["mx"]
    n_shards = (
        max(1, math.ceil((int(max_id) + 1) / docs_per_shard))
        if max_id is not None
        else 1
    )
    mark("stage_docs")

    # per-shard input fingerprint — stays a DataFrame (never collected).
    # An incremental staging pass already computed it (from the ingested
    # rows == the staged rows); reuse the persisted relation instead of
    # re-aggregating the staged table.
    fp_df = fp_reuse if fp_reuse is not None else _fingerprint_df(staged)

    # RESUME: a shard is done iff manifest says complete AND the stored
    # fingerprint equals the one recomputed from the CURRENT staged corpus —
    # stale shards (input changed between runs) are rebuilt, not silently
    # merged. All of this is joins; the driver sees only per-BATCH summaries.
    manifest = _manifest_df(spark, paths)
    if manifest is not None:
        # ORPHAN cleanup (round-2 ADVICE): shards present in the manifest but
        # absent from the CURRENT corpus's fingerprint set (the corpus shrank
        # — e.g. compaction killed every doc of a shard) would otherwise be
        # merged into global/ and served as ghost results. The collect is
        # O(#vanished shards) — zero on every append-only/resume build.
        orphans = (
            manifest.select("shard_id")
            .distinct()
            .join(
                fp_df.select(F.col("shard").alias("shard_id")),
                "shard_id",
                "left_anti",
            )
            .collect()
        )
        for r in orphans:
            sid = int(r["shard_id"])
            fs.delete(os.path.join(paths.shards, f"shard={sid}"), spark)
            fs.delete(os.path.join(paths.manifest, f"shard_id={sid}"), spark)
        if orphans:
            manifest = _manifest_df(spark, paths)
    if manifest is not None:
        done_keys = manifest.filter(F.col("status") == "complete").select(
            F.col("shard_id").alias("shard"),
            F.col("input_fingerprint").alias("fp"),
        )
        todo_df = fp_df.join(done_keys, ["shard", "fp"], "left_anti")
    else:
        todo_df = fp_df
    from pyspark import StorageLevel

    # persisted so the fingerprint aggregation runs once, not once per batch;
    # O(n_shards) ROWS but distributed across executors, never on the driver
    todo_df = todo_df.select("shard", "fp").persist(StorageLevel.DISK_ONLY)

    batch = shard_batch or n_shards
    # one row per batch range that still has work: O(n_shards / batch) driver
    batch_rows = (
        todo_df.groupBy(
            (F.col("shard") / F.lit(batch)).cast("long").alias("batch_id")
        )
        .count()
        .collect()
    )
    if fp_reuse is not None:
        # todo_df (persisted above) is materialized now — the incremental-
        # staging fingerprints are no longer needed
        fp_reuse.unpersist()
    mark("resume_plan")

    for br in sorted(batch_rows, key=lambda r: r["batch_id"]):
        lo = int(br["batch_id"]) * batch
        hi = lo + batch
        in_range = (F.col("shard") >= lo) & (F.col("shard") < hi)
        todo_part = F.broadcast(todo_df.filter(in_range))  # ≤ batch rows
        # the build's ONE wide shuffle moves compact (doc_id, content) rows to
        # their doc-range shard; tokenize + tf-count + encode all run inside
        # the per-shard Arrow batch (_build_shard_from_content). Partition
        # pruning on the staged table limits the scan to this batch's range.
        batch_ids = staged.filter(in_range).join(
            todo_part.select("shard"), "shard", "left_semi"
        )
        if content_source is None:
            part = batch_ids.select("shard", "doc_id", "content")
        else:
            # metadata-only docs table: fetch content from the immutable
            # input by natural key (one corpus shuffle, no storage doubling)
            part = batch_ids.select("shard", "doc_id", "repo", "path", "commit").join(
                content_source.select("repo", "path", "commit", "content"),
                ["repo", "path", "commit"],
            ).select("shard", "doc_id", "content")
        builder = _make_shard_builder(
            pos_flag, np.asarray(stop_list) if stop_list else None
        )
        schema_a = POSTING_ROW_SCHEMA + (
            ", positions binary" if pos_flag else ""
        )
        rows = part.groupBy("shard").applyInPandas(builder, schema=schema_a)
        (
            rows.sortWithinPartitions("shard", "term")
            .write.mode("overwrite")
            .partitionBy("shard")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(paths.shards)
        )
        # commit manifest rows for this batch — executor-written parquet,
        # dynamic overwrite per shard partition (latest build wins). A left
        # join keeps zero-posting shards (all-empty docs) resumable too.
        shard_stats = (
            spark.read.parquet(paths.shards)
            .filter(in_range)
            .join(todo_part.select("shard"), "shard", "left_semi")
            .groupBy("shard")
            .agg(
                F.count("*").alias("row_count"),
                F.min("term").alias("term_lo"),
                F.max("term").alias("term_hi"),
                F.sum(F.length("postings")).alias("bytes"),
                # token total rides the manifest so stats never needs a
                # postings-table scan (sum over shards == sum over global)
                F.sum("cf").alias("cf_sum"),
            )
        )
        (
            todo_df.filter(in_range)
            .join(shard_stats, "shard", "left")
            .select(
                F.col("term_lo"),
                F.col("term_hi"),
                F.coalesce(F.col("row_count"), F.lit(0)).alias("row_count"),
                F.coalesce(F.col("bytes"), F.lit(0)).alias("bytes"),
                F.coalesce(F.col("cf_sum"), F.lit(0)).alias("cf_sum"),
                F.col("fp").alias("input_fingerprint"),
                F.lit("complete").alias("status"),
                F.lit(build_tag).alias("build_tag"),
                F.col("shard").alias("shard_id"),
            )
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(paths.manifest)
        )
    todo_df.unpersist()
    mark("phase_a")

    # phase B: the global (term, df, cf) dictionary, into a directory no
    # committed stats.json names (copy-forward — never overwritten in place).
    # zstd, not Spark's snappy default: on a long-tail corpus the dictionary
    # is mostly one-off identifiers, global/ holds two generations between
    # builds, and zstd writes each a third smaller (450 long-tail files:
    # 78.7 KB -> 52.5 KB, same write time)
    gen = 0 if prev_dict is None else int(prev_dict.rsplit("-", 1)[1]) + 1
    dict_name = f"gen-{gen}"
    _term_stats_df(spark, paths).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(os.path.join(paths.global_dir, dict_name))
    mark("phase_b")

    # structured build metrics (north star: 'lineage manifests ... and
    # structured metrics'): phase timings + manifest roll-up, persisted with
    # the index so every build leaves an auditable record. The roll-up ALSO
    # yields total_tokens (sum of per-shard cf_sum == sum of cf over the
    # global index, exactly len(tokenize(content)) summed over all docs) —
    # one metadata-table agg instead of a postings-table scan per build.
    m = _manifest_df(spark, paths)
    roll = None
    if m is not None:
        roll = m.agg(
            F.count("*").alias("shards"),
            F.sum("row_count").alias("posting_rows"),
            F.sum("bytes").alias("posting_bytes"),
            F.sum("cf_sum").alias("cf"),
        ).collect()[0]
    total_tokens = int(roll["cf"] or 0) if roll else 0
    avgdl = float(total_tokens) / n_docs if n_docs else 0.0
    mark("stats_metrics")
    # atomic replace: stats.json is the reader-visible commit point for the
    # whole build (incl. the dictionary it names) — a serving reader
    # polling it must never observe a truncated half-write
    fs.write_text_atomic(
        paths.stats,
        json.dumps(
            {
                "format_version": FORMAT_VERSION,
                "n_docs": n_docs,
                "avgdl": avgdl,
                "k1": k1,
                "b": b,
                "docs_per_shard": docs_per_shard,
                "n_shards": n_shards,
                "term_buckets": term_buckets,
                "build_tag": build_tag,
                "positions": pos_flag,
                "stopwords": stop_list,
                "dictionary": dict_name,
                "metrics": {
                    "phase_seconds": dict(t),
                    "manifest_shards": int(roll["shards"]) if roll else 0,
                    "posting_rows": int(roll["posting_rows"] or 0) if roll else 0,
                    "posting_bytes": int(roll["posting_bytes"] or 0) if roll else 0,
                    "total_tokens": int(total_tokens),
                },
            }
        ),
        spark,
    )
    # sweep every dictionary no committed stats.json names: not the new one
    # and not the previous build's, which a reader that loaded the old
    # stats.json may still be reading (reclaimed by the next build)
    for name in fs.listdir(paths.global_dir, spark):
        if name not in (dict_name, prev_dict):
            fs.delete(os.path.join(paths.global_dir, name), spark)
    return paths


def should_reshard(
    stats: dict,
    min_avg_shard_bytes: int = 4 << 20,
    min_shards: int = 64,
) -> bool:
    """The adaptive shard-coalescing policy (north star: 'adaptive
    coalescing of small posting shards'). Doc-range shards go SPARSE over
    an index's life: compactions remove docs without reassigning ids, and
    a docs_per_shard chosen for an early corpus size under-fills at 100×
    growth's query fan-out. When the average shard's posting payload falls
    below ``min_avg_shard_bytes`` (and the index is big enough for shard
    count to matter), per-shard task overhead dominates the scan and the
    index should be re-sharded coarser. Reads only the build's own
    structured metrics — no extra Spark job."""
    m = stats.get("metrics", {})
    n_shards = int(stats.get("n_shards") or 0)
    if n_shards < min_shards:
        return False
    avg = float(m.get("posting_bytes", 0)) / n_shards
    return avg < min_avg_shard_bytes


def reshard_index(
    spark: SparkSession,
    index_dir: str,
    docs_per_shard: int,
    shard_batch: int | None = None,
    build_tag: str = "reshard",
    content_source: DataFrame | None = None,
) -> IndexPaths:
    """Rebuild the index with a new shard granularity — the coalescing
    operation ``should_reshard`` decides on.

    Doc ids are KEPT (the docs table is MOVED aside verbatim — an O(1)
    filesystem rename, not a second corpus-sized write); only the
    doc-range→shard arithmetic changes, so search results are bit-identical
    before and after (tested). The old manifest/shards/global are removed
    (no fingerprint survives a granularity change — every shard's doc range
    moved); stats.json is KEPT until the rebuild overwrites it, so the
    index's parameters remain readable throughout. Crash-safe by
    construction: the staged docs are deleted only AFTER a successful
    rebuild, and whenever a re-run finds a leftover ``_reshard_staging``
    it resumes from it UNCONDITIONALLY — a docs dir present alongside
    staging is never trusted, because build_index's overwrite creates the
    dir at job start, so existence cannot distinguish a finished rewrite
    from a crash mid-write. Resuming from staging is idempotent (doc ids
    are kept), so nothing in any failure window can lose the corpus' only
    copy (tested: crash-before-rebuild AND crash-mid-rewrite).
    """
    from dense_retriever_spark.index.search import load_stats

    paths = IndexPaths(index_dir)
    stats = load_stats(index_dir)  # format_version-checked
    staging = os.path.join(paths.root, "_reshard_staging")
    if fs.exists(staging, spark):
        # prior reshard crashed somewhere after the docs move. paths.docs
        # may exist and even look complete — but build_index's overwrite
        # creates it at JOB START, so its presence proves nothing about
        # the corpus-sized rewrite having FINISHED (a crash mid-write
        # leaves a partial table that looks authoritative; treating it as
        # such and deleting staging would silently truncate the corpus —
        # round-5 ADVICE). The staged table is the one copy known complete
        # (the move was a single rename), and doc ids are kept across a
        # reshard, so rebuilding from staging is idempotent: ALWAYS resume
        # from staging and discard whatever docs state the crash left.
        fs.delete(paths.docs, spark)
    else:
        fs.rename(paths.docs, staging, spark)
    docs = spark.read.parquet(staging).drop("shard")
    if "content" not in docs.columns and content_source is None:
        # put the docs table back before failing: the index stays readable
        fs.rename(staging, paths.docs, spark)
        raise ValueError(
            "this index has a METADATA-ONLY docs table (built with "
            "content_source); resharding must re-read content — pass the "
            "immutable input table as content_source"
        )
    # clear state no granularity change can reuse; stats.json survives
    # (build_index's docs_per_shard fail-fast keys on the manifest, which
    # is gone) and is overwritten by the rebuild
    for stale in (paths.shards, paths.manifest, paths.global_dir):
        fs.delete(stale, spark)
    out = build_index(
        docs,
        index_dir,
        docs_per_shard=int(docs_per_shard),
        term_buckets=int(stats["term_buckets"]),
        shard_batch=shard_batch,
        k1=float(stats["k1"]),
        b=float(stats["b"]),
        build_tag=build_tag,
        content_source=content_source,
        positions=bool(stats.get("positions", False)),
    )
    # success: the rebuilt docs table exists — drop the staged original
    fs.delete(staging, spark)
    return out


def compact_index(
    spark: SparkSession,
    index_dir: str,
    kill_df: DataFrame,
    shard_batch: int | None = None,
    build_tag: str = "compact",
    content_source: DataFrame | None = None,
) -> IndexPaths:
    """Physically remove tombstoned docs from an index — the escape hatch for
    kill-lists past the ~10^7-id search-time broadcast ceiling.

    ``kill_df``: (doc_id) docs to drop (a dedup kill-list — dedup_exact /
    connected_components output). Surviving doc ids are KEPT (no
    re-assignment), so shard membership (doc_id // docs_per_shard) is
    unchanged and the resumable build's fingerprint check skips every shard
    with no killed docs — only the touched shards are rebuilt (tagged
    ``build_tag`` in the manifest). Shards whose docs were ALL killed become
    orphans and are deleted by build_index's manifest⟂fingerprint sweep.
    BM25 statistics (N, df, avgdl) are recomputed over the survivors, so a
    post-compaction search scores exactly like a tombstoned search of the
    original index (tests/test_index_build.py asserts bit-equality).

    The filtered docs rows are staged to a sibling path inside the index dir
    first because build_index overwrites paths.docs — reading and overwriting
    the same parquet path in one job is undefined. Staging on the SAME
    filesystem as the index (not driver-local temp) keeps compaction correct
    on a real cluster where executors cannot see the driver's /tmp.

    Round 8: only the shards that actually CONTAIN killed docs are staged
    (a bounded probe of the kill-list's shard set); the untouched shards
    flow into the rebuild as a filtered read of the live docs table. The
    incremental docs staging inside build_index then rewrites exactly the
    touched partitions, whose input rows come from the staged copy — the
    write job never reads a file it overwrites (the static shard filter on
    the untouched leg prunes those partitions from its scan). A compaction
    therefore writes O(touched shards) doc bytes, not O(corpus), to match
    the O(touched) phase-A rebuild it always had. Kill-lists whose shard
    set exceeds the probe cap fall back to staging the full survivor table
    (the pre-round-8 behavior — at that size most of the table is being
    rewritten anyway).
    """
    from dense_retriever_spark.index.search import load_stats

    paths = IndexPaths(index_dir)
    stats = load_stats(index_dir)  # format_version-checked
    dps = int(stats["docs_per_shard"])
    docs_all = spark.read.parquet(paths.docs).withColumn(
        "shard", F.col("shard").cast("long")
    )
    docs = docs_all.drop("shard")
    if "content" not in docs.columns and content_source is None:
        raise ValueError(
            "this index has a METADATA-ONLY docs table (built with "
            "content_source); compaction must re-read content — pass the "
            "immutable input table as content_source"
        )
    kill_ids = kill_df.select(F.col("doc_id").cast("long").alias("doc_id"))
    cap = 100_000
    kill_shards = [
        int(r["shard"])
        for r in kill_ids.select(
            (F.col("doc_id") / dps).cast("long").alias("shard")
        ).distinct().limit(cap + 1).collect()
    ]
    staging = os.path.join(paths.root, "_compact_staging")
    # The partial-staging path feeds build_index an ingested relation whose
    # untouched leg READS the live docs table, so it is only safe when
    # build_index provably takes the incremental dynamic-overwrite staging
    # path (changed partitions only — disjoint from every file the union
    # reads). build_index falls back to a full overwrite when >= half the
    # shards changed; 3·|kill shards| < n_shards guarantees strictly fewer
    # than half even if every kill shard goes orphan, with the probe cap
    # bounding driver state.
    partial_ok = (
        len(kill_shards) <= cap
        and 3 * len(kill_shards) < int(stats.get("n_shards") or 0)
    )
    try:
        if partial_ok:
            touched = docs_all.filter(F.col("shard").isin(kill_shards))
            (
                touched.drop("shard")
                .join(kill_ids, "doc_id", "left_anti")
                .write.mode("overwrite")
                .parquet(staging)
            )
            untouched = docs_all.filter(
                ~F.col("shard").isin(kill_shards)
            ).drop("shard")
            ingested = untouched.unionByName(spark.read.parquet(staging))
        else:
            docs.join(kill_ids, "doc_id", "left_anti").write.mode(
                "overwrite"
            ).parquet(staging)
            ingested = spark.read.parquet(staging)
        out = build_index(
            ingested,
            index_dir,
            docs_per_shard=int(stats["docs_per_shard"]),
            term_buckets=int(stats["term_buckets"]),
            shard_batch=shard_batch,
            k1=float(stats["k1"]),
            b=float(stats["b"]),
            build_tag=build_tag,
            content_source=content_source,
            positions=bool(stats.get("positions", False)),
        )
    finally:
        fs.delete(staging, spark)
    return out
