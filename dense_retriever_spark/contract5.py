"""Driver-contract queries, wave 4 (round 3): streaming windowed aggregation
under the hash gate, compaction correctness, star-contraction connected
components, tombstoned indexed search, and the broadcast-matrix SRP path.

These five put every round-3 engine change under the driver's DuckDB
row/schema/value-hash comparison — each one exercises a code path that
previously had only pytest coverage (q40: streaming family's FIRST oracle
presence; q41: compact_index; q42: _cc_star; q43: search-under-tombstones;
q44: srp_bits_pandas).

Same conventions as contract.py: identical column aliases both sides,
round-before-rank, decimal sums for cross-engine float determinism.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.contract import _read

# ---------------------------------------------------------------------------
# q40 — watermarked tumbling-window aggregation (streaming/refresh.py) run in
# batch mode over the events table: the SAME code serves readStream sources
# (tests/test_stateful_streaming.py); batch mode makes it oracle-checkable.
# Window starts align to epoch 0, so DuckDB reproduces them with
# floor(epoch/600)*600. Session TZ is UTC (session.py), so unix_timestamp of
# the NTZ parquet ts equals DuckDB's epoch().
# ---------------------------------------------------------------------------

_W40_SEC = 600  # "10 minutes"


def q40_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.streaming.refresh import windowed_event_counts

    ev = _read(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="10 minutes", watermark="30 minutes")
    ts = lambda c: F.unix_timestamp(F.col(c).cast("timestamp")).cast("long")  # noqa: E731
    return out.select(
        ts("window_start").alias("window_start_epoch"),
        ts("window_end").alias("window_end_epoch"),
        "event_type",
        "n",
        "total",
    )


Q40_SQL = f"""
SELECT (floor(epoch(ts) / {_W40_SEC}) * {_W40_SEC})::BIGINT AS window_start_epoch,
       (floor(epoch(ts) / {_W40_SEC}) * {_W40_SEC} + {_W40_SEC})::BIGINT AS window_end_epoch,
       event_type,
       count(*) AS n,
       round(sum(CAST(value AS DECIMAL(28,8))), 4)::DOUBLE AS total
FROM events
GROUP BY 1, 2, 3
"""

# ---------------------------------------------------------------------------
# q41 — compaction under the hash gate: build an index over documents, kill
# doc_id % 10 == 0, compact_index (only touched shards rebuilt, stats
# recomputed over survivors), search — must equal exact BM25 over
# `documents WHERE doc_id % 10 <> 0` (a compacted index IS the index of the
# filtered corpus, bit for bit).
# ---------------------------------------------------------------------------

_Q41_IDX_CACHE: dict[str, str] = {}


def _q41_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    from dense_retriever_spark.contract4 import _docs_as_index_input
    from dense_retriever_spark.index.build import build_index, compact_index

    if sf_dir in _Q41_IDX_CACHE:
        return _Q41_IDX_CACHE[sf_dir]
    root = tempfile.mkdtemp(prefix="q41_idx_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx = root + "/index"
    ingested = _docs_as_index_input(spark, sf_dir)
    build_index(ingested, idx, docs_per_shard=128, term_buckets=2)
    kill = ingested.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    compact_index(spark, idx, kill)
    _Q41_IDX_CACHE[sf_dir] = idx
    return idx


def _rounded_topk(raw: DataFrame, k: int = 10) -> DataFrame:
    """Over-fetched search results → round to the oracle's 4dp → re-rank on
    the ROUNDED score (round-before-rank rule, see q38)."""
    from dense_retriever_spark.operators.topk import topk_per_group

    rounded = raw.select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    return topk_per_group(rounded, "query_id", "score", k).select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )


def q41_compacted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import BM25_QUERIES
    from dense_retriever_spark.index.search import search

    idx = _q41_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return _rounded_topk(search(spark, idx, queries, k=50))


def _q41_sql() -> str:
    from dense_retriever_spark.contract import Q01_SQL

    # the exact-BM25 oracle over the SURVIVING corpus: stats (N, df, avgdl)
    # recomputed over the filtered table, exactly like the compacted build
    assert Q01_SQL.count("FROM documents") == 1
    return Q01_SQL.replace(
        "FROM documents", "FROM documents WHERE doc_id % 10 <> 0"
    )


# ---------------------------------------------------------------------------
# q42 — connected components via the large-star/small-star contraction: the
# O(log n)-round algorithm must produce EXACTLY the label-propagation answer
# (q36) — hash-verified against the same recursive-CTE transitive closure.
# ---------------------------------------------------------------------------

def q42_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.contract4 import (
        _SH_BANDS,
        _SH_BITS,
        _SH_CAP,
        _SH_MAXH,
    )
    from dense_retriever_spark.operators.dedup import (
        connected_components,
        simhash_pairs,
    )

    pairs = simhash_pairs(
        _docs(spark, sf_dir),
        bits=_SH_BITS,
        bands=_SH_BANDS,
        max_hamming=_SH_MAXH,
        collapse_exact=True,
        max_bucket=_SH_CAP,
    )
    return connected_components(pairs, algorithm="star")


# ---------------------------------------------------------------------------
# q43 — tombstoned indexed search under the hash gate: search the q38 index
# with a kill-list (doc_id % 7 == 0) — the masked-postings scorer must stay
# rank-identical to the exact BM25 oracle with the same docs excluded FROM
# THE RESULTS (tombstones mask results; corpus statistics stay those of the
# full index, hence the filter sits after scoring in the SQL, not in the
# corpus CTE).
# ---------------------------------------------------------------------------

def q43_tombstoned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import BM25_QUERIES, _docs
    from dense_retriever_spark.contract4 import _q38_index_dir
    from dense_retriever_spark.index.search import search

    idx = _q38_index_dir(spark, sf_dir)
    kill = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )
    queries = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    raw = search(
        spark, idx, queries, k=50, exclude_doc_ids=kill
    )
    return _rounded_topk(raw)


def _q43_sql() -> str:
    from dense_retriever_spark.contract import Q01_SQL

    # exclusion AFTER scoring (rk ranks the surviving docs), stats untouched
    assert Q01_SQL.count("FROM sc") == 1
    return Q01_SQL.replace("FROM sc", "FROM sc WHERE doc_id % 7 <> 0")


# ---------------------------------------------------------------------------
# q44 — the broadcast-matrix pandas SRP path against the SAME oracle as q31:
# bits_path='pandas' must be bit-identical to the expr path the SQL mirrors.
# ---------------------------------------------------------------------------

def q44_srp_ann_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract4 import (
        _SRP_BANDS,
        _SRP_DIM,
        _SRP_K,
        _SRP_PLANES,
        _SRP_SEED,
    )
    from dense_retriever_spark.operators.similarity import srp_ann_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    return srp_ann_topk(
        emb, qv, k=_SRP_K, dim=_SRP_DIM, n_planes=_SRP_PLANES,
        bands=_SRP_BANDS, seed=_SRP_SEED, bits_path="pandas",
    )


# ---------------------------------------------------------------------------
# q45 — PII/secret scrubbing (functions/scrub.py): deterministic "dirty"
# augmentation of documents (synthetic email + IP + hex secret per row, SQL-
# reproducible), then redact + per-rule audit counts; the redacted TEXT is
# verified via its sha256, not just the counts.
# ---------------------------------------------------------------------------

def q45_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.functions.scrub import (
        redact_expr,
        redaction_counts,
    )

    dirty = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com from 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)),
            F.lit(".7 key "),
            F.sha2(F.col("doc_id").cast("string"), 256),
        ).alias("t"),
    )
    return dirty.withColumn("_c", redaction_counts(F.col("t"))).select(
        "doc_id",
        F.col("_c.email").alias("n_email"),
        F.col("_c.ipv4").alias("n_ipv4"),
        F.col("_c.hex_secret").alias("n_secret"),
        F.sha2(redact_expr(F.col("t")), 256).alias("redacted_sha"),
    )


def _q45_sql() -> str:
    from dense_retriever_spark.functions.scrub import REDACT_RULES

    # sequential audit counts, mirroring redaction_counts: rule N is counted
    # on the text after rules 1..N-1 have been applied (actual replacements,
    # not raw pattern occurrences — round-3 ADVICE)
    aliases = {"email": "email", "ipv4": "ipv4", "hex_secret": "secret"}
    redacted = "t"
    count_exprs = []
    for name, pat, repl in REDACT_RULES:
        count_exprs.append(
            f"len(regexp_extract_all({redacted}, '{pat}')) AS n_{aliases[name]}"
        )
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(count_exprs)
    return f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'
              || (doc_id % 256)::VARCHAR || '.7 key ' || sha256(doc_id::VARCHAR) AS t
  FROM documents
)
SELECT doc_id, {counts}, sha256({redacted}) AS redacted_sha
FROM dirty
"""


# ---------------------------------------------------------------------------
# q46 — repetition-ratio quality filter (the Gopher/C4 duplicate-line-mass
# signal). Documents are single-line prose, so the query lifts tokens to
# lines (space → newline, SQL-reproducible) — dup-token mass per doc.
# ---------------------------------------------------------------------------

def q46_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.functions.scrub import repetition_ratio

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace("text", " ", "\n").alias("t")
    )
    return docs.select(
        "doc_id", repetition_ratio(F.col("t")).alias("rep_ratio")
    )


Q46_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split(replace(text, ' ', chr(10)), chr(10)),
                          x -> trim(x)),
           x -> x <> '') AS lines
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(lines) <= 0 THEN 0.0
            ELSE round(1.0 - len(list_distinct(lines))::DOUBLE
                           / len(lines)::DOUBLE, 6)
       END AS rep_ratio
FROM t
"""


# ---------------------------------------------------------------------------
# q47 — seeded weighted sampling without replacement (Efraimidis–Spirakis
# A-Res over md5-derived uniforms): the training-data-mix sampler. Top-100
# documents by u^(1/n_chars); executes as TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_WS_SEED, _WS_N = 42, 100


def q47_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.operators.negatives import weighted_sample

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    out = weighted_sample(
        docs, _WS_N, "n_chars", seed=_WS_SEED, key_cols=["doc_id"]
    )
    return out.select(
        "doc_id", "n_chars", F.col("_es_key").alias("es_key")
    )


Q47_SQL = f"""
WITH h AS (
  SELECT doc_id, n_chars,
         CAST('0x' || substr(md5('ws{_WS_SEED}' || chr(31) || doc_id::VARCHAR),
                             1, 15) AS BIGINT) AS hh
  FROM documents
),
k AS (
  SELECT doc_id, n_chars, hh,
         round(pow((hh + 1)::DOUBLE / {float(1 << 60)!r},
                   1.0 / greatest(n_chars::DOUBLE, 1e-12)), 9) AS es_key
  FROM h
)
SELECT doc_id, n_chars, es_key
FROM k ORDER BY es_key DESC, hh ASC LIMIT {_WS_N}
"""


# ---------------------------------------------------------------------------
# q48 — metadata-FILTERED indexed search: only lang='en' documents may
# surface. The allowed set is most of the corpus, so it is never collected —
# it rides as a second relation COGROUPED with the shard scan (search.py
# include_doc_ids). Oracle: exact BM25 with the same post-scoring inclusion
# (statistics stay those of the full index, the tombstone convention).
# ---------------------------------------------------------------------------

def q48_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import BM25_QUERIES, _docs
    from dense_retriever_spark.contract4 import _q38_index_dir
    from dense_retriever_spark.index.search import search

    idx = _q38_index_dir(spark, sf_dir)
    allowed = (
        _docs(spark, sf_dir).filter(F.col("lang") == "en").select("doc_id")
    )
    queries = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    raw = search(
        spark, idx, queries, k=50, include_doc_ids=allowed
    )
    return _rounded_topk(raw)


def _q48_sql() -> str:
    from dense_retriever_spark.contract import Q01_SQL

    assert Q01_SQL.count("FROM sc") == 1
    return Q01_SQL.replace(
        "FROM sc",
        "FROM sc WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
    )


# q44_srp_ann_pandas is retired from the driver gate (round-5 VERDICT ask):
# it gated a second code path of the same operator q31_srp_ann gates; the
# pandas/expr parity stays asserted by tests/test_dedup_similarity.py.
QUERIES5: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q40_windowed_events": q40_windowed_events,
    "q41_compacted_search": q41_compacted_search,
    "q42_dedup_components_star": q42_dedup_components_star,
    "q43_tombstoned_search": q43_tombstoned_search,
    "q45_redact": q45_redact,
    "q46_repetition": q46_repetition,
    "q47_weighted_sample": q47_weighted_sample,
    "q48_filtered_search": q48_filtered_search,
}


def _oracles5() -> dict[str, str]:
    from dense_retriever_spark.contract4 import Q36_SQL

    return {
        "q40_windowed_events": Q40_SQL,
        "q41_compacted_search": _q41_sql(),
        "q42_dedup_components_star": Q36_SQL,
        "q43_tombstoned_search": _q43_sql(),
        "q45_redact": _q45_sql(),
        "q46_repetition": Q46_SQL,
        "q47_weighted_sample": Q47_SQL,
        "q48_filtered_search": _q48_sql(),
    }


ORACLES5: dict[str, str] = _oracles5()
