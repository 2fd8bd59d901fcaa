"""Driver-contract queries, wave 3 (round 2): seeded row shuffle (R1),
SimHash near-dup PAIRS (completing q14's signatures into a dedup operator),
and real seeded SRP-LSH ANN with a multi-band OR construction.

Same conventions as contract.py: every computed column aliased identically in
Spark and SQL; md5-derived 60-bit hashes for cross-engine determinism
(CAST('0x'||substr(md5(s),1,15) AS BIGINT) == conv(substring(md5(s),1,15),16,10),
verified bit-equal in round 1).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dense_retriever_spark.contract import _docs, _read

# ---------------------------------------------------------------------------
# q29 — R1 seeded full-row shuffle: first 100 docs of the global permutation
# ---------------------------------------------------------------------------

_SHUF_SEED = 42


def q29_shuffled_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.negatives import shuffle_rows
    from dense_retriever_spark.operators.topk import global_topn_ranked

    docs = _docs(spark, sf_dir).select("doc_id")
    shuffled = shuffle_rows(docs, seed=_SHUF_SEED, key_cols=["doc_id"])
    return global_topn_ranked(
        shuffled, [("_shuffle_key", False), ("doc_id", False)], 100, "pos"
    ).select("pos", "doc_id", F.col("_shuffle_key").alias("shuffle_key"))


Q29_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('shuf{_SHUF_SEED}' || chr(31) || doc_id::VARCHAR),
                             1, 15) AS BIGINT) AS shuffle_key
  FROM documents
),
r AS (
  SELECT doc_id, shuffle_key,
         row_number() OVER (ORDER BY shuffle_key ASC, doc_id ASC) AS pos
  FROM h
)
SELECT pos::INT AS pos, doc_id, shuffle_key FROM r WHERE pos <= 100
"""

# ---------------------------------------------------------------------------
# q30 — SimHash near-dup pairs (hamming-LSH table banding + exact verify)
# ---------------------------------------------------------------------------

_SH_BITS, _SH_BANDS, _SH_MAXH, _SH_CAP = 16, 4, 3, 256


def q30_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _docs(spark, sf_dir),
        bits=_SH_BITS,
        bands=_SH_BANDS,
        max_hamming=_SH_MAXH,
        collapse_exact=True,
        max_bucket=_SH_CAP,
    )


_SH_W = _SH_BITS // _SH_BANDS
_SH_MASK = (1 << _SH_W) - 1

Q30_SQL = f"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
),
t AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM reps
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('9999:' || tok), 1, 15) AS BIGINT) AS hv
  FROM t
),
bits AS (
  SELECT doc_id, b.i AS bit,
         sum(CASE WHEN (hv >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, range(0, {_SH_BITS}) b(i)
  GROUP BY doc_id, b.i
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, b.i AS band_id,
         (simhash >> (b.i * {_SH_W})) & {_SH_MASK} AS band_key
  FROM sig, range(0, {_SH_BANDS}) b(i)
),
sizes AS (
  SELECT band_id, band_key, count(*) AS n FROM banded GROUP BY band_id, band_key
),
bounded AS (
  SELECT banded.* FROM banded
  JOIN sizes USING (band_id, band_key)
  WHERE sizes.n BETWEEN 2 AND {_SH_CAP}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM bounded a
JOIN bounded b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAXH}
"""

# ---------------------------------------------------------------------------
# q31 — seeded SRP-LSH ANN (64 hyperplanes × 16 OR-bands over 64-dim vectors)
# ---------------------------------------------------------------------------

_SRP_DIM, _SRP_PLANES, _SRP_BANDS, _SRP_SEED, _SRP_K = 64, 64, 16, 7, 3


def q31_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.similarity import srp_ann_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    return srp_ann_topk(
        emb, qv, k=_SRP_K, dim=_SRP_DIM, n_planes=_SRP_PLANES,
        bands=_SRP_BANDS, seed=_SRP_SEED,
    )


def _srp_key_expr_sql(planes, bands: int, vec: str, b: int) -> str:
    """DuckDB band-key expression with the SAME seeded hyperplanes as the
    operator — plane values are emitted with repr(), which round-trips
    float64 exactly, so the sign bits (rounded to 6dp before the test) match
    bit-for-bit."""
    w = planes.shape[0] // bands
    terms = []
    for j in range(w):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[b * w + j]) + "]"
        terms.append(
            f"(CASE WHEN round(list_dot_product(CAST({vec} AS DOUBLE[]), {lit}), 6) > 0 "
            f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        )
    return "(" + " + ".join(terms) + ")"


def srp_ann_oracle_sql(
    dim: int, n_planes: int, bands: int, seed: int, k: int
) -> str:
    """DuckDB twin of ``srp_ann_topk`` for ANY (dim, n_planes, bands, seed,
    k) configuration — shared by q31/q44 (64×16, seed 7) and q16 (32×8,
    seed 11, the seeded-plane replacement for the retired first-n-dims
    bucket operator)."""
    from dense_retriever_spark.operators.similarity import srp_planes

    planes = srp_planes(dim, n_planes, seed)

    def banded(src: str, idc: str, vec: str, alias: str) -> str:
        sel = " UNION ALL ".join(
            f"SELECT {idc}, {vec} AS v, {b} AS band_id, "
            f"{_srp_key_expr_sql(planes, bands, vec, b)} AS band_key FROM {src}"
            for b in range(bands)
        )
        return f"{alias} AS ({sel})"

    cos = (
        "round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(ev AS DOUBLE[])) / "
        "greatest(sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST(ev AS DOUBLE[]), CAST(ev AS DOUBLE[]))), 1e-12), 6)"
    )
    return f"""
WITH qsrc AS (
  SELECT vec_id AS query_vec_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
{banded("embeddings", "vec_id", "embedding", "eb")},
{banded("qsrc", "query_vec_id", "qvec", "qb")},
cand AS (
  SELECT DISTINCT qb.query_vec_id, eb.vec_id, qb.v AS qv, eb.v AS ev
  FROM eb JOIN qb ON eb.band_id = qb.band_id AND eb.band_key = qb.band_key
  WHERE qb.query_vec_id <> eb.vec_id
),
s AS (
  SELECT query_vec_id, vec_id, {cos} AS cosine FROM cand
),
r AS (
  SELECT query_vec_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_vec_id, vec_id, cosine, rank::INT AS rank FROM r WHERE rank <= {k}
"""


def _q31_sql() -> str:
    return srp_ann_oracle_sql(
        _SRP_DIM, _SRP_PLANES, _SRP_BANDS, _SRP_SEED, _SRP_K
    )


# ---------------------------------------------------------------------------
# q32 — MRR@k with an explicit cutoff (reference reports MRR@{k} with k
# inferred from the list, transforms/ann_index.py:153-156; here k is a real
# parameter of rank_metrics.reciprocal_rank)
# ---------------------------------------------------------------------------

_MRR_K = 3


def q32_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import _ranked_lists
    from dense_retriever_spark.operators.rank_metrics import reciprocal_rank

    j = _ranked_lists(spark, sf_dir)  # (lang, search_results, positive_doc_id)
    ranked = j.select(F.col("lang").alias("query_id"), "search_results")
    qrels = j.select(F.col("lang").alias("query_id"), "positive_doc_id")
    rr = reciprocal_rank(ranked, qrels, k=_MRR_K)
    return rr.agg(F.round(F.avg("reciprocal_rank"), 6).alias("mrr_at_k"))


Q32_SQL = f"""
WITH rk AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS r
  FROM documents
),
top AS (
  SELECT lang, list_transform(array_agg(doc_id ORDER BY r), d -> 'D' || CAST(d AS VARCHAR))
           AS search_results
  FROM rk WHERE r <= 10 GROUP BY lang
),
pos AS (
  SELECT lang, 'D' || CAST(min(doc_id) AS VARCHAR) AS positive_doc_id
  FROM documents GROUP BY lang
),
rr AS (
  SELECT top.lang,
         CASE WHEN list_position(search_results[1:{_MRR_K}], positive_doc_id) > 0
              THEN 1.0 / list_position(search_results[1:{_MRR_K}], positive_doc_id)
              ELSE 0.0 END AS reciprocal_rank
  FROM top JOIN pos USING (lang)
)
SELECT round(avg(reciprocal_rank), 6) AS mrr_at_k FROM rr
"""


# ---------------------------------------------------------------------------
# q33/q34 — multimodal resize + frame-sample plumbing (1:1 and 1:N
# mapInPandas shapes); stubs emit SQL-reproducible fingerprints so the whole
# Arrow path is hash-verified even though the pixel work is fake
# ---------------------------------------------------------------------------

_ASSET_SQL = """
  SELECT id AS asset_id,
         ['image','audio','video'][
           (CAST('0x' || substr(md5('k42:' || id::VARCHAR), 1, 15) AS BIGINT)
            % 3)::INT + 1] AS kind,
         substr(sha256('42' || id::VARCHAR), 1, (16 + id % 49)::INT)
           AS payload_str
  FROM range(300) t(id)
"""


def q33_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.multimodal import (
        resize_images,
        synth_assets,
    )

    return resize_images(synth_assets(spark, 300), width=64, height=48).select(
        "asset_id", "width", "height", "out_bytes", "resize_sha"
    )


Q33_SQL = f"""
WITH a AS ({_ASSET_SQL})
SELECT asset_id, 64 AS width, 48 AS height, (64*48*3)::BIGINT AS out_bytes,
       sha256(sha256(payload_str) || ':64x48') AS resize_sha
FROM a WHERE kind = 'image'
"""


def q34_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.multimodal import (
        sample_frames,
        synth_assets,
    )

    return sample_frames(synth_assets(spark, 300), n_frames=4)


Q34_SQL = f"""
WITH a AS ({_ASSET_SQL})
SELECT asset_id, f.i::INT AS frame_idx,
       sha256(sha256(payload_str) || ':' || f.i::VARCHAR) AS frame_sha
FROM a, range(0, 4) f(i) WHERE kind = 'video'
"""

# ---------------------------------------------------------------------------
# q35 — embedding-cosine near-dup pairs (SRP-banded self-join, exact verify)
# ---------------------------------------------------------------------------

_ND_THRESH = 0.4


def q35_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=_ND_THRESH, dim=_SRP_DIM, n_planes=_SRP_PLANES,
        bands=_SRP_BANDS, seed=_SRP_SEED,
    )


def _q35_sql() -> str:
    from dense_retriever_spark.operators.similarity import srp_planes

    planes = srp_planes(_SRP_DIM, _SRP_PLANES, _SRP_SEED)
    banded = " UNION ALL ".join(
        f"SELECT vec_id, embedding AS v, {b} AS band_id, "
        f"{_srp_key_expr_sql(planes, _SRP_BANDS, 'embedding', b)} AS band_key "
        f"FROM embeddings"
        for b in range(_SRP_BANDS)
    )
    cos = (
        "round(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) / "
        "greatest(sqrt(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST(b.v AS DOUBLE[]), CAST(b.v AS DOUBLE[]))), 1e-12), 6)"
    )
    return f"""
WITH eb AS ({banded}),
sizes AS (
  SELECT band_id, band_key, count(*) AS n FROM eb GROUP BY band_id, band_key
),
bounded AS (
  SELECT eb.* FROM eb JOIN sizes USING (band_id, band_key)
  WHERE sizes.n BETWEEN 2 AND 1024
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
FROM bounded a
JOIN bounded b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
WHERE {cos} >= {_ND_THRESH}
"""


# ---------------------------------------------------------------------------
# q36 — dedup clustering: connected components over the simhash pair graph
# (pairs → components = the actual dedup decision). Oracle: recursive-CTE
# transitive closure over the SAME pair relation (Q30).
# ---------------------------------------------------------------------------

def q36_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # label_prop pinned explicitly: the library default is now the star
    # contraction (q42 covers it against the same oracle) — q36 keeps the
    # label-propagation algorithm under the hash gate
    return connected_components(pairs, algorithm="label_prop")


Q36_SQL = f"""
WITH RECURSIVE pairs AS (
  {Q30_SQL}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(n, m) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
)
SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
"""


# ---------------------------------------------------------------------------
# q37 — IVF-style ANN: FIXED-K coarse quantizer (the K vectors with the
# smallest md5-hash of their id — K independent of N, so the centroid
# broadcast and the N × K assignment scale), nprobe cell scan. The oracle
# reproduces the whole construction with the same hash ORDER BY ... LIMIT K.
# ---------------------------------------------------------------------------

_IVF_K, _IVF_NPROBE = 16, 8


def q37_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.operators.similarity import ivf_ann_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )
    return ivf_ann_topk(
        emb, qv, k=_SRP_K, n_centroids=_IVF_K, nprobe=_IVF_NPROBE
    )


_COS37 = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "greatest(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 1e-12), 6)"
)

Q37_SQL = f"""
WITH ch AS (
  SELECT vec_id AS centroid_id, embedding AS cvec,
         CAST('0x' || substr(md5('777:' || vec_id::VARCHAR), 1, 15) AS BIGINT) AS h
  FROM embeddings
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


# ---------------------------------------------------------------------------
# q38 — the INDEXED BM25 engine under the contract's hash gate: build a
# real sharded index over the documents table, search it, and hash-compare
# against the exact index-free BM25 oracle (Q01_SQL). This promotes the
# flagship engine's rank-identity guarantee from pytest into the driver's
# CORRECTNESS record.
# ---------------------------------------------------------------------------

_Q38_IDX_CACHE: dict[str, str] = {}


def _docs_as_index_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table → index input with doc_id PRESERVED (no re-assignment:
    the oracle keys on the table's own ids)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.lit("docs").alias("repo"),
        F.concat(F.lit("p"), F.col("doc_id")).alias("path"),
        F.concat(F.lit("c"), F.col("doc_id")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


def _q38_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the q38 test index; the temp dir
    is registered for atexit removal — repeated contract runs reuse one
    directory instead of leaking a mkdtemp per call (round-2 ADVICE)."""
    import atexit
    import shutil
    import tempfile

    from dense_retriever_spark.index.build import build_index

    if sf_dir in _Q38_IDX_CACHE:
        return _Q38_IDX_CACHE[sf_dir]
    root = tempfile.mkdtemp(prefix="q38_idx_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx = root + "/index"
    build_index(
        _docs_as_index_input(spark, sf_dir), idx,
        docs_per_shard=128, term_buckets=2,
    )
    _Q38_IDX_CACHE[sf_dir] = idx
    return idx


def q38_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.contract import BM25_QUERIES, Q01_SQL  # noqa: F401
    from dense_retriever_spark.index.search import search
    from dense_retriever_spark.operators.topk import topk_per_group

    idx = _q38_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    # over-fetch, round to the oracle's 4dp, re-rank on the ROUNDED score —
    # both engines must rank after rounding or a last-ulp raw difference
    # inside a rounding tie would order differently (round-before-rank rule)
    raw = search(spark, idx, queries, k=50)
    rounded = raw.select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    return topk_per_group(rounded, "query_id", "score", 10).select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )


# ---------------------------------------------------------------------------
# q39 — KMV distinct sketch: per-lang distinct-token estimates whose VALUE
# (not just row count) is hash-verified cross-engine — a sketch the oracle
# can actually check, unlike engine-specific HLL register layouts.
# ---------------------------------------------------------------------------

_KMV_K = 64


def q39_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dense_retriever_spark.functions.tokenizer import tokenize_text_expr
    from dense_retriever_spark.operators.sketches import kmv_distinct

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang", F.explode(tokenize_text_expr("text")).alias("term")
    )
    return kmv_distinct(toks, "term", ["lang"], k=_KMV_K).orderBy("lang")


def _q39_sql() -> str:
    from dense_retriever_spark.contract import _TOK_SQL
    from dense_retriever_spark.operators.sketches import kmv_sql

    src = (
        "SELECT lang, unnest(" + _TOK_SQL.format(c="text") + ") AS term "
        "FROM documents"
    )
    return kmv_sql(src, "term", ["lang"], k=_KMV_K) + " ORDER BY lang"


# q32_mrr_at_k and q36_dedup_components are retired from the driver gate
# (round-5 slot cleanup): q04/q05 gate reciprocal-rank and MRR (q32 is the
# same metric with a k parameter), and q42_dedup_components_star gates the
# connected-components operator with the default (large-star/small-star)
# algorithm — q36's label-prop variant keeps its pytest equivalence test.
QUERIES4: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q29_shuffled_sample": q29_shuffled_sample,
    "q30_simhash_pairs": q30_simhash_pairs,
    "q31_srp_ann": q31_srp_ann,
    "q33_resize_images": q33_resize_images,
    "q34_sample_frames": q34_sample_frames,
    "q35_embedding_near_dups": q35_embedding_near_dups,
    "q37_ivf_ann": q37_ivf_ann,
    "q38_indexed_search": q38_indexed_search,
    "q39_kmv_distinct_tokens": q39_kmv_distinct_tokens,
}

ORACLES4: dict[str, str] = {
    "q29_shuffled_sample": Q29_SQL,
    "q30_simhash_pairs": Q30_SQL,
    "q31_srp_ann": _q31_sql(),
    "q33_resize_images": Q33_SQL,
    "q34_sample_frames": Q34_SQL,
    "q35_embedding_near_dups": _q35_sql(),
    "q37_ivf_ann": Q37_SQL,
    "q38_indexed_search": None,  # set below: exact BM25 oracle (Q01_SQL)
    "q39_kmv_distinct_tokens": _q39_sql(),
}


def _init_q38_oracle() -> None:
    from dense_retriever_spark.contract import Q01_SQL

    ORACLES4["q38_indexed_search"] = Q01_SQL


_init_q38_oracle()
