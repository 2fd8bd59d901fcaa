"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Every entry appears twice — once as a Spark DataFrame pipeline over the
library and once as ANSI SQL for DuckDB — with IDENTICAL column names and
rounding, so the driver's row-count/schema/value-hash comparison passes.
``QUERIES`` and ``ORACLES`` hold the two sides under the same names;
``tests/test_contract_oracles.py`` and ``tools/check_contract.py`` run the
comparison at sf0.01.

Conventions:
- float outputs are rounded (4-6 dp) BEFORE ranking/sorting so JVM-vs-DuckDB
  last-ulp differences cannot flip a rank or a hash; index searches
  over-fetch, round and re-rank (``_rounded_topk``);
- every computed column is aliased the same on both sides;
- deterministic tie-breaks everywhere;
- 60-bit hashes are md5-derived on both sides
  (CAST('0x'||substr(md5(s),1,15) AS BIGINT) == conv(substring(md5(s),1,15),16,10)).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dense_retriever_spark import BM25_B, BM25_K1
from dense_retriever_spark.functions.tokenizer import tokenize_text_expr
from dense_retriever_spark.index.ann import (
    build_ann_index,
    refresh_ann_index,
    search_ann_index,
)
from dense_retriever_spark.index.boolean import (
    count_matches,
    parse_boolean_query,
    search_boolean,
)
from dense_retriever_spark.index.build import build_index, compact_index
from dense_retriever_spark.index.explain import explain_scores
from dense_retriever_spark.index.fields import derive_field, search_fields
from dense_retriever_spark.index.fuzzy import (
    search_fuzzy,
    split_fuzzy_query,
    suggest_terms,
)
from dense_retriever_spark.index.merge import merge_indexes
from dense_retriever_spark.index.mlt import more_like_this
from dense_retriever_spark.index.phrase import search_phrase
from dense_retriever_spark.index.prefix import search_prefix, split_prefix_query
from dense_retriever_spark.index.regexq import search_regex, split_regex_query
from dense_retriever_spark.index.search import search
from dense_retriever_spark.index.synonyms import search_synonyms
from dense_retriever_spark.operators.bm25 import (
    bm25_contrib_expr,
    corpus_stats,
    doc_term_freqs,
    query_terms,
)
from dense_retriever_spark.operators.dedup import (
    MINHASH_M,
    _hash60,
    connected_components,
    dedup_exact,
    jaccard_verify,
    minhash_coeffs,
    minhash_signature,
    simhash_pairs,
)
from dense_retriever_spark.operators.facets import facet_counts, facet_ranges
from dense_retriever_spark.operators.negatives import (
    construct_query_samples,
    shuffle_rows,
    stratified_sample,
    weighted_sample,
)
from dense_retriever_spark.operators.rank_metrics import ndcg_recall
from dense_retriever_spark.operators.similarity import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    ivf_ann_topk,
    srp_ann_topk,
    srp_planes,
)
from dense_retriever_spark.operators.snippets import (
    snippet_sql,
    snippet_windows,
    term_snippet_windows,
)
from dense_retriever_spark.operators.topk import global_topn_ranked, topk_per_group
from dense_retriever_spark.streaming.refresh import windowed_event_counts

T = TypeVar("T")

# ---------------------------------------------------------------------------
# shared inputs, fixtures and SQL fragments
# ---------------------------------------------------------------------------

BM25_QUERIES: list[tuple[int, str]] = [
    (0, "query plan window"),
    (1, "customer data stream"),
    (2, "join filter group"),
    (3, "slow table scan merge"),
    (4, "spark row"),
]

_QUERY_VALUES_SQL = ", ".join(f"({i}, '{q}')" for i, q in BM25_QUERIES)

_TOK_SQL = "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), x -> x <> '')"

_K = 10          # result rows per query of every index search
_OVERFETCH = 50  # rows fetched before rounding and re-ranking to _K
_DPS = 128       # docs_per_shard of every contract index


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _queries(spark: SparkSession, rows: list[tuple[int, str]]) -> DataFrame:
    return spark.createDataFrame(rows, "query_id long, query string")


def _query_vectors(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), F.col("embedding").alias("qvec")
    )


_FIXTURES: dict[tuple[str, str], object] = {}


def _once(name: str, sf_dir: str, build: Callable[[str], T]) -> T:
    """``build(root)`` once per (name, sf_dir) per process, into a fresh
    temp dir removed at exit; later calls return the first result."""
    key = (name, sf_dir)
    if key not in _FIXTURES:
        root = tempfile.mkdtemp(prefix=f"{name}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _FIXTURES[key] = build(root)
    return _FIXTURES[key]


def _index_input(df: DataFrame) -> DataFrame:
    """(doc_id, lang, text) rows → build_index input with doc_id PRESERVED
    (no re-assignment: the oracles key on the table's own ids)."""
    return df.select(
        "doc_id",
        F.lit("docs").alias("repo"),
        F.concat(F.lit("p"), F.col("doc_id")).alias("path"),
        F.concat(F.lit("c"), F.col("doc_id")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


def _docs_index(
    spark: SparkSession, sf_dir: str, name: str = "q38_idx", **build_kw
) -> str:
    """The documents table as an index; ``name`` keys the build options."""

    def build(root: str) -> str:
        idx = root + "/index"
        build_index(
            _index_input(_docs(spark, sf_dir)), idx,
            docs_per_shard=_DPS, term_buckets=2, **build_kw,
        )
        return idx

    return _once(name, sf_dir, build)


def _rounded_topk(raw: DataFrame, k: int = _K) -> DataFrame:
    """Over-fetched search results → round to the oracle's 4dp → re-rank on
    the ROUNDED score: both engines must rank after rounding, or a last-ulp
    raw difference inside a rounding tie would order differently."""
    rounded = raw.select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    return topk_per_group(rounded, "query_id", "score", k).select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score").cast("double"),
        F.col("rank").cast("int"),
    )


# one BM25 contribution c(q, t, d) from tf (tf, dl), dfr (df) and st (n, avgdl)
_BM25_C = (
    f"((ln(1 + (st.n - dfr.df + 0.5)/(dfr.df + 0.5)) * tf.tf) * {BM25_K1 + 1.0})\n"
    f"         / (tf.tf + {BM25_K1}*({1.0 - BM25_B} + ({BM25_B}*tf.dl)/st.avgdl))"
)

_COS_SQL = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "greatest(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 1e-12), 6)"
)


def _corpus_ctes(terms: str = _TOK_SQL.format(c="text"), where: str = "") -> str:
    """tok → dd → st → tf: the tokenized corpus, its collection statistics
    and per-(doc, term) frequencies with the doc length alongside."""
    return f"""tok AS (
  SELECT doc_id, {terms} AS terms FROM documents{where}
),
dd  AS (SELECT doc_id, terms, len(terms) AS dl FROM tok WHERE len(terms) > 0),
st  AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dd),
tf  AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf, min(dl)::DOUBLE AS dl
  FROM (SELECT doc_id, unnest(terms) AS term, dl FROM dd)
  GROUP BY doc_id, term
)"""


_DFR_SQL = """dfr AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT term FROM qt) GROUP BY term
)"""


def _ranked_sql(src: str, k: int = _K) -> str:
    """rk + final SELECT: top-k of ``src`` (query_id, doc_id, score) by
    (score DESC, doc_id ASC)."""
    return f"""rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM {src}
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       score::DOUBLE AS score, rank::INT AS rank
FROM rk WHERE rank <= {k}"""


def _bm25_sql(
    qt_ctes: str,
    *,
    where: str = "",
    keep: str = "",
    terms: str = _TOK_SQL.format(c="text"),
) -> str:
    """Exact BM25 top-10 over ``documents``: ``qt_ctes`` must define
    qt(query_id, term) (it may read the corpus CTEs); ``where`` filters the
    corpus before its statistics, ``keep`` filters the scored rows after."""
    return f"""
WITH {_corpus_ctes(terms, where)},
{qt_ctes},
{_DFR_SQL},
con AS (
  SELECT qt.query_id, tf.doc_id,
         {_BM25_C} AS c
  FROM tf JOIN qt USING (term) JOIN dfr USING (term) CROSS JOIN st
),
sc AS (
  SELECT query_id, doc_id, round(sum(c), 4) AS score
  FROM con GROUP BY query_id, doc_id
),
{_ranked_sql("sc" + keep)}
"""


# the BM25_QUERIES relation tokenized: qt(query_id, term)
_QT_SQL = f"""q(query_id, query) AS (VALUES {_QUERY_VALUES_SQL}),
qt  AS (
  SELECT DISTINCT query_id, unnest({_TOK_SQL.format(c='query')}) AS term FROM q
)"""


def _expansion_qt(lits: list[str], expd: str) -> str:
    """qt = each query's literal terms (``lits``: "(qid, 'term')" values)
    plus its dictionary expansions; ``expd`` defines expd(query_id, term)
    over dict(term)."""
    return f"""qlit(query_id, term) AS (VALUES {", ".join(lits) or "(NULL, NULL)"}),
dict AS (SELECT DISTINCT term FROM tf),
{expd},
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, term FROM qlit WHERE query_id IS NOT NULL
    UNION ALL
    SELECT query_id, term FROM expd
  )
)"""


# ---------------------------------------------------------------------------
# q01 — flagship: BM25 top-10 over documents (the exact, index-free path)
# ---------------------------------------------------------------------------

def q01_bm25_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tokenized = (
        docs.select("doc_id", tokenize_text_expr("text").alias("terms"))
        .withColumn("dl", F.size("terms"))
        .filter(F.col("dl") > 0)
    )
    queries = _queries(spark, BM25_QUERIES)
    n_docs, avgdl = corpus_stats(tokenized)
    tf = doc_term_freqs(tokenized)
    qt = query_terms(queries, tokenize_text_expr)
    term_df = (
        tf.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    contrib = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(term_df), "term")
        .withColumn(
            "c",
            bm25_contrib_expr(F.col("tf"), F.col("df"), F.col("dl"), n_docs, avgdl),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("score").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


Q01_SQL = _bm25_sql(_QT_SQL)


# ---------------------------------------------------------------------------
# q02 — queries ⋈ qrels → query samples
# ---------------------------------------------------------------------------

def q02_query_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("qid"), F.col("text")
    )
    qrels = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("qid"),
        F.concat(F.lit("D"), ((F.col("doc_id") * 7) % 500)).alias("doc_id"),
    )
    return construct_query_samples(queries, qrels)


Q02_SQL = """
WITH q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id % 5 = 0),
r AS (SELECT doc_id AS qid, 'D' || CAST((doc_id * 7) % 500 AS VARCHAR) AS doc_id
      FROM documents WHERE doc_id % 5 = 0)
SELECT q.text AS query, q.qid AS query_id, r.doc_id AS positive_doc_id
FROM q JOIN r USING (qid)
"""


# ---------------------------------------------------------------------------
# q03 — hard-negative mining (deterministic modulo pick)
# ---------------------------------------------------------------------------

def q03_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    samples = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query"),
        F.concat(F.lit("D"), ((F.col("doc_id") * 7) % 500)).alias("positive_doc_id"),
    )
    results = samples.select(
        "query_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(5)),
            lambda i: F.concat(F.lit("D"), (F.col("query_id") + i * 13) % 500),
        ).alias("search_results"),
    )
    joined = samples.join(results, "query_id")
    cands = F.array_remove(F.col("search_results"), F.col("positive_doc_id"))
    pick = F.element_at(cands, (F.pmod(F.col("query_id"), F.size(cands)) + 1).cast("int"))
    return (
        joined.filter(F.size(cands) > 0)
        .select("query_id", "positive_doc_id", pick.alias("hard_negative_id"))
    )


Q03_SQL = """
WITH s AS (
  SELECT doc_id AS query_id, text AS query,
         'D' || CAST((doc_id * 7) % 500 AS VARCHAR) AS positive_doc_id
  FROM documents WHERE doc_id % 5 = 0
),
r AS (
  SELECT query_id,
         list_transform(range(1, 6),
                        i -> 'D' || CAST((query_id + i * 13) % 500 AS VARCHAR))
           AS search_results
  FROM s
),
j AS (
  SELECT s.query_id, s.positive_doc_id,
         list_filter(r.search_results, x -> x <> s.positive_doc_id) AS cands
  FROM s JOIN r USING (query_id)
)
SELECT query_id, positive_doc_id,
       cands[CAST(query_id % len(cands) AS INT) + 1] AS hard_negative_id
FROM j WHERE len(cands) > 0
"""


# ---------------------------------------------------------------------------
# q04/q05 — reciprocal rank + MRR
# ---------------------------------------------------------------------------

def _ranked_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    top = (
        docs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .groupBy("lang")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("r", "doc_id"))),
                lambda s: F.concat(F.lit("D"), s["doc_id"]),
            ).alias("search_results")
        )
    )
    pos = docs.groupBy("lang").agg(
        F.concat(F.lit("D"), F.min("doc_id")).alias("positive_doc_id")
    )
    return top.join(pos, "lang")


def q04_reciprocal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _ranked_lists(spark, sf_dir)
    p = F.array_position(F.col("search_results"), F.col("positive_doc_id"))
    return j.select(
        "lang",
        F.when(p > 0, F.round(F.lit(1.0) / p.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("reciprocal_rank"),
    )


_Q04_BODY = """
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
         CASE WHEN list_position(search_results, positive_doc_id) IS NOT NULL
                   AND list_position(search_results, positive_doc_id) > 0
              THEN round(1.0 / list_position(search_results, positive_doc_id), 6)
              ELSE 0.0 END AS reciprocal_rank
  FROM top JOIN pos USING (lang)
)
"""

Q04_SQL = _Q04_BODY + "SELECT lang, reciprocal_rank FROM rr"


def q05_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    rr = q04_reciprocal_rank(spark, sf_dir)
    return rr.agg(F.round(F.avg("reciprocal_rank"), 6).alias("mrr"))


Q05_SQL = _Q04_BODY + "SELECT round(avg(reciprocal_rank), 6) AS mrr FROM rr"


# ---------------------------------------------------------------------------
# q06 — doc-id codec round trip
# ---------------------------------------------------------------------------

def q06_docid_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    enc = F.concat(F.lit("D"), F.col("doc_id"))
    dec = F.substring(enc, 2, 18).cast("bigint")
    return docs.select(
        "doc_id",
        enc.alias("doc_id_str"),
        dec.alias("decoded"),
        (dec == F.col("doc_id")).alias("roundtrip_ok"),
    )


Q06_SQL = """
SELECT doc_id,
       'D' || CAST(doc_id AS VARCHAR) AS doc_id_str,
       CAST(substr('D' || CAST(doc_id AS VARCHAR), 2, 18) AS BIGINT) AS decoded,
       CAST(substr('D' || CAST(doc_id AS VARCHAR), 2, 18) AS BIGINT) = doc_id
         AS roundtrip_ok
FROM documents
"""


# ---------------------------------------------------------------------------
# q07 — whitespace truncation
# ---------------------------------------------------------------------------

def q07_truncate(spark: SparkSession, sf_dir: str, n: int = 10) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), "\\s+"), lambda x: x != "")
    return docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, n), " ").alias("truncated"),
        F.least(F.size(toks), F.lit(n)).alias("n_words"),
    )


Q07_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       array_to_string(toks[1:10], ' ') AS truncated,
       least(len(toks), 10)::INT AS n_words
FROM t
"""


# ---------------------------------------------------------------------------
# q08 — thresholded confusion matrix + macro F1
# ---------------------------------------------------------------------------

def q08_f1_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        (((F.col("doc_id") * 37) % 100) / 100.0).alias("p"),
        (F.col("doc_id") % 2).alias("label"),
    ).withColumn("pred", F.when(F.col("p") > 0.5, 1).otherwise(0))
    agg = scored.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 0), 1).otherwise(0)).alias("tn"),
    )
    f1_pos = 2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
    f1_neg = 2 * F.col("tn") / (2 * F.col("tn") + F.col("fp") + F.col("fn"))
    return agg.select(
        F.col("tp").cast("long"),
        F.col("fp").cast("long"),
        F.col("fn").cast("long"),
        F.col("tn").cast("long"),
        F.round((f1_pos + f1_neg) / 2.0, 6).alias("f1_macro"),
    )


Q08_SQL = """
WITH s AS (
  SELECT doc_id, ((doc_id * 37) % 100) / 100.0 AS p, doc_id % 2 AS label
  FROM documents
),
c AS (
  SELECT CASE WHEN p > 0.5 THEN 1 ELSE 0 END AS pred, label FROM s
),
a AS (
  SELECT sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
         sum(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
  FROM c
)
SELECT tp, fp, fn, tn,
       round((2.0*tp/(2*tp+fp+fn) + 2.0*tn/(2*tn+fp+fn)) / 2.0, 6) AS f1_macro
FROM a
"""


# ---------------------------------------------------------------------------
# q09 — deterministic split counts
# ---------------------------------------------------------------------------

def q09_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    split = F.when(F.col("doc_id") % 10 < 2, "test").otherwise("train")
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


Q09_SQL = """
SELECT CASE WHEN doc_id % 10 < 2 THEN 'test' ELSE 'train' END AS split,
       count(*) AS n, round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q10 — term document-frequency stats
# ---------------------------------------------------------------------------

def q10_term_stats(spark: SparkSession, sf_dir: str, top_n: int = 20) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(tokenize_text_expr("text")).alias("term"))
    stats = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"), F.count("*").alias("cf")
    )
    # global top-N as orderBy().limit(): Spark plans TakeOrderedAndProject
    # (per-partition top-N, then merge) — NOT a single-partition global
    # window, which would pull every distinct term through one reducer.
    return global_topn_ranked(
        stats, [("df", True), ("cf", True), ("term", False)], top_n, "r"
    ).select("term", "df", "cf", "r")


Q10_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOK_SQL.format(c='text')}) AS term FROM documents
),
s AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM t GROUP BY term
),
r AS (
  SELECT term, df, cf,
         row_number() OVER (ORDER BY df DESC, cf DESC, term ASC) AS r
  FROM s
)
SELECT term, df, cf, r::INT AS r FROM r WHERE r <= 20
"""


# ---------------------------------------------------------------------------
# q11 — exact dedup groups (hash groupBy)
# ---------------------------------------------------------------------------

def q11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_docs(spark, sf_dir)).select(
        "content_sha", "n_dupes", "keep_id"
    )


Q11_SQL = """
SELECT sha256(text) AS content_sha, count(*) AS n_dupes, min(doc_id) AS keep_id
FROM documents GROUP BY sha256(text)
"""


# ---------------------------------------------------------------------------
# q12 — n-gram Jaccard between deterministic pairs
# ---------------------------------------------------------------------------

def q12_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # the half-split is a broadcast scalar join, not a driver-side count():
    # query construction stays action-free (pure plan)
    half_df = docs.agg((F.count("*") / 2).cast("long").alias("half"))
    pairs = (
        docs.crossJoin(F.broadcast(half_df))
        .filter(F.col("doc_id") < F.col("half"))
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + F.col("half")).alias("id_b"),
        )
    )
    return jaccard_verify(pairs, docs, shingle_n=3, threshold=-1.0)


Q12_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
           AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           i -> array_to_string(toks[i:i+2], ' ')
         )) AS s
  FROM t
),
half AS (SELECT (count(*) // 2) AS h FROM documents),
p AS (
  SELECT doc_id AS id_a, doc_id + h AS id_b FROM documents, half
  WHERE doc_id < h
)
SELECT p.id_a, p.id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE, 6) AS jaccard
FROM p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b
WHERE len(a.s) > 0 AND len(b.s) > 0
"""


# ---------------------------------------------------------------------------
# q13 — MinHash signatures (exploded to scalars)
# ---------------------------------------------------------------------------

N_MINHASH = 8


def q13_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signature(
        _docs(spark, sf_dir), "doc_id", "text", n_hashes=N_MINHASH, shingle_n=3
    )
    return sigs.select(
        "doc_id",
        F.posexplode("sig").alias("hash_idx", "minhash"),
    ).select("doc_id", F.col("hash_idx").cast("int"), "minhash")


_MINHASH_COEFS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(N_MINHASH))
)

Q13_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
           AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS s
  FROM t WHERE len(toks) >= 3
),
e AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('0:' || unnest(s)), 1, 15) AS BIGINT)
           & {MINHASH_M} AS base
  FROM sh
),
coef(i, a, b) AS (VALUES {_MINHASH_COEFS})
SELECT e.doc_id, coef.i::INT AS hash_idx,
       min((coef.a * e.base + coef.b) % {MINHASH_M}) AS minhash
FROM e CROSS JOIN coef
GROUP BY e.doc_id, coef.i
"""


# ---------------------------------------------------------------------------
# q15 — brute-force embedding cosine top-k
# ---------------------------------------------------------------------------

def q15_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, _query_vectors(emb), k=3)


Q15_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_vec_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT q.query_vec_id, e.vec_id,
         {_COS_SQL.format(a='q.qvec', b='e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q WHERE q.query_vec_id <> e.vec_id
),
r AS (
  SELECT query_vec_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_vec_id, vec_id, cosine, rank::INT AS rank FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# q20 — document fingerprints (md5-normalized + rolling polynomial)
# ---------------------------------------------------------------------------

# 2^31-1 keeps acc*31 + hash60 < 2^63 — no int64 overflow under ANSI mode
_FP_MOD = 2**31 - 1


def q20_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = tokenize_text_expr("text")
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(31) + _hash60(x, 7), F.lit(_FP_MOD)),
    )
    return docs.select(
        "doc_id",
        F.md5(F.array_join(toks, " ")).alias("fp_md5"),
        rolling.alias("fp_rolling"),
    )


Q20_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOK_SQL.format(c='text')} AS toks FROM documents
)
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS fp_md5,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(toks,
             x -> CAST('0x' || substr(md5('7:' || x), 1, 15) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % {_FP_MOD}
       ) AS fp_rolling
FROM t
"""


# ---------------------------------------------------------------------------
# q26 — softmax: numerically-stable exp(x - max)/sum within groups
# ---------------------------------------------------------------------------

def q26_softmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    x = (F.col("n_chars") / 100.0).alias("x")
    w = Window.partitionBy("lang")
    df = docs.select("doc_id", "lang", x)
    mx = F.max("x").over(w)
    ex = F.exp(F.col("x") - mx)
    denom = F.sum(ex).over(w)
    return df.select(
        "doc_id", "lang", F.round(ex / denom, 6).alias("softmax")
    )


Q26_SQL = """
WITH s AS (
  SELECT doc_id, lang, n_chars / 100.0 AS x,
         max(n_chars / 100.0) OVER (PARTITION BY lang) AS mx
  FROM documents
),
e AS (
  SELECT doc_id, lang, exp(x - mx) AS ex,
         sum(exp(x - mx)) OVER (PARTITION BY lang) AS denom
  FROM s
)
SELECT doc_id, lang, round(ex / denom, 6) AS softmax FROM e
"""


# ---------------------------------------------------------------------------
# q27 — mean pooling: element-wise mean of an embedding column, emitted as
# (label, pos, mean_val) scalar rows
# ---------------------------------------------------------------------------

def q27_mean_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double"))
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("mean_val")
    )


Q27_SQL = """
WITH e AS (
  SELECT label,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
)
SELECT label, pos::INT AS pos, round(avg(v), 6) AS mean_val
FROM e GROUP BY label, pos
"""


# ---------------------------------------------------------------------------
# q28 — encoding cache: the reference's Redis KV lookup becomes a terms
# table + equi-join — no external service
# ---------------------------------------------------------------------------

def q28_cache_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # the "cache": a terms table computed once (in production: persisted /
    # checkpointed parquet — replaces the reference's Redis KV store)
    cache = docs.select(
        "doc_id", F.size(tokenize_text_expr("text")).alias("dl")
    )
    lookups = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "lang")
    return lookups.join(cache, "doc_id").select("doc_id", "lang", "dl")


Q28_SQL = """
WITH cache AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''))::INT AS dl
  FROM documents
)
SELECT d.doc_id, d.lang, cache.dl
FROM documents d JOIN cache USING (doc_id)
WHERE d.doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# q29 — seeded full-row shuffle: first 100 docs of the global permutation
# ---------------------------------------------------------------------------

_SHUF_SEED = 42


def q29_shuffled_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    emb = _read(spark, sf_dir, "embeddings")
    return srp_ann_topk(
        emb, _query_vectors(emb), k=_SRP_K, dim=_SRP_DIM, n_planes=_SRP_PLANES,
        bands=_SRP_BANDS, seed=_SRP_SEED,
    )


def _srp_banded_sql(src: str, idc: str, vec: str, alias: str) -> str:
    """``alias``(idc, v, band_id, band_key): every ``src`` row once per band,
    keyed with the SAME seeded hyperplanes as the operator — plane values
    are emitted with repr(), which round-trips float64 exactly, so the sign
    bits (rounded to 6dp before the test) match bit-for-bit."""
    planes = srp_planes(_SRP_DIM, _SRP_PLANES, _SRP_SEED)
    w = _SRP_PLANES // _SRP_BANDS

    def key(b: int) -> str:
        terms = []
        for j in range(w):
            lit = "[" + ", ".join(repr(float(x)) for x in planes[b * w + j]) + "]"
            terms.append(
                f"(CASE WHEN round(list_dot_product(CAST({vec} AS DOUBLE[]), {lit}), 6) > 0 "
                f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
            )
        return "(" + " + ".join(terms) + ")"

    sel = " UNION ALL ".join(
        f"SELECT {idc}, {vec} AS v, {b} AS band_id, {key(b)} AS band_key FROM {src}"
        for b in range(_SRP_BANDS)
    )
    return f"{alias} AS ({sel})"


Q31_SQL = f"""
WITH qsrc AS (
  SELECT vec_id AS query_vec_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
{_srp_banded_sql("embeddings", "vec_id", "embedding", "eb")},
{_srp_banded_sql("qsrc", "query_vec_id", "qvec", "qb")},
cand AS (
  SELECT DISTINCT qb.query_vec_id, eb.vec_id, qb.v AS qv, eb.v AS ev
  FROM eb JOIN qb ON eb.band_id = qb.band_id AND eb.band_key = qb.band_key
  WHERE qb.query_vec_id <> eb.vec_id
),
s AS (
  SELECT query_vec_id, vec_id, {_COS_SQL.format(a='qv', b='ev')} AS cosine FROM cand
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
# q35 — embedding-cosine near-dup pairs (SRP-banded self-join, exact verify)
# ---------------------------------------------------------------------------

_ND_THRESH = 0.4


def q35_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=_ND_THRESH, dim=_SRP_DIM, n_planes=_SRP_PLANES,
        bands=_SRP_BANDS, seed=_SRP_SEED,
    )


_COS35 = _COS_SQL.format(a="a.v", b="b.v")

Q35_SQL = f"""
WITH {_srp_banded_sql("embeddings", "vec_id", "embedding", "eb")},
sizes AS (
  SELECT band_id, band_key, count(*) AS n FROM eb GROUP BY band_id, band_key
),
bounded AS (
  SELECT eb.* FROM eb JOIN sizes USING (band_id, band_key)
  WHERE sizes.n BETWEEN 2 AND 1024
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {_COS35} AS cosine
FROM bounded a
JOIN bounded b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
WHERE {_COS35} >= {_ND_THRESH}
"""


# ---------------------------------------------------------------------------
# q37 — IVF-style ANN: FIXED-K coarse quantizer (the K vectors with the
# smallest md5-hash of their id — K independent of N, so the centroid
# broadcast and the N × K assignment scale), nprobe cell scan. The oracle
# reproduces the whole construction with the same hash ORDER BY ... LIMIT K.
# ---------------------------------------------------------------------------

_IVF_K, _IVF_NPROBE = 16, 8


def q37_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, _query_vectors(emb), k=_SRP_K, n_centroids=_IVF_K,
        nprobe=_IVF_NPROBE,
    )


def _ivf_sql(centroid_where: str = "") -> str:
    """The one-shot IVF construction; ``centroid_where`` limits the rows
    the centroids are drawn from (assignment still covers every vector)."""
    return f"""
WITH ch AS (
  SELECT vec_id AS centroid_id, embedding AS cvec,
         CAST('0x' || substr(md5('777:' || vec_id::VARCHAR), 1, 15) AS BIGINT) AS h
  FROM embeddings{centroid_where}
),
cents AS (
  SELECT centroid_id, cvec FROM ch ORDER BY h ASC, centroid_id ASC LIMIT {_IVF_K}
),
vass AS (
  SELECT vec_id, evec, centroid_id FROM (
    SELECT e.vec_id, e.embedding AS evec, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT query_vec_id, qvec, centroid_id FROM (
    SELECT q.vec_id AS query_vec_id, q.embedding AS qvec, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='q.embedding', b='c.cvec')} DESC,
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
         {_COS_SQL.format(a='qvec', b='evec')} AS cosine
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


Q37_SQL = _ivf_sql()


# ---------------------------------------------------------------------------
# q38 — the INDEXED BM25 engine: build a sharded index over the documents
# table, search it, and hash-compare against the exact index-free BM25
# oracle (Q01_SQL).
# ---------------------------------------------------------------------------

def q38_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    raw = search(spark, idx, _queries(spark, BM25_QUERIES), k=_OVERFETCH)
    return _rounded_topk(raw)


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
# q41 — compaction: build an index over documents, kill doc_id % 10 == 0,
# compact_index (only touched shards rebuilt, stats recomputed over
# survivors), search — must equal exact BM25 over the filtered corpus (a
# compacted index IS the index of the filtered corpus, bit for bit).
# ---------------------------------------------------------------------------

def _compacted_index(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> str:
        idx = root + "/index"
        ingested = _index_input(_docs(spark, sf_dir))
        build_index(ingested, idx, docs_per_shard=_DPS, term_buckets=2)
        kill = ingested.filter(F.col("doc_id") % 10 == 0).select("doc_id")
        compact_index(spark, idx, kill)
        return idx

    return _once("q41_idx", sf_dir, build)


def q41_compacted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _compacted_index(spark, sf_dir)
    raw = search(spark, idx, _queries(spark, BM25_QUERIES), k=_OVERFETCH)
    return _rounded_topk(raw)


# stats (N, df, avgdl) recomputed over the surviving corpus, exactly like
# the compacted build
Q41_SQL = _bm25_sql(_QT_SQL, where=" WHERE doc_id % 10 <> 0")


# ---------------------------------------------------------------------------
# q42 — connected components via the large-star/small-star contraction over
# the q30 pair graph; oracle: recursive-CTE transitive closure over the SAME
# pair relation (Q30_SQL).
# ---------------------------------------------------------------------------

def q42_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(
        q30_simhash_pairs(spark, sf_dir), algorithm="star"
    )


Q42_SQL = f"""
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
# q43 — tombstoned indexed search: the q38 index with a kill-list
# (doc_id % 7 == 0) — tombstones mask RESULTS; corpus statistics stay those
# of the full index, hence the oracle filters after scoring.
# ---------------------------------------------------------------------------

def q43_tombstoned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    kill = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0).select("doc_id")
    raw = search(
        spark, idx, _queries(spark, BM25_QUERIES), k=_OVERFETCH,
        exclude_doc_ids=kill,
    )
    return _rounded_topk(raw)


Q43_SQL = _bm25_sql(_QT_SQL, keep=" WHERE doc_id % 7 <> 0")


# ---------------------------------------------------------------------------
# q47 — seeded weighted sampling without replacement (Efraimidis–Spirakis
# A-Res over md5-derived uniforms): top-100 documents by u^(1/n_chars);
# executes as TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_WS_SEED, _WS_N = 42, 100


def q47_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# surface (search's include_doc_ids). Oracle: exact BM25 with the same
# post-scoring inclusion (the tombstone convention).
# ---------------------------------------------------------------------------

def q48_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    allowed = _docs(spark, sf_dir).filter(F.col("lang") == "en").select("doc_id")
    raw = search(
        spark, idx, _queries(spark, BM25_QUERIES), k=_OVERFETCH,
        include_doc_ids=allowed,
    )
    return _rounded_topk(raw)


Q48_SQL = _bm25_sql(
    _QT_SQL,
    keep=" WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
)


# ---------------------------------------------------------------------------
# q49 — the distributed query plane over q38's index, under q38's oracle:
# the pair proves the two query planes interchangeable.
# ---------------------------------------------------------------------------

def q49_distributed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    raw = search(
        spark, idx, _queries(spark, BM25_QUERIES), k=_OVERFETCH,
        query_mode="distributed",
    )
    return _rounded_topk(raw)


# ---------------------------------------------------------------------------
# q50 — PERSISTED IVF ANN index (index/ann.py): build the on-disk artifact,
# search it prebuilt, hash-match the SAME oracle as the inline operator
# (Q37_SQL).
# ---------------------------------------------------------------------------

def _ann_index(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> str:
        idx = root + "/ann_index"
        build_ann_index(
            _read(spark, sf_dir, "embeddings"), idx,
            n_centroids=_IVF_K, quantizer="hash",
        )
        return idx

    return _once("q50_ann", sf_dir, build)


def q50_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ann_index(spark, sf_dir)
    qv = _query_vectors(_read(spark, sf_dir, "embeddings"))
    return search_ann_index(spark, idx, qv, k=_SRP_K, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# q51 — stratified weighted sampling: per-lang quotas over the same seeded
# Efraimidis–Spirakis keys as q47, ranked by a partitioned window.
# ---------------------------------------------------------------------------

_Q51_SEED, _Q51_DEFAULT, _Q51_EN = 42, 20, 30


def q51_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# q56 — INCREMENTAL ANN maintenance: build the persisted IVF artifact over a
# BASE subset (vec_id % 10 <> 3), fold the rest in with refresh_ann_index
# (assignment to the EXISTING centroids, nothing rebuilt), then search. The
# oracle is the one-shot IVF construction with centroids drawn from the base
# subset and assignment over ALL vectors.
# ---------------------------------------------------------------------------

_Q56_MOD, _Q56_RES = 10, 3  # vec_id % 10 == 3 rows arrive as the window


def _refreshed_ann_index(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> str:
        idx = root + "/ann_index"
        emb = _read(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % _Q56_MOD != _Q56_RES)
        window = emb.filter(F.col("vec_id") % _Q56_MOD == _Q56_RES)
        build_ann_index(base, idx, n_centroids=_IVF_K, quantizer="hash")
        refresh_ann_index(spark, idx, window, assume_new_ids=True)
        return idx

    return _once("q56_ann_inc", sf_dir, build)


def q56_ann_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _refreshed_ann_index(spark, sf_dir)
    qv = _query_vectors(_read(spark, sf_dir, "embeddings"))
    return search_ann_index(spark, idx, qv, k=_SRP_K, nprobe=_IVF_NPROBE)


Q56_SQL = _ivf_sql(f" WHERE vec_id % {_Q56_MOD} <> {_Q56_RES}")


# ---------------------------------------------------------------------------
# q57 — cross-index merge: split the documents at a shard-aligned boundary,
# build TWO independent indexes (each with its own doc-id space from 0),
# merge_indexes them and search the merged index under Q01_SQL. The aligned
# split makes the merge's rebase reproduce the table ids exactly.
# ---------------------------------------------------------------------------

def _merged_index(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> str:
        docs = _index_input(_docs(spark, sf_dir))
        n = docs.count()
        cut = max(_DPS, (n // 2) // _DPS * _DPS)
        a = docs.filter(F.col("doc_id") < cut)
        b = docs.filter(F.col("doc_id") >= cut).withColumn(
            "doc_id", F.col("doc_id") - F.lit(int(cut))
        )
        ia, ib, im = (f"{root}/{x}" for x in ("a", "b", "merged"))
        build_index(a, ia, docs_per_shard=_DPS, term_buckets=2)
        build_index(b, ib, docs_per_shard=_DPS, term_buckets=2)
        merge_indexes(spark, [ia, ib], im, build_tag="q57_merge")
        return im

    return _once("q57_merge_idx", sf_dir, build)


def q57_merged_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _merged_index(spark, sf_dir)
    raw = search(spark, idx, _queries(spark, BM25_QUERIES), k=_OVERFETCH)
    return _rounded_topk(raw)


# ---------------------------------------------------------------------------
# q58/q59 — PHRASE search over a positional index (index/phrase.py) on both
# phrase planes: a phrase matches docs with the tokens at CONSECUTIVE
# positions, n_occ counting ALL starts (overlapping included). The oracle
# recomputes the same from the raw text with 1-based list indexing.
# ---------------------------------------------------------------------------

PHRASE_QUERIES: list[tuple[int, str]] = [
    (0, "table hash"),
    (1, "slow hash batch"),
    (2, "customer join"),
    (3, "merge"),                      # single-term phrase: n_occ == tf
    (4, "zzz never matches anything"),
]


def _phrase(spark: SparkSession, sf_dir: str, query_mode: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir, "q58_pos_idx", positions=True)
    res = search_phrase(
        spark, idx, _queries(spark, PHRASE_QUERIES), k=_K,
        query_mode=query_mode,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("n_occ").cast("long"),
        F.col("rank").cast("int"),
    )


def q58_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _phrase(spark, sf_dir, "broadcast")


def q59_phrase_search_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _phrase(spark, sf_dir, "distributed")


def _phrase_sql() -> str:
    arms = []
    for qid, phrase in PHRASE_QUERIES:
        toks = [t for t in phrase.lower().split() if t]
        L = len(toks)
        cond = " AND ".join(
            f"terms[i+{j}] = '{t}'" for j, t in enumerate(toks)
        )
        arms.append(
            f"SELECT {qid} AS query_id, doc_id, "
            f"len(list_filter(range(1, greatest(len(terms)-{L - 1}, 0)+1), "
            f"i -> {cond}))::BIGINT AS n_occ FROM tok"
        )
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL.format(c='text')} AS terms FROM documents
),
m AS ({" UNION ALL ".join(arms)}),
f AS (SELECT * FROM m WHERE n_occ > 0),
r AS (
  SELECT query_id, doc_id, n_occ,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_occ DESC, doc_id) AS rank
  FROM f
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       n_occ::BIGINT AS n_occ, rank::INT AS rank
FROM r WHERE rank <= {_K}
"""


Q58_SQL = _phrase_sql()


# ---------------------------------------------------------------------------
# q60 — snippet extraction (operators/snippets.py): the token context window
# around each document's FIRST phrase occurrence, pure Catalyst array
# expressions; the oracle hash-gates the snippet STRINGS themselves.
# ---------------------------------------------------------------------------

_Q60_WINDOW = 3


def q60_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return snippet_windows(
        _docs(spark, sf_dir), _queries(spark, PHRASE_QUERIES),
        window=_Q60_WINDOW,
    )


Q60_SQL = snippet_sql(
    [(qid, [t for t in phrase.lower().split() if t])
     for qid, phrase in PHRASE_QUERIES],
    _Q60_WINDOW,
    _TOK_SQL.format(c="text"),
)


# ---------------------------------------------------------------------------
# q61/q62/q77 — boolean BM25 search (+required / -forbidden / bare scored —
# index/boolean.py) on both planes, and minimum_should_match, against ONE
# from-scratch oracle that re-derives the conjunction, exclusion,
# OOV-required, role-conflict and msm rules relationally from the raw text.
# ---------------------------------------------------------------------------

# documents-table vocabulary (TESTDATA.md): query plan window customer data
# stream join filter group slow table scan merge spark row batch sort hash
# value part key agg fast small big line column vector order a the
BOOLEAN_QUERIES: list[tuple[int, str]] = [
    (0, "+table scan"),            # one required + one optional
    (1, "+join +filter group"),    # conjunction + optional
    (2, "customer -stream"),       # exclusion
    (3, "+merge -batch -sort"),    # required + two exclusions
    (4, "+zzqqnope table"),        # OOV required → matches nothing
    (5, "spark -spark row"),       # role conflict: forbidden wins
]


def q61_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    queries = _queries(spark, BOOLEAN_QUERIES)
    return _rounded_topk(search_boolean(spark, idx, queries, k=_OVERFETCH))


def q62_boolean_search_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    queries = _queries(spark, BOOLEAN_QUERIES)
    return _rounded_topk(
        search_boolean(
            spark, idx, queries, k=_OVERFETCH, query_mode="distributed"
        )
    )


def _qterms_sql(queries: list[tuple[int, str]]) -> str:
    vals = ", ".join(
        f"({qid}, '{term}', {role})"
        for qid, q in queries
        for term, role in parse_boolean_query(q)
    )
    return f"qterms(query_id, term, role) AS (VALUES {vals})"


def _boolean_sql(queries: list[tuple[int, str]], msm: int = 0) -> str:
    return f"""
WITH {_qterms_sql(queries)},
{_corpus_ctes()},
dfr AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT term FROM qterms WHERE role < 2) GROUP BY term
),
dead AS (  -- an out-of-vocabulary REQUIRED term kills its query
  SELECT DISTINCT q.query_id FROM qterms q LEFT JOIN dfr USING (term)
  WHERE q.role = 1 AND dfr.term IS NULL
),
reqn AS (
  SELECT query_id, count(*) AS n_req FROM qterms WHERE role = 1
  GROUP BY query_id
),
optn AS (  -- in-vocabulary OPTIONAL terms per query (the msm domain)
  SELECT q.query_id, count(*) AS n_opt
  FROM qterms q JOIN dfr USING (term) WHERE q.role = 0
  GROUP BY q.query_id
),
con AS (
  SELECT q.query_id, tf.doc_id, q.role, q.term,
         {_BM25_C} AS c
  FROM tf JOIN qterms q USING (term) JOIN dfr USING (term) CROSS JOIN st
  WHERE q.role < 2
),
sc AS (
  SELECT query_id, doc_id, round(sum(c), 4) AS score,
         count(DISTINCT CASE WHEN role = 1 THEN term END) AS got_req,
         count(DISTINCT CASE WHEN role = 0 THEN term END) AS got_opt
  FROM con GROUP BY query_id, doc_id
),
neg AS (
  SELECT DISTINCT q.query_id, tf.doc_id
  FROM tf JOIN qterms q USING (term) WHERE q.role = 2
),
ok AS (
  SELECT sc.query_id, sc.doc_id, sc.score
  FROM sc
  LEFT JOIN reqn USING (query_id)
  LEFT JOIN optn USING (query_id)
  WHERE coalesce(reqn.n_req, 0) = sc.got_req
    AND (coalesce(optn.n_opt, 0) = 0 OR sc.got_opt >= {msm})
    AND sc.query_id NOT IN (SELECT query_id FROM dead)
    AND NOT EXISTS (SELECT 1 FROM neg
                    WHERE neg.query_id = sc.query_id
                      AND neg.doc_id = sc.doc_id)
),
{_ranked_sql("ok")}
"""


Q61_SQL = _boolean_sql(BOOLEAN_QUERIES)


# ---------------------------------------------------------------------------
# q63 — prefix expansion (index/prefix.py): the oracle rebuilds the term
# dictionary, expands ``LIKE prefix%`` with the same deterministic
# per-pattern truncation and scores the expanded disjunction.
# ---------------------------------------------------------------------------

PREFIX_QUERIES: list[tuple[int, str]] = [
    (0, "s* customer"),            # wide expansion (scan slow spark sort …)
    (1, "quer*"),                  # single-term expansion
    (2, "zzqq* merge"),            # no-match pattern + literal
    (3, "val* part"),
]

_MAX_EXP = 1024


def q63_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    return _rounded_topk(
        search_prefix(
            spark, idx, _queries(spark, PREFIX_QUERIES), k=_OVERFETCH,
            max_expansions=_MAX_EXP,
        )
    )


def _prefix_sql() -> str:
    lit_vals, pfx_vals = [], []
    for qid, q in PREFIX_QUERIES:
        lits, stems = split_prefix_query(q)
        # the gate's literal segments are single plain tokens, so lower()
        # is the whole tokenizer here
        lit_vals += [f"({qid}, '{seg.lower()}')" for seg in lits]
        pfx_vals += [f"({qid}, '{s}')" for s in stems]
    expd = f"""qpfx(query_id, prefix) AS (VALUES {", ".join(pfx_vals) or "(NULL, NULL)"}),
pexp AS (  -- per-pattern deterministic truncation, engine rule
  SELECT prefix, term FROM (
    SELECT dp.prefix, d.term,
           row_number() OVER (PARTITION BY dp.prefix ORDER BY d.term) AS rn
    FROM (SELECT DISTINCT prefix FROM qpfx WHERE prefix IS NOT NULL) dp
    JOIN dict d ON starts_with(d.term, dp.prefix)
  ) WHERE rn <= {_MAX_EXP}
),
expd AS (SELECT p.query_id, e.term FROM qpfx p JOIN pexp e USING (prefix))"""
    return _bm25_sql(_expansion_qt(lit_vals, expd))


Q63_SQL = _prefix_sql()


# ---------------------------------------------------------------------------
# q64 — facet_counts (operators/facets.py) over the q38 result set; the
# oracle recomputes the top-10 with Q01_SQL and aggregates the same
# (lang, source) histograms.
# ---------------------------------------------------------------------------

def q64_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = q38_indexed_search(spark, sf_dir)  # hash-matches Q01's top-10
    docs = _docs(spark, sf_dir)
    return facet_counts(res, docs, ["lang", "source"]).select(
        F.col("query_id").cast("long"),
        F.col("facet").cast("string"),
        F.col("value").cast("string"),
        F.col("n_docs").cast("long"),
    )


Q64_SQL = f"""
WITH res AS ({Q01_SQL}),
j AS (
  SELECT r.query_id, d.lang, d.source
  FROM res r JOIN documents d USING (doc_id)
)
SELECT query_id::BIGINT AS query_id, 'lang' AS facet,
       lang::VARCHAR AS value, count(*)::BIGINT AS n_docs
FROM j GROUP BY 1, 3
UNION ALL
SELECT query_id::BIGINT, 'source', source::VARCHAR, count(*)::BIGINT
FROM j GROUP BY 1, 3
"""


# ---------------------------------------------------------------------------
# q65 — fuzzy search (index/fuzzy.py): the deletion-neighborhood join +
# levenshtein verify must expand to exactly {t : lev(stem, t) <= e}, which
# the oracle states directly with DuckDB's levenshtein().
# ---------------------------------------------------------------------------

FUZZY_QUERIES: list[tuple[int, str]] = [
    (0, "merg~ window"),     # 1-edit neighbor + literal
    (1, "qery~2 table"),     # 2-edit segment
    (2, "zzzzzz~ scan"),     # no fuzzy match + literal
    (3, "stram~"),           # 1-edit only
    (4, "haash~2"),
]


def q65_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    return _rounded_topk(
        search_fuzzy(spark, idx, _queries(spark, FUZZY_QUERIES), k=_OVERFETCH)
    )


def _fuzzy_sql() -> str:
    lit_vals, fz_vals = [], []
    for qid, q in FUZZY_QUERIES:
        lits, fuzz = split_fuzzy_query(q)
        lit_vals += [f"({qid}, '{seg.lower()}')" for seg in lits]
        fz_vals += [f"({qid}, '{stem}', {edits})" for stem, edits in fuzz]
    expd = f"""qfz(query_id, stem, edits) AS (VALUES {", ".join(fz_vals) or "(NULL, NULL, NULL)"}),
expd AS (
  SELECT f.query_id, d.term
  FROM qfz f JOIN dict d ON levenshtein(f.stem, d.term) <= f.edits
  WHERE f.query_id IS NOT NULL
)"""
    return _bm25_sql(_expansion_qt(lit_vals, expd))


Q65_SQL = _fuzzy_sql()


# ---------------------------------------------------------------------------
# q66 — count_matches (index/boolean.py): total hits per query under the
# boolean grammar.
# ---------------------------------------------------------------------------

def q66_count_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    return count_matches(spark, idx, _queries(spark, BOOLEAN_QUERIES)).select(
        F.col("query_id").cast("long"),
        F.col("n_matches").cast("long"),
    )


Q66_SQL = f"""
WITH {_qterms_sql(BOOLEAN_QUERIES)},
allq(query_id) AS (VALUES {", ".join(f"({qid})" for qid, _ in BOOLEAN_QUERIES)}),
{_corpus_ctes()},
reqn AS (
  SELECT query_id, count(*) AS n_req FROM qterms WHERE role = 1
  GROUP BY query_id
),
hit AS (  -- docs with >=1 positive term; count required hits alongside
  SELECT q.query_id, tf.doc_id,
         count(DISTINCT CASE WHEN q.role = 1 THEN q.term END) AS got_req
  FROM tf JOIN qterms q USING (term)
  WHERE q.role < 2
  GROUP BY q.query_id, tf.doc_id
),
neg AS (
  SELECT DISTINCT q.query_id, tf.doc_id
  FROM tf JOIN qterms q USING (term) WHERE q.role = 2
),
ok AS (
  SELECT hit.query_id, hit.doc_id
  FROM hit LEFT JOIN reqn USING (query_id)
  WHERE coalesce(reqn.n_req, 0) = hit.got_req
    AND NOT EXISTS (SELECT 1 FROM neg
                    WHERE neg.query_id = hit.query_id
                      AND neg.doc_id = hit.doc_id)
),
cnt AS (SELECT query_id, count(*) AS n FROM ok GROUP BY query_id)
SELECT a.query_id::BIGINT AS query_id,
       coalesce(cnt.n, 0)::BIGINT AS n_matches
FROM allq a LEFT JOIN cnt USING (query_id)
"""


# ---------------------------------------------------------------------------
# q67 — did-you-mean (index/fuzzy.py::suggest_terms): dictionary terms
# within 2 edits, ranked (distance ASC, df DESC, suggestion ASC).
# ---------------------------------------------------------------------------

SUGGEST_TERMS: list[str] = ["tble", "scann", "merge", "qery", "zzqqzz"]


def q67_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    terms = spark.createDataFrame(
        [(t,) for t in SUGGEST_TERMS], "term string"
    )
    return suggest_terms(spark, idx, terms, max_edits=2, k=3).select(
        F.col("term").cast("string"),
        F.col("suggestion").cast("string"),
        F.col("distance").cast("int"),
        F.col("df").cast("long"),
        F.col("rank").cast("int"),
    )


Q67_SQL = f"""
WITH q(term) AS (VALUES {", ".join(f"('{t}')" for t in SUGGEST_TERMS)}),
{_corpus_ctes()},
dict AS (
  SELECT term AS suggestion, count(*)::BIGINT AS df FROM tf GROUP BY term
),
m AS (
  SELECT q.term, d.suggestion,
         levenshtein(q.term, d.suggestion)::INT AS distance, d.df
  FROM q JOIN dict d ON levenshtein(q.term, d.suggestion) <= 2
),
r AS (
  SELECT term, suggestion, distance, df,
         row_number() OVER (PARTITION BY term
                            ORDER BY distance ASC, df DESC,
                                     suggestion ASC) AS rank
  FROM m
)
SELECT term::VARCHAR AS term, suggestion::VARCHAR AS suggestion,
       distance::INT AS distance, df::BIGINT AS df, rank::INT AS rank
FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# q68/q69 — multi-field weighted search (index/fields.py) on both planes.
# Fields derive from the single-text documents table (title = first 8
# tokens, body = the rest; every doc carries >= 10 tokens); each field is
# indexed separately and the oracle recomputes BOTH fields' BM25 from their
# own statistics, combined as 2.0·title + 1.0·body.
# ---------------------------------------------------------------------------

_N_HEAD = 8
_W_TITLE = 2.0
_W_BODY = 1.0


def _field_indexes(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    def build(root: str) -> tuple[str, str]:
        base = _docs(spark, sf_dir)
        for name, head in (("title", True), ("body", False)):
            fld = derive_field(base, "text", _N_HEAD, head=head)
            build_index(
                _index_input(fld), f"{root}/{name}",
                docs_per_shard=_DPS, term_buckets=2,
            )
        return root + "/title", root + "/body"

    return _once("q68_fields", sf_dir, build)


def _multifield(spark: SparkSession, sf_dir: str, query_mode: str) -> DataFrame:
    title, body = _field_indexes(spark, sf_dir)
    raw = search_fields(
        spark,
        [("title", title, _W_TITLE), ("body", body, _W_BODY)],
        _queries(spark, BM25_QUERIES),
        k=_OVERFETCH,
        query_mode=query_mode,
    )
    return _rounded_topk(raw)


def q68_multifield_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _multifield(spark, sf_dir, "broadcast")


def q69_multifield_search_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _multifield(spark, sf_dir, "distributed")


Q68_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL.format(c='text')} AS terms FROM documents
),
fld AS (
  SELECT doc_id, 'title' AS field, terms[1:{_N_HEAD}] AS terms FROM tok
  UNION ALL
  SELECT doc_id, 'body', terms[{_N_HEAD + 1}:len(terms)] FROM tok
),
dd  AS (
  SELECT field, doc_id, terms, len(terms) AS dl FROM fld
  WHERE len(terms) > 0
),
st  AS (
  SELECT field, count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dd
  GROUP BY field
),
tf  AS (
  SELECT field, doc_id, term, count(*)::DOUBLE AS tf, min(dl)::DOUBLE AS dl
  FROM (SELECT field, doc_id, unnest(terms) AS term, dl FROM dd)
  GROUP BY field, doc_id, term
),
{_QT_SQL},
dfr AS (
  SELECT field, term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT term FROM qt) GROUP BY field, term
),
con AS (
  SELECT tf.field, qt.query_id, tf.doc_id,
         {_BM25_C} AS c
  FROM tf
  JOIN qt USING (term)
  JOIN dfr ON dfr.field = tf.field AND dfr.term = tf.term
  JOIN st  ON st.field = tf.field
),
scf AS (
  SELECT field, query_id, doc_id, sum(c) AS s
  FROM con GROUP BY field, query_id, doc_id
),
comb AS (
  SELECT query_id, doc_id,
         round({_W_TITLE} * coalesce(max(CASE WHEN field = 'title' THEN s END), 0)
             + {_W_BODY} * coalesce(max(CASE WHEN field = 'body' THEN s END), 0),
               4) AS score
  FROM scf GROUP BY query_id, doc_id
),
{_ranked_sql("comb")}
"""


# ---------------------------------------------------------------------------
# q70 — graded ranking metrics (nDCG@k + recall@k, operators/rank_metrics.py)
# over the q04 per-lang ranked list; judgments are docs with
# doc_id % 5 == 0 graded rel = 1 + doc_id % 3.
# ---------------------------------------------------------------------------

_NDCG_K = 10


def q70_ndcg_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    res = (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NDCG_K)
        .select("lang", "doc_id", "rank")
    )
    qrels = docs.filter(F.col("doc_id") % 5 == 0).select(
        "lang", "doc_id", (F.lit(1) + F.col("doc_id") % 3).alias("rel")
    )
    out = ndcg_recall(res, qrels, k=_NDCG_K, query_col="lang")
    return out.select(
        F.col("lang").cast("string"),
        F.round("ndcg", 6).alias("ndcg"),
        F.round("recall", 6).alias("recall"),
    )


Q70_SQL = f"""
WITH res AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
),
topk AS (SELECT lang, doc_id, rank FROM res WHERE rank <= {_NDCG_K}),
judged AS (
  SELECT lang, doc_id, (1 + doc_id % 3)::DOUBLE AS rel
  FROM documents WHERE doc_id % 5 = 0
),
hit AS (
  SELECT t.lang, t.rank, j.rel
  FROM topk t JOIN judged j ON t.lang = j.lang AND t.doc_id = j.doc_id
),
dcg AS (
  SELECT lang, sum((pow(2.0, rel) - 1) / log2(rank + 1.0)) AS dcg,
         count(*)::DOUBLE AS hits
  FROM hit GROUP BY lang
),
ideal AS (
  SELECT lang, sum((pow(2.0, rel) - 1) / log2(irank + 1.0)) AS idcg
  FROM (
    SELECT lang, rel,
           row_number() OVER (PARTITION BY lang
                              ORDER BY rel DESC, doc_id ASC) AS irank
    FROM judged
  ) WHERE irank <= {_NDCG_K}
  GROUP BY lang
),
nrel AS (SELECT lang, count(*)::DOUBLE AS n_rel FROM judged GROUP BY lang)
SELECT n.lang::VARCHAR AS lang,
       round(coalesce(d.dcg, 0) / i.idcg, 6)::DOUBLE AS ndcg,
       round(coalesce(d.hits, 0) / n.n_rel, 6)::DOUBLE AS recall
FROM nrel n
JOIN ideal i USING (lang)
LEFT JOIN dcg d USING (lang)
"""


# ---------------------------------------------------------------------------
# q71/q72 — more-like-this (index/mlt.py) on both planes: seed docs 0/1/2
# as their own queries, top-5 interesting terms by round(tf·idf, 6) with
# (tscore DESC, term ASC) ties, BM25 over the selected terms, the seed
# anti-joined out.
# ---------------------------------------------------------------------------

_MLT_SEEDS: list[tuple[int, int]] = [(0, 0), (1, 1), (2, 2)]
_MLT_TERMS = 5


def _mlt(spark: SparkSession, sf_dir: str, query_mode: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    seeds = spark.createDataFrame(_MLT_SEEDS, "query_id long, doc_id long")
    raw = more_like_this(
        spark, idx, seeds, k=_OVERFETCH, max_terms=_MLT_TERMS,
        query_mode=query_mode,
    )
    return _rounded_topk(raw)


def q71_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mlt(spark, sf_dir, "broadcast")


def q72_more_like_this_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mlt(spark, sf_dir, "distributed")


Q71_SQL = _bm25_sql(
    f"""seeds(query_id, doc_id) AS (VALUES {", ".join(f"({q}, {d})" for q, d in _MLT_SEEDS)}),
dfr_all AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
seedtf AS (
  SELECT s.query_id, u.term, count(*)::DOUBLE AS stf
  FROM seeds s
  JOIN (SELECT doc_id, unnest(terms) AS term FROM dd) u USING (doc_id)
  GROUP BY s.query_id, u.term
),
tsc AS (
  SELECT query_id, term,
         round(stf * ln(1 + (st.n - d.df + 0.5)/(d.df + 0.5)), 6) AS tscore
  FROM seedtf JOIN dfr_all d USING (term) CROSS JOIN st
),
qt AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY tscore DESC, term ASC) AS rn
    FROM tsc
  ) WHERE rn <= {_MLT_TERMS}
)""",
    keep=""" WHERE NOT EXISTS (SELECT 1 FROM seeds s
                    WHERE s.query_id = sc.query_id
                      AND s.doc_id = sc.doc_id)""",
)


# ---------------------------------------------------------------------------
# q73 — synonym-expansion search (index/synonyms.py): query terms expand
# through a (term, variant) relation, variants score as ordinary terms with
# their own df.
# ---------------------------------------------------------------------------

_SYNONYMS: list[tuple[str, str]] = [
    ("plan", "scan"),        # widen q0
    ("scan", "plan"),        # symmetric direction exercised via q3
    ("customer", "value"),   # cross-topic variant
    ("merge", "join"),
    ("zzqqnope", "table"),   # synonym of a term no query uses: inert
]


def q73_synonym_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    syn = spark.createDataFrame(_SYNONYMS, "term string, variant string")
    raw = search_synonyms(
        spark, idx, _queries(spark, BM25_QUERIES), syn, k=_OVERFETCH
    )
    return _rounded_topk(raw)


Q73_SQL = _bm25_sql(
    f"""q(query_id, query) AS (VALUES {_QUERY_VALUES_SQL}),
syn(term, variant) AS (VALUES {", ".join(f"('{t}', '{v}')" for t, v in _SYNONYMS)}),
qt0 AS (
  SELECT DISTINCT query_id, unnest({_TOK_SQL.format(c='query')}) AS term
  FROM q
),
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, term FROM qt0
    UNION ALL
    SELECT q0.query_id, s.variant FROM qt0 q0 JOIN syn s USING (term)
  )
)"""
)


# ---------------------------------------------------------------------------
# q74 — build-time stopwords (build_index(stopwords=...)): the index drops
# 'a' and 'the' at build time (StopFilter semantics: dl/avgdl count indexed
# terms only); the oracle filters the token lists before every statistic.
# ---------------------------------------------------------------------------

_STOPWORDS: list[str] = ["a", "the"]
_STOP_QUERIES: list[tuple[int, str]] = [
    (0, "the query plan"),      # stopword + scored terms
    (1, "a customer stream"),
    (2, "table scan"),          # no stopwords: sanity leg
    (3, "the a"),               # stopword-only: empty result
]


def q74_stopword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir, "q74_stop_idx", stopwords=_STOPWORDS)
    raw = search(spark, idx, _queries(spark, _STOP_QUERIES), k=_OVERFETCH)
    return _rounded_topk(raw)


_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)

Q74_SQL = _bm25_sql(
    f"""q(query_id, query) AS (VALUES {", ".join(f"({i}, '{q}')" for i, q in _STOP_QUERIES)}),
qt  AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest({_TOK_SQL.format(c='query')}) AS term FROM q
  ) WHERE term NOT IN ({_STOP_IN})
)""",
    terms=f"list_filter({_TOK_SQL.format(c='text')}, t -> t NOT IN ({_STOP_IN}))",
)


# ---------------------------------------------------------------------------
# q75 — regex term search (index/regexq.py): /pattern/ segments expand
# against the term dictionary with FULL anchoring; the oracle states the
# same match with regexp_full_match. Patterns kept to the RE2/Java-regex
# common dialect.
# ---------------------------------------------------------------------------

_REGEX_QUERIES: list[tuple[int, str]] = [
    (0, "/quer(y|ies)/ plan"),     # alternation + literal
    (1, "/s(can|low)/"),           # two-branch class
    (2, "/filt.r/ group"),         # single-char wildcard
    (3, "/zzz+q/ table"),          # no-match pattern + literal
]


def q75_regex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    return _rounded_topk(
        search_regex(spark, idx, _queries(spark, _REGEX_QUERIES), k=_OVERFETCH)
    )


def _regex_sql() -> str:
    lit_vals, pat_vals = [], []
    for qid, q in _REGEX_QUERIES:
        lits, pats = split_regex_query(q)
        lit_vals += [f"({qid}, '{seg.lower()}')" for seg in lits]
        pat_vals += [f"({qid}, '{p}')" for p in pats]
    expd = f"""qpat(query_id, pattern) AS (VALUES {", ".join(pat_vals) or "(NULL, NULL)"}),
expd AS (
  SELECT p.query_id, d.term
  FROM qpat p JOIN dict d ON regexp_full_match(d.term, p.pattern)
  WHERE p.query_id IS NOT NULL
)"""
    return _bm25_sql(_expansion_qt(lit_vals, expd))


Q75_SQL = _regex_sql()


# ---------------------------------------------------------------------------
# q76 — bag-of-terms snippets (operators/snippets.py::term_snippet_windows)
# over the q38 top-10 result set: window anchored at the first occurrence of
# ANY query term.
# ---------------------------------------------------------------------------

_SNIP_WINDOW = 4


def q76_term_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = q38_indexed_search(spark, sf_dir)  # hash-matches Q01's top-10
    return term_snippet_windows(
        _docs(spark, sf_dir), _queries(spark, BM25_QUERIES), results=res,
        window=_SNIP_WINDOW,
    )


Q76_SQL = f"""
WITH res AS ({Q01_SQL}),
q(query_id, query) AS (VALUES {_QUERY_VALUES_SQL}),
qt AS (
  SELECT query_id, {_TOK_SQL.format(c='query')} AS qtoks FROM q
),
tok AS (
  SELECT doc_id, {_TOK_SQL.format(c='text')} AS terms FROM documents
),
m AS (
  SELECT r.query_id, r.doc_id, t.terms,
         list_filter(range(1, len(t.terms)+1),
                     i -> list_contains(qt.qtoks, t.terms[i]))[1] AS first_pos
  FROM (SELECT DISTINCT query_id, doc_id FROM res) r
  JOIN tok t USING (doc_id)
  JOIN qt  USING (query_id)
),
f AS (SELECT * FROM m WHERE first_pos IS NOT NULL),
s AS (
  SELECT query_id, doc_id, first_pos,
         greatest(first_pos - {_SNIP_WINDOW}, 1) AS st, terms
  FROM f
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       first_pos::BIGINT AS first_pos,
       array_to_string(list_slice(terms, st, st + {2 * _SNIP_WINDOW}), ' ') AS snippet
FROM s
"""


# ---------------------------------------------------------------------------
# q77 — minimum_should_match (search --min-should-match): docs must match
# >= m distinct optional terms on top of every required term; pure
# conjunctions are unconstrained (the Lucene msm rule).
# ---------------------------------------------------------------------------

_MSM = 2
_MSM_QUERIES: list[tuple[int, str]] = [
    (0, "window customer stream"),   # 3 optional, need any 2
    (1, "+table scan merge"),        # required + 2 optional, need both
    (2, "join filter"),              # 2 optional, need both (AND-like)
    (3, "+spark +row"),              # pure conjunction: unconstrained
    (4, "customer zzqqnope slow"),   # OOV optional: 2 in-vocab, need both
]


def q77_msm_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    return _rounded_topk(
        search_boolean(
            spark, idx, _queries(spark, _MSM_QUERIES), k=_OVERFETCH,
            min_should_match=_MSM,
        )
    )


Q77_SQL = _boolean_sql(_MSM_QUERIES, msm=_MSM)


# ---------------------------------------------------------------------------
# q78 — numeric range facets (operators/facets.py::facet_ranges) over the
# q38 result set on n_chars: equal-width width_bucket bins, restated with
# CASE/floor arithmetic (DuckDB has no width_bucket). Bin edges chosen so
# every boundary product is exact in float64.
# ---------------------------------------------------------------------------

_FR_LO, _FR_HI, _FR_BINS = 0.0, 200.0, 5


def q78_range_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = q38_indexed_search(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    return facet_ranges(
        res, docs, "n_chars", _FR_LO, _FR_HI, _FR_BINS
    ).select(
        F.col("query_id").cast("long"),
        F.col("bucket").cast("int"),
        F.col("n_docs").cast("long"),
    )


Q78_SQL = f"""
WITH res AS ({Q01_SQL}),
j AS (
  SELECT DISTINCT r.query_id, r.doc_id, d.n_chars
  FROM res r JOIN documents d USING (doc_id)
),
b AS (
  SELECT query_id,
         CASE WHEN n_chars < {_FR_LO} THEN 0
              WHEN n_chars >= {_FR_HI} THEN {_FR_BINS + 1}
              ELSE 1 + CAST(floor((n_chars - {_FR_LO}) * {_FR_BINS} / ({_FR_HI} - {_FR_LO}))
                           AS INT)
         END AS bucket
  FROM j
)
SELECT query_id::BIGINT AS query_id, bucket::INT AS bucket,
       count(*)::BIGINT AS n_docs
FROM b GROUP BY query_id, bucket
"""


# ---------------------------------------------------------------------------
# q79 — score explanation (index/explain.py): the per-term BM25 breakdown
# of the q38 top-10 pairs — the oracle is Q01's contribution CTE without
# the sum, extended with the raw statistics columns; both sides round to
# 6dp.
# ---------------------------------------------------------------------------

def q79_explain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _docs_index(spark, sf_dir)
    res = q38_indexed_search(spark, sf_dir)
    out = explain_scores(spark, idx, _queries(spark, BM25_QUERIES), results=res)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("term").cast("string"),
        F.col("tf").cast("long"),
        F.col("dl").cast("long"),
        F.col("df").cast("long"),
        F.round("idf", 6).alias("idf"),
        F.round("contribution", 6).alias("contribution"),
    )


Q79_SQL = f"""
WITH res AS ({Q01_SQL}),
{_corpus_ctes()},
{_QT_SQL},
{_DFR_SQL},
pairs AS (SELECT DISTINCT query_id, doc_id FROM res),
con AS (
  SELECT qt.query_id, tf.doc_id, qt.term,
         tf.tf::BIGINT AS tf, tf.dl::BIGINT AS dl, dfr.df::BIGINT AS df,
         ln(1 + (st.n - dfr.df + 0.5)/(dfr.df + 0.5)) AS idf,
         {_BM25_C} AS contribution
  FROM tf JOIN qt USING (term) JOIN dfr USING (term) CROSS JOIN st
)
SELECT c.query_id::BIGINT AS query_id, c.doc_id::BIGINT AS doc_id,
       c.term::VARCHAR AS term, c.tf, c.dl, c.df,
       round(c.idf, 6)::DOUBLE AS idf,
       round(c.contribution, 6)::DOUBLE AS contribution
FROM con c JOIN pairs p
  ON p.query_id = c.query_id AND p.doc_id = c.doc_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_bm25_topk": q01_bm25_topk,
    "q02_query_samples": q02_query_samples,
    "q03_hard_negatives": q03_hard_negatives,
    "q04_reciprocal_rank": q04_reciprocal_rank,
    "q05_mrr": q05_mrr,
    "q06_docid_codec": q06_docid_codec,
    "q07_truncate": q07_truncate,
    "q08_f1_macro": q08_f1_macro,
    "q09_split": q09_split,
    "q10_term_stats": q10_term_stats,
    "q11_dedup_exact": q11_dedup_exact,
    "q12_jaccard_pairs": q12_jaccard_pairs,
    "q13_minhash": q13_minhash,
    "q15_cosine_topk": q15_cosine_topk,
    "q20_fingerprints": q20_fingerprints,
    "q26_softmax": q26_softmax,
    "q27_mean_pooling": q27_mean_pooling,
    "q28_cache_join": q28_cache_join,
    "q29_shuffled_sample": q29_shuffled_sample,
    "q30_simhash_pairs": q30_simhash_pairs,
    "q31_srp_ann": q31_srp_ann,
    "q35_embedding_near_dups": q35_embedding_near_dups,
    "q37_ivf_ann": q37_ivf_ann,
    "q38_indexed_search": q38_indexed_search,
    "q40_windowed_events": q40_windowed_events,
    "q41_compacted_search": q41_compacted_search,
    "q42_dedup_components_star": q42_dedup_components_star,
    "q43_tombstoned_search": q43_tombstoned_search,
    "q47_weighted_sample": q47_weighted_sample,
    "q48_filtered_search": q48_filtered_search,
    "q49_distributed_search": q49_distributed_search,
    "q50_ann_index_search": q50_ann_index_search,
    "q51_stratified_sample": q51_stratified_sample,
    "q56_ann_incremental_search": q56_ann_incremental_search,
    "q57_merged_index_search": q57_merged_index_search,
    "q58_phrase_search": q58_phrase_search,
    "q59_phrase_search_distributed": q59_phrase_search_distributed,
    "q60_snippets": q60_snippets,
    "q61_boolean_search": q61_boolean_search,
    "q62_boolean_search_distributed": q62_boolean_search_distributed,
    "q63_prefix_search": q63_prefix_search,
    "q64_facet_counts": q64_facet_counts,
    "q65_fuzzy_search": q65_fuzzy_search,
    "q66_count_matches": q66_count_matches,
    "q67_suggest_terms": q67_suggest_terms,
    "q68_multifield_search": q68_multifield_search,
    "q69_multifield_search_distributed": q69_multifield_search_distributed,
    "q70_ndcg_recall": q70_ndcg_recall,
    "q71_more_like_this": q71_more_like_this,
    "q72_more_like_this_distributed": q72_more_like_this_distributed,
    "q73_synonym_search": q73_synonym_search,
    "q74_stopword_search": q74_stopword_search,
    "q75_regex_search": q75_regex_search,
    "q76_term_snippets": q76_term_snippets,
    "q77_msm_search": q77_msm_search,
    "q78_range_facets": q78_range_facets,
    "q79_explain_scores": q79_explain_scores,
}

ORACLES: dict[str, str] = {
    "q01_bm25_topk": Q01_SQL,
    "q02_query_samples": Q02_SQL,
    "q03_hard_negatives": Q03_SQL,
    "q04_reciprocal_rank": Q04_SQL,
    "q05_mrr": Q05_SQL,
    "q06_docid_codec": Q06_SQL,
    "q07_truncate": Q07_SQL,
    "q08_f1_macro": Q08_SQL,
    "q09_split": Q09_SQL,
    "q10_term_stats": Q10_SQL,
    "q11_dedup_exact": Q11_SQL,
    "q12_jaccard_pairs": Q12_SQL,
    "q13_minhash": Q13_SQL,
    "q15_cosine_topk": Q15_SQL,
    "q20_fingerprints": Q20_SQL,
    "q26_softmax": Q26_SQL,
    "q27_mean_pooling": Q27_SQL,
    "q28_cache_join": Q28_SQL,
    "q29_shuffled_sample": Q29_SQL,
    "q30_simhash_pairs": Q30_SQL,
    "q31_srp_ann": Q31_SQL,
    "q35_embedding_near_dups": Q35_SQL,
    "q37_ivf_ann": Q37_SQL,
    "q38_indexed_search": Q01_SQL,
    "q40_windowed_events": Q40_SQL,
    "q41_compacted_search": Q41_SQL,
    "q42_dedup_components_star": Q42_SQL,
    "q43_tombstoned_search": Q43_SQL,
    "q47_weighted_sample": Q47_SQL,
    "q48_filtered_search": Q48_SQL,
    "q49_distributed_search": Q01_SQL,
    "q50_ann_index_search": Q37_SQL,
    "q51_stratified_sample": Q51_SQL,
    "q56_ann_incremental_search": Q56_SQL,
    "q57_merged_index_search": Q01_SQL,
    "q58_phrase_search": Q58_SQL,
    "q59_phrase_search_distributed": Q58_SQL,
    "q60_snippets": Q60_SQL,
    "q61_boolean_search": Q61_SQL,
    "q62_boolean_search_distributed": Q61_SQL,
    "q63_prefix_search": Q63_SQL,
    "q64_facet_counts": Q64_SQL,
    "q65_fuzzy_search": Q65_SQL,
    "q66_count_matches": Q66_SQL,
    "q67_suggest_terms": Q67_SQL,
    "q68_multifield_search": Q68_SQL,
    "q69_multifield_search_distributed": Q68_SQL,
    "q70_ndcg_recall": Q70_SQL,
    "q71_more_like_this": Q71_SQL,
    "q72_more_like_this_distributed": Q71_SQL,
    "q73_synonym_search": Q73_SQL,
    "q74_stopword_search": Q74_SQL,
    "q75_regex_search": Q75_SQL,
    "q76_term_snippets": Q76_SQL,
    "q77_msm_search": Q77_SQL,
    "q78_range_facets": Q78_SQL,
    "q79_explain_scores": Q79_SQL,
}
