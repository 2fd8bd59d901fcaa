"""One query-plane layer for every search entry point (index/search.py).

Every entry point resolves its plane through ``search._plane``: with
``QUERY_BROADCAST_LIMIT`` patched below the batch size, ``'auto'`` must take
the distributed plane and return the broadcast plane's rows, and an unknown
mode raises the same ValueError everywhere. A lazy distributed call must not
leave a persisted relation behind (nothing would ever release it).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dense_retriever_spark.index import boolean as boolean_mod
from dense_retriever_spark.index import phrase as phrase_mod
from dense_retriever_spark.index import search as search_mod
from dense_retriever_spark.index.build import build_index
from dense_retriever_spark.index.fields import search_fields
from dense_retriever_spark.index.fuzzy import search_fuzzy
from dense_retriever_spark.index.mlt import more_like_this
from dense_retriever_spark.index.prefix import search_prefix
from dense_retriever_spark.index.regexq import search_regex
from dense_retriever_spark.index.synonyms import search_synonyms


@pytest.fixture(scope="module")
def idx(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planes") / "index")
    build_index(
        tiny_corpus, d, docs_per_shard=64, term_buckets=4, positions=True
    )
    return d


def _q(spark, *queries):
    return spark.createDataFrame(
        list(enumerate(queries)), "query_id long, query string"
    )


def _search(spark, idx, tiny_queries, mode):
    return search_mod.search(spark, idx, tiny_queries, k=10, query_mode=mode)


def _score_matches(spark, idx, tiny_queries, mode):
    return search_mod.score_matches(spark, idx, tiny_queries, query_mode=mode)


def _prefix(spark, idx, _tq, mode):
    q = _q(spark, "sym00* def", "merge* return", "bm25")
    return search_prefix(spark, idx, q, k=10, query_mode=mode)


def _fuzzy(spark, idx, _tq, mode):
    q = _q(spark, "sym0001~ def", "retrn~1", "bm25")
    return search_fuzzy(spark, idx, q, k=10, query_mode=mode)


def _regex(spark, idx, _tq, mode):
    q = _q(spark, "/sym00[0-4]+/ def", "/ret.rn/", "bm25")
    return search_regex(spark, idx, q, k=10, query_mode=mode)


def _synonyms(spark, idx, tiny_queries, mode):
    syn = spark.createDataFrame(
        [("def", "return"), ("class", "self")], "term string, variant string"
    )
    return search_synonyms(
        spark, idx, tiny_queries, syn, k=10, query_mode=mode
    )


def _boolean(spark, idx, _tq, mode):
    q = _q(spark, "+def return", "+class -import self", "bm25 score")
    return boolean_mod.search_boolean(spark, idx, q, k=10, query_mode=mode)


def _phrase(spark, idx, _tq, mode):
    q = _q(spark, "def", "return self", "class")
    return phrase_mod.search_phrase(spark, idx, q, k=10, query_mode=mode)


def _fields(spark, idx, tiny_queries, mode):
    return search_fields(
        spark, [("a", idx, 1.0), ("b", idx, 0.5)], tiny_queries, k=10,
        query_mode=mode,
    )


def _mlt(spark, idx, _tq, mode):
    seeds = spark.createDataFrame(
        [(0, 5), (1, 77)], "query_id long, doc_id long"
    )
    return more_like_this(spark, idx, seeds, k=10, query_mode=mode)


#: (entry point, module holding its distributed plane, plane function)
ENTRIES = {
    "search": (_search, search_mod, "_search_distributed"),
    "score_matches": (_score_matches, search_mod, "_search_distributed"),
    "search_prefix": (_prefix, search_mod, "_search_distributed"),
    "search_fuzzy": (_fuzzy, search_mod, "_search_distributed"),
    "search_regex": (_regex, search_mod, "_search_distributed"),
    "search_synonyms": (_synonyms, search_mod, "_search_distributed"),
    "search_boolean": (_boolean, boolean_mod, "_boolean_distributed"),
    "search_phrase": (_phrase, phrase_mod, "_phrase_distributed"),
    "search_fields": (_fields, search_mod, "_search_distributed"),
    "more_like_this": (_mlt, search_mod, "_search_distributed"),
}


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("entry", list(ENTRIES))
def test_auto_follows_the_one_plane_rule(
    spark, idx, tiny_queries, monkeypatch, entry
):
    call, mod, plane_fn = ENTRIES[entry]
    want = _rows(call(spark, idx, tiny_queries, "broadcast"))
    assert want
    monkeypatch.setattr(search_mod, "QUERY_BROADCAST_LIMIT", 1)
    calls = []
    orig = getattr(mod, plane_fn)

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(mod, plane_fn, spy)
    got = _rows(call(spark, idx, tiny_queries, "auto"))
    assert calls, f"{entry}: auto did not take the distributed plane"
    assert got == want


@pytest.mark.parametrize("entry", list(ENTRIES))
def test_unknown_query_mode_raises(spark, idx, tiny_queries, entry):
    call = ENTRIES[entry][0]
    with pytest.raises(ValueError, match="unknown query_mode 'bogus'"):
        call(spark, idx, tiny_queries, "bogus")


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_lazy_distributed_mlt_holds_no_cache(spark, idx):
    """more_like_this runs its distributed search lazily, so no call may
    persist a relation it cannot release."""
    before = _n_persisted(spark)
    for seed in (3, 40, 90):
        seeds = spark.createDataFrame(
            [(0, seed), (1, seed + 1)], "query_id long, doc_id long"
        )
        assert more_like_this(
            spark, idx, seeds, k=5, query_mode="distributed"
        ).collect()
        assert _n_persisted(spark) <= before


def test_lazy_distributed_search_holds_no_cache(spark, idx, tiny_queries):
    before = _n_persisted(spark)
    bool_q = tiny_queries.select(
        "query_id", F.concat(F.lit("+"), F.col("query")).alias("query")
    )
    for k in (3, 5, 7):
        search_mod.search(
            spark, idx, tiny_queries, k=k, query_mode="distributed",
            eager=False,
        ).collect()
        boolean_mod.search_boolean(
            spark, idx, bool_q, k=k, query_mode="distributed", eager=False,
        ).collect()
        assert _n_persisted(spark) <= before


def test_eager_distributed_search_releases_its_cache(
    spark, idx, tiny_queries
):
    """An eager call keeps exactly its localCheckpoint-ed result."""
    before = _n_persisted(spark)
    search_mod.search(
        spark, idx, tiny_queries, k=5, query_mode="distributed"
    ).collect()
    phrase_mod.search_phrase(
        spark, idx, _q(spark, "def", "return self"), k=5,
        query_mode="distributed",
    ).collect()
    assert _n_persisted(spark) <= before + 2
