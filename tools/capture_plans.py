"""Capture ``.explain("formatted")`` plans for the round-8 touched query
paths into a directory of ``<query>_<tag>.txt`` files.

Usage:  python tools/capture_plans.py <out_dir> <tag>

Builds a small deterministic index (synth corpus) in a temp dir, constructs
each query path LAZILY (eager=False where the API materializes by default)
and dumps the formatted physical plan. Imperative multi-job operators
(index build) are represented by the plans of their dominant jobs: the
doc-id assignment projection and the phase-B (term, df, cf) aggregate.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "now"
    os.makedirs(out_dir, exist_ok=True)

    from dense_retriever_spark.corpus import synth_corpus, synth_queries
    from dense_retriever_spark.index.build import (
        IndexPaths,
        assign_doc_ids_scalable,
        build_index,
    )
    from dense_retriever_spark.plans import formatted_plan
    from dense_retriever_spark.session import get_spark

    spark = get_spark(app_name=f"capture-plans-{tag}", master="local[8]",
                      shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix=f"plans_{tag}_")

    def dump(name: str, df) -> None:
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as fh:
            fh.write(formatted_plan(df))
        print("wrote", p)

    n = 4000
    synth_corpus(spark, n).write.mode("overwrite").parquet(work + "/corpus")
    raw = spark.read.parquet(work + "/corpus")
    assigned = assign_doc_ids_scalable(raw)
    # 1) doc-id assignment projection (stage_docs' input)
    dump("assign_doc_ids", assigned)
    idx = work + "/index"
    build_index(assigned, idx, docs_per_shard=512, term_buckets=2)
    # 2) phase-B input: the (term, df, cf) aggregate over every shard (the
    # dictionary each build writes into a fresh global/gen-<n>/)
    from dense_retriever_spark.index.build import _term_stats_df

    dump("phase_b_term_stats", _term_stats_df(spark, IndexPaths(idx)))

    queries = synth_queries(spark, 20)
    from dense_retriever_spark.index.search import search

    dump("search_broadcast",
         search(spark, idx, queries, k=10, eager=False))
    dump("search_distributed",
         search(spark, idx, queries, k=10, eager=False,
                query_mode="distributed"))

    from dense_retriever_spark.index.fields import search_fields

    dump("multifield",
         search_fields(spark, [("a", idx, 1.0), ("b", idx, 0.5)],
                       queries, k=10))

    from dense_retriever_spark.index.boolean import search_boolean

    bool_q = queries.selectExpr(
        "query_id",
        "concat('+', split(query, ' ')[0],"
        " case when size(split(query, ' ')) > 1"
        "      then concat(' ', split(query, ' ')[1]) else '' end)"
        " as query",
    )
    dump("boolean_distributed",
         search_boolean(spark, idx, bool_q, k=10, eager=False,
                        query_mode="distributed", min_should_match=1))

    from dense_retriever_spark.index.mlt import more_like_this

    seeds = spark.range(5).selectExpr("id as query_id", "id * 37 as doc_id")
    dump("mlt", more_like_this(spark, idx, seeds, k=10, max_terms=5))

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
