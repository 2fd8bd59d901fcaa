"""Capture ``.explain("formatted")`` plans of the index build and of every
search plane into a directory of ``<query>_<tag>.txt`` files.

Usage:  python tools/capture_plans.py <out_dir> <tag>

Builds a small deterministic index (synth corpus, with positions) in a temp
dir, constructs each query path LAZILY (eager=False where the API
materializes by default) and dumps the formatted physical plan. A path that
always materializes (phrase search, ``count_matches``) is dumped as the
plan it hands to ``localCheckpoint``. Imperative multi-job operators (index
build) are represented by the plans of their dominant jobs: the doc-id
assignment projection and the phase-B (term, df, cf) aggregate.

The dumps are normalized so that two checkouts with the same plans write
identical files: expression ids (``#123``), exchange plan ids
(``plan_id=45``), codegen stage ids, RDD ids and the temp dir path are
blanked, and adaptive subtrees keep only their initial plan (see
``_drop_final_plans``). ``diff -r``
of two output dirs (after renaming the tags) is then empty unless a plan
changed.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _drop_final_plans(plan: str) -> str:
    """Keep only the initial plan of every adaptive (AQE) subtree. A cached
    relation that a call has already materialized prints its AQE
    ``== Final Plan ==`` too, and that one depends on runtime statistics
    and on which query stage finished first (a join's build side can
    flip between two runs of the same code). Operators are renumbered in
    tree order and the detail blocks of dropped operators are removed."""
    tree, _, details = plan.partition("\n\n")
    kept, skip = [], None
    for ln in tree.splitlines():
        if skip is not None:
            if ln.find("+- == Initial Plan ==") != skip:
                continue
            skip = None
        elif ln.strip() == "+- == Final Plan ==":
            skip = ln.find("+-")
            continue
        kept.append(ln)
    ids = {}
    for ln in kept:
        for m in re.findall(r"\((\d+)\)", ln):
            ids.setdefault(m, str(len(ids) + 1))
    blocks = []
    for block in details.split("\n\n"):
        m = re.match(r"\((\d+)\) ", block.lstrip("\n"))
        if m and m.group(1) not in ids:
            continue
        blocks.append(block)

    def renumber(text: str) -> str:
        text = re.sub(r"\((\d+)\)", lambda m: f"({ids.get(m.group(1), '?')})",
                      text)
        return re.sub(r"operator id: (\d+)",
                      lambda m: f"operator id: {ids.get(m.group(1), '?')}",
                      text)

    return renumber("\n".join(kept) + "\n\n" + "\n\n".join(blocks))


def normalize(plan: str, work: str) -> str:
    plan = _drop_final_plans(plan.replace(work, "<work>"))
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"\[codegen id : \d+\]", "[codegen id]", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[]", plan)


def main() -> None:
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "now"
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

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

    def write(name: str, plan: str) -> None:
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as fh:
            fh.write(normalize(plan, work))
        print("wrote", p)

    def dump(name: str, df) -> None:
        write(name, formatted_plan(df))

    def dump_checkpointed(name: str, call) -> None:
        """Run ``call`` and dump the plan of the last frame it passed to
        ``localCheckpoint`` (the plan an eager-only path executes)."""
        seen = []
        cls = type(spark.range(1))  # the session's concrete DataFrame
        real = cls.localCheckpoint

        def spy(self, *a, **kw):
            seen.append(formatted_plan(self))
            return real(self, *a, **kw)

        cls.localCheckpoint = spy
        try:
            call()
        finally:
            cls.localCheckpoint = real
        write(name, seen[-1])

    n = 4000
    synth_corpus(spark, n).write.mode("overwrite").parquet(work + "/corpus")
    raw = spark.read.parquet(work + "/corpus")
    assigned = assign_doc_ids_scalable(raw)
    # 1) doc-id assignment projection (stage_docs' input)
    dump("assign_doc_ids", assigned)
    idx = work + "/index"
    build_index(assigned, idx, docs_per_shard=512, term_buckets=2,
                positions=True)
    # 2) phase-B input: the (term, df, cf) aggregate over every shard (the
    # dictionary each build writes into a fresh global/gen-<n>/)
    from dense_retriever_spark.index.build import _term_stats_df

    dump("phase_b_term_stats", _term_stats_df(spark, IndexPaths(idx)))

    queries = synth_queries(spark, 20)
    allowed = spark.range(0, n, 3).select(F.col("id").alias("doc_id"))
    from dense_retriever_spark.index.search import search

    dump("search_broadcast",
         search(spark, idx, queries, k=10, eager=False))
    # an allowed-id relation takes the Spark broadcast plane's cogroup
    dump("search_include",
         search(spark, idx, queries, k=10, eager=False,
                include_doc_ids=allowed))
    dump("search_distributed",
         search(spark, idx, queries, k=10, eager=False,
                query_mode="distributed"))

    from dense_retriever_spark.index.fields import search_fields

    dump("multifield",
         search_fields(spark, [("a", idx, 1.0), ("b", idx, 0.5)],
                       queries, k=10))

    from dense_retriever_spark.index.boolean import (
        count_matches,
        search_boolean,
    )

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
    dump_checkpointed("count_matches",
                      lambda: count_matches(spark, idx, bool_q))

    from dense_retriever_spark.index.fuzzy import search_fuzzy
    from dense_retriever_spark.index.phrase import search_phrase
    from dense_retriever_spark.index.prefix import search_prefix
    from dense_retriever_spark.index.regexq import search_regex
    from dense_retriever_spark.index.synonyms import search_synonyms

    pattern_q = spark.createDataFrame(
        [(0, "sym00* def"), (1, "merge* return"), (2, "bm25")],
        "query_id long, query string",
    )
    dump("prefix_distributed",
         search_prefix(spark, idx, pattern_q, k=10, eager=False,
                       query_mode="distributed"))
    fuzzy_q = spark.createDataFrame(
        [(0, "sym0001~ def"), (1, "retrn~1"), (2, "bm25")],
        "query_id long, query string",
    )
    dump("fuzzy_distributed",
         search_fuzzy(spark, idx, fuzzy_q, k=10, eager=False,
                      query_mode="distributed"))
    regex_q = spark.createDataFrame(
        [(0, "/sym00[0-4]+/ def"), (1, "/ret.rn/"), (2, "bm25")],
        "query_id long, query string",
    )
    dump("regex_distributed",
         search_regex(spark, idx, regex_q, k=10, eager=False,
                      query_mode="distributed"))
    syn = spark.createDataFrame(
        [("def", "return"), ("class", "self")], "term string, variant string"
    )
    dump("synonyms_distributed",
         search_synonyms(spark, idx, queries, syn, k=10, eager=False,
                         query_mode="distributed"))
    dump_checkpointed("phrase_distributed",
                      lambda: search_phrase(spark, idx, queries, k=10,
                                            query_mode="distributed"))

    from dense_retriever_spark.index.mlt import more_like_this

    seeds = spark.range(5).selectExpr("id as query_id", "id * 37 as doc_id")
    dump("mlt", more_like_this(spark, idx, seeds, k=10, max_terms=5))
    dump("mlt_distributed",
         more_like_this(spark, idx, seeds, k=10, max_terms=5,
                        query_mode="distributed"))

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
