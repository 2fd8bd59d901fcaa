"""Benchmark of record for dense_retriever_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it records the run's context (nproc, pyspark and Java versions, failures).
Scratch data lives under ``perfbench/.work/`` and is removed at exit; a
traced run leaves its spans in ``perfbench/.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "offline", "refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dense_retriever_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a dense_retriever_spark "
              "checkout (no package found here)", file=sys.stderr)
        return 2
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # the engine, its JVM and its Python workers import the package from
    # this checkout and keep every scratch file inside ``work``
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM (the launcher included) writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p
    )

    import harness as H
    from gen import CodeCorpus
    from workloads import WORKLOADS, Run

    corpus = CodeCorpus(args.seed)
    cpus = H.nproc()
    spark = None
    try:
        steal0, total0 = H.cpu_times()
        with H.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = H.start_spark(work, cpus)
            session_s = time.perf_counter() - t0
            tracer = H.Tracer(spark, enabled=bool(args.trace))
            run = Run(spark=spark, work=work, seed=args.seed,
                      seconds=args.seconds, tracer=tracer, cpus=cpus,
                      corpus=corpus, rss=rss, setup_s=session_s)
            WORKLOADS[args.workload](run)
        run.e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
        run.layers["session.start_s"] = (session_s, "s")
        run.info["peak_rss_parts_mb"] = rss.peak_parts
        run.info["jvm_gc_s"] = H.jvm_gc_s(spark)
        steal1, total1 = H.cpu_times()
        run.info["cpu_steal_frac"] = (steal1 - steal0) / (total1 - total0)
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
            "pyspark": __import__("pyspark").__version__,
            "java": H.java_version(spark),
            "failed_frac": run.failed / max(run.attempted, 1),
            "failures": run.failures,
            "end_to_end": {k: v[0] for k, v in run.e2e.items()},
            **run.info,
        }
        if args.trace:
            tracer.dump(os.path.join(
                work_root, f"trace-{args.workload}-{args.seed}.json"
            ))
    finally:
        if spark is not None:
            H.stop_spark(spark)
            print("perfbench: stopped", file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)

    metrics = run.layers if args.trace else run.e2e
    print("perfbench " + json.dumps(context))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
