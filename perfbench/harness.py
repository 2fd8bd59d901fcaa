"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside the package: a Spark
session pinned to ``local[nproc]``, Spark job/stage/task counts per call
(job groups + ``statusTracker()``), a ``/proc`` RSS sampler over the
driver's process tree, in-memory spans, and the correctness checks
(malformed-output rules plus rank identity against the exact BM25 oracle,
``operators.bm25.bm25_exact_topk``).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

#: score tolerance of the oracle comparison (doc_id and rank must be equal)
SCORE_TOL = 1e-9
#: driver JVM heap limit
HEAP = "1g"
#: seconds between two samples of the process tree's memory
RSS_INTERVAL = 0.2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs))


# --- session --------------------------------------------------------------


def start_spark(work: str, cpus: int):
    """The package's session factory, pinned to ``local[cpus]`` with
    ``cpus`` shuffle partitions whatever ``SPARK_GRAFT_CPUS`` says, and
    every scratch location inside ``work``. The JVM heap grows on demand
    up to ``HEAP``, so the peak resident memory shows what the program
    makes the JVM hold."""
    from dense_retriever_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def process_tree() -> set[int]:
    """This process and all its descendants, from ``/proc``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it and
    for the Python workers it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = process_tree() - {os.getpid()}
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the workers' daemon exits once the JVM has gone, and the orphaned
    # workers leave this process tree: wait on their pids
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in children
    ):
        time.sleep(0.1)


def java_version(spark) -> str:
    return str(
        spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    )


# --- counters -------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from
    ``/proc/stat``: a virtual machine whose host is busy loses time to
    steal, which slows every timing of a run alike."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_gc_s(spark) -> float:
    """Seconds the JVM has spent in garbage collection."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


class JobCounter:
    """Spark jobs / stages run / tasks / failed tasks of one call, read from
    ``statusTracker()`` through a job group set before the call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    def group(self) -> str:
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def counts(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(gid))
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is None:
                    continue
                ran = si.numCompletedTasks + si.numFailedTasks
                if ran:
                    stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        self.sc.setJobGroup("perfbench-idle", "idle")
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


class RssSampler:
    """Peak resident memory (MB) of this process and all its descendants
    (the JVM and its Python workers), sampled from ``/proc``.

    Each process contributes its proportional set size (``Pss`` in
    ``smaps_rollup``), so pages the forked Python workers share with their
    daemon count once: the sum is the resident memory of the whole tree,
    and does not jump with the number of idle forked workers. A process
    counts from the second sample that finds it: the JVM forks short-lived
    helpers (shell commands of the Hadoop file system), and a child read
    just after its fork would count the JVM's shared pages a second time.

    ``stop()`` ends the sampling where the measured part of a run ends, so
    the benchmark's own checks after it do not count."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    def sample(self) -> float:
        tree = process_tree()
        settled = tree & self._seen | {os.getpid()}
        self._seen = tree
        pss_kb: dict[int, int] = {}
        for pid in settled:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            pss_kb[pid] = int(line.split()[1])
                            break
            except OSError:
                continue
        mb = sum(pss_kb.values()) / 1024
        if mb > self.peak_mb:
            self.peak_mb = mb
            self.peak_parts = self._parts(pss_kb)
        return mb

    @staticmethod
    def _parts(pss_kb: dict[int, int]) -> dict:
        """MB of the driver, the JVM and the Python workers."""
        parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
        for pid, kb in pss_kb.items():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            part = ("driver" if pid == os.getpid()
                    else "jvm" if b"java" in cmd else "workers")
            parts[part] = round(parts[part] + kb / 1024, 1)
            parts["n_workers"] += part == "workers"
        return parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL)


# --- tracing --------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id), recorded
    around the benchmark's calls into the package, with the Spark jobs of
    each call, when enabled; a no-op otherwise. ``bookkeeping_s`` is the
    time the tracer and the job counters themselves spent, the direct part
    of the tracing overhead."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[dict]] = {}
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._jobs = JobCounter(spark) if enabled else None

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        gid = self._jobs.group()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1]
               if self._stack else None, "rid": rid}
        self.spans.append(rec)
        self._stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            rec["start"], rec["end"] = t1, t2
            self.counts.setdefault(name, []).append(self._jobs.counts(gid))
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Seconds of each span called ``name`` that began at ``since`` or
        later (a ``time.perf_counter()`` reading)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def self_time(self, name: str) -> float:
        """Total self time of every span called ``name``: its duration
        minus the part its direct children cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return sum(
            s["end"] - s["start"] - kids.get(s["id"], 0.0)
            for s in self.spans
            if s["name"] == name
        )

    def per_call(self, name: str, key: str) -> float:
        rows = self.counts.get(name, [])
        return median([r[key] for r in rows]) if rows else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


# --- correctness ----------------------------------------------------------


def malformed(rows: list, k: int) -> str | None:
    """None when one query's result rows are well formed, else why not:
    at most k rows, ranks exactly 1..n, scores never increasing, no
    repeated doc."""
    if len(rows) > k:
        return f"{len(rows)} rows > k={k}"
    rows = sorted(rows, key=lambda r: r["rank"])
    if [r["rank"] for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks are not 1..n"
    scores = [r["score"] for r in rows]
    if any(b > a for a, b in zip(scores, scores[1:])):
        return "scores increase with rank"
    if len({r["doc_id"] for r in rows}) != len(rows):
        return "a doc appears twice"
    return None


def by_query(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(r)
    return out


class Oracle:
    """Exact BM25 top-k over an ingested (doc_id, content) relation."""

    def __init__(self, docs) -> None:
        from dense_retriever_spark.operators.bm25 import (
            corpus_stats,
            tokenize_corpus,
        )

        self.tok = tokenize_corpus(docs).cache()
        self.stats = corpus_stats(self.tok)

    def topk(self, spark, queries: dict[int, str], k: int) -> dict[int, list]:
        from dense_retriever_spark.operators.bm25 import bm25_exact_topk

        qdf = spark.createDataFrame(
            list(queries.items()), "query_id long, query string"
        )
        rows = bm25_exact_topk(self.tok, qdf, k=k, stats=self.stats).collect()
        return by_query(rows)

    def close(self) -> None:
        self.tok.unpersist()


def rank_identical(got: list, want: list) -> bool:
    g = sorted(got, key=lambda r: r["rank"])
    w = sorted(want, key=lambda r: r["rank"])
    return len(g) == len(w) and all(
        a["doc_id"] == b["doc_id"]
        and a["rank"] == b["rank"]
        and abs(a["score"] - b["score"]) <= SCORE_TOL
        for a, b in zip(g, w)
    )


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum and marker files
    excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total
