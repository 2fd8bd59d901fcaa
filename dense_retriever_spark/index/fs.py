"""Driver-side filesystem helpers over the Hadoop FileSystem API.

The index's DATA (shards/, global/, docs/, manifest/) is read and written by
Spark itself, so it already works on any scheme the cluster's Hadoop conf
supports (file://, hdfs://, s3a://, gs://...). What used to be local-only was
the handful of driver-side METADATA operations — stats.json read/write,
manifest-dir existence, orphan-shard deletes. These helpers route those
through the Hadoop FileSystem API, so ``index_dir`` can be an object-store
URI end-to-end (SURVEY.md §2.1 S13; exercised in tests via ``file://`` — the
one Hadoop scheme the sandbox can serve).

Plain paths (no scheme) resolve against the default filesystem, which in
local mode is ``file:///`` — so every existing local-path caller behaves
identically. All calls are O(1) driver-side metadata RPCs; none sit on a hot
path (one stats read per search/build, one existence probe per build).

Isolation: each helper opens a PRIVATE ``FileSystem.newInstance`` and closes
it when done, instead of mutating the JVM-wide instance that
``Path.getFileSystem`` returns from Hadoop's cache. The checksum flags below
must be disabled for stats.json interop, but the cached instance is SHARED
with Spark's own parquet/shuffle I/O on the same scheme — flipping
``setVerifyChecksum(False)`` on it would silently disable CRC verification
for every subsequent read in the process (round-3 ADVICE). ``newInstance``
bypasses the cache, so the flags live and die with the helper call.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _active_spark(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    s = SparkSession.getActiveSession()
    if s is not None:
        return s
    # getActiveSession is THREAD-local: a serving thread that didn't create
    # the session (e.g. a reader polling stats.json concurrently with a
    # build) sees None — fall back to the process's default session
    try:
        return SparkSession.active()
    except Exception:
        raise RuntimeError("a SparkSession is required for filesystem access")


@contextmanager
def _fs_path(spark: SparkSession | None, path: str):
    s = _active_spark(spark)
    jvm = s._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    conf = s._jsc.hadoopConfiguration()
    # Resolve the URI exactly like Path.getFileSystem (default-fs fallback
    # for scheme-less paths), but through newInstance — a PRIVATE, uncached
    # FileSystem object this helper owns and closes.
    uri = p.toUri()
    if uri.getScheme() is None:
        uri = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(conf)
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
    try:
        # LocalFileSystem writes .crc sidecars and then REFUSES files
        # modified by plain open() (ChecksumException); stats.json must stay
        # interoperable with ordinary tooling. Remote stores (s3a/hdfs)
        # ignore or no-op these. Safe on the private instance only.
        try:
            fs.setWriteChecksum(False)
            fs.setVerifyChecksum(False)
        except Exception:
            pass
        yield s, fs, p
    finally:
        fs.close()


def local_path(uri: str, spark: SparkSession | None = None) -> str | None:
    """The OS path ``uri`` names when it lives on the local filesystem,
    else None. A path with no scheme resolves against Hadoop's
    ``fs.defaultFS`` exactly as ``_fs_path`` does, so a plain path under an
    ``hdfs://`` default filesystem is not local. Only the ``file`` scheme
    maps to an OS path; no FileSystem is opened for any other scheme."""
    s = _active_spark(spark)
    jvm = s._jvm
    u = jvm.org.apache.hadoop.fs.Path(uri).toUri()
    scheme = u.getScheme()
    if scheme is None:
        conf = s._jsc.hadoopConfiguration()
        scheme = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
            conf
        ).getScheme()
    if scheme != "file":
        return None
    return os.path.abspath(u.getPath())


def exists(path: str, spark: SparkSession | None = None) -> bool:
    with _fs_path(spark, path) as (_, fs, p):
        return bool(fs.exists(p))


def is_dir(path: str, spark: SparkSession | None = None) -> bool:
    with _fs_path(spark, path) as (_, fs, p):
        return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def mkdirs(path: str, spark: SparkSession | None = None) -> None:
    with _fs_path(spark, path) as (_, fs, p):
        fs.mkdirs(p)


def rename(src: str, dst: str, spark: SparkSession | None = None) -> None:
    """Filesystem rename — an O(1) metadata move on HDFS/local (object
    stores emulate with copy+delete, still server-side). Raises if the
    source is missing or the store refuses the move (e.g. dst exists)."""
    with _fs_path(spark, src) as (s, fs, p):
        if not fs.exists(p):
            raise FileNotFoundError(src)
        d = s._jvm.org.apache.hadoop.fs.Path(dst)
        if not fs.rename(p, d):
            raise OSError(f"rename {src} -> {dst} refused by filesystem")


def delete(path: str, spark: SparkSession | None = None) -> None:
    """Recursive delete; no-op if absent (shutil.rmtree(ignore_errors=True)
    semantics)."""
    with _fs_path(spark, path) as (_, fs, p):
        if fs.exists(p):
            fs.delete(p, True)


def listdir(path: str, spark: SparkSession | None = None) -> list[str]:
    """Immediate child names of a directory (empty list if absent) — one
    metadata RPC; the streamed-staging retention path uses it to find
    partition dirs by NAME instead of running a Spark job."""
    with _fs_path(spark, path) as (_, fs, p):
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]


def read_text(path: str, spark: SparkSession | None = None) -> str:
    with _fs_path(spark, path) as (s, fs, p):
        if not fs.exists(p):  # Pythonic error instead of opaque Py4J wrapper
            raise FileNotFoundError(path)
        stream = fs.open(p)
        try:
            # commons-io ships with Spark; avoids byte-at-a-time py4j loops
            return s._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()


def write_text(path: str, content: str, spark: SparkSession | None = None) -> None:
    with _fs_path(spark, path) as (_, fs, p):
        out = fs.create(p, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()


def write_text_atomic(
    path: str, content: str, spark: SparkSession | None = None
) -> None:
    """Replace ``path`` so a CONCURRENT reader sees either the old or the
    new content, never a truncated half-write: write to a ``.inprogress``
    sibling, then rename over the target. On POSIX-backed local/file://
    the rename overwrites atomically (File.renameTo); stores whose rename
    refuses an existing destination (HDFS semantics) fall back to
    delete+rename — a vanishingly small absent-window instead of a
    partial-content window, and the committed-metadata file this is used
    for (stats.json) is re-readable by retry. The plain
    ``write_text`` truncates in place and must not be used for any file a
    serving reader polls."""
    tmp = path + ".inprogress"
    write_text(tmp, content, spark)
    with _fs_path(spark, path) as (s, fs, p):
        src = s._jvm.org.apache.hadoop.fs.Path(tmp)
        if not fs.rename(src, p):
            fs.delete(p, False)
            if not fs.rename(src, p):
                raise OSError(f"atomic replace {tmp} -> {path} refused")
