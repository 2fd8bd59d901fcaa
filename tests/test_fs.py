"""Hadoop-FS metadata helpers (index/fs.py): scheme matrix + cache isolation.

The sandbox can only serve the local filesystem, so the matrix is {bare
path, file:// URI} — the two resolutions a local-vs-object-store deployment
exercises (s3a/gs/hdfs differ only in the URI scheme the same code paths
receive). The isolation test pins the round-3 ADVICE fix: helpers must
never flip checksum flags on the JVM-wide CACHED FileSystem that Spark's
own parquet/shuffle I/O shares.
"""

from __future__ import annotations

import pytest

from dense_retriever_spark.index import fs


@pytest.fixture(params=["bare", "file"])
def to_uri(request):
    if request.param == "bare":
        return lambda p: str(p)
    return lambda p: "file://" + str(p)


def test_roundtrip_matrix(spark, tmp_path, to_uri):
    d = tmp_path / "idx"
    f = d / "stats.json"
    assert not fs.exists(to_uri(d), spark)
    fs.mkdirs(to_uri(d), spark)
    assert fs.exists(to_uri(d), spark) and fs.is_dir(to_uri(d), spark)
    fs.write_text(to_uri(f), '{"n": 1}', spark)
    assert fs.read_text(to_uri(f), spark) == '{"n": 1}'
    assert fs.exists(to_uri(f), spark) and not fs.is_dir(to_uri(f), spark)
    # overwrite semantics
    fs.write_text(to_uri(f), '{"n": 2}', spark)
    assert fs.read_text(to_uri(f), spark) == '{"n": 2}'
    # plain-open interop: no .crc sidecar refusing ordinary tooling edits
    assert f.read_text() == '{"n": 2}'
    assert not (d / ".stats.json.crc").exists()
    fs.delete(to_uri(d), spark)
    assert not fs.exists(to_uri(d), spark)
    fs.delete(to_uri(d), spark)  # idempotent on absent paths


def test_read_missing_raises_filenotfound(spark, tmp_path, to_uri):
    with pytest.raises(FileNotFoundError):
        fs.read_text(to_uri(tmp_path / "nope.json"), spark)


def test_cached_filesystem_checksums_untouched(spark, tmp_path):
    """After fs helpers run, the CACHED FileSystem instance (the one
    Path.getFileSystem returns and Spark itself uses) must still write CRC
    sidecars — proof the helpers flipped flags only on their private
    newInstance (round-3 ADVICE)."""
    fs.write_text(str(tmp_path / "meta.json"), "{}", spark)
    fs.read_text(str(tmp_path / "meta.json"), spark)

    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "cached.txt"))
    cached = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    out = cached.create(hp, True)
    try:
        out.write(bytearray(b"hello"))
    finally:
        out.close()
    crc = tmp_path / ".cached.txt.crc"
    assert crc.exists(), (
        "JVM-cached FileSystem lost its write-checksum setting — a helper "
        "mutated the shared instance"
    )


def test_local_path_resolution(spark, tmp_path):
    """local_path maps a path to an OS path only when it resolves to the
    ``file`` scheme: a plain path follows ``fs.defaultFS`` like every other
    helper, so under an hdfs:// default it is not local."""
    d = str(tmp_path / "idx")
    assert fs.local_path(d, spark) == d
    assert fs.local_path("file://" + d, spark) == d
    assert fs.local_path("hdfs://namenode:8020" + d, spark) is None

    conf = spark._jsc.hadoopConfiguration()
    prev = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        assert fs.local_path(d, spark) is None
        assert fs.local_path("file://" + d, spark) == d
    finally:
        if prev is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", prev)
    assert fs.local_path(d, spark) == d
