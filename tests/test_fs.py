"""DriverFS — the scheme-aware driver-side metadata I/O layer.

A local path (a ``file:`` URI, or a bare path under a ``file:`` default
filesystem) is served by the OS; every other path by Hadoop's
FileSystem. The test suite reaches no object store, so the routing rule
is tested as a predicate (``DriverFS._is_local``, no connection made),
and the Hadoop branch is exercised offline by forcing ``file:`` URIs
through it — the same code path an ``s3a://`` URI takes on a real
cluster. The OS branch must keep the on-disk contract of Hadoop's
checksummed local filesystem, whose ``.<name>.crc`` sidecars Spark
writes next to every file.
"""

import os

import pytest

from pandera_forge_spark.sources.fs import DriverFS, write_parquet_bytes


def _roundtrip(fs, tmp_path, hadoop):
    root = f"file://{tmp_path}/meta"
    fs.mkdirs(f"{root}/partition=a")
    fs.write_bytes(f"{root}/partition=a/data.bin", b"\x00payload\xff")
    fs.touch(f"{root}/partition=a/_SUCCESS")

    # only Hadoop's checksummed filesystem writes a sidecar
    crc = tmp_path / "meta" / "partition=a" / ".data.bin.crc"
    assert crc.exists() == hadoop
    assert fs.exists(f"{root}/partition=a/_SUCCESS")
    assert fs.list_dirs(root) == ["partition=a"]
    assert fs.list_dirs(f"{root}/partition=a") == []  # _SUCCESS is a file
    assert fs.list_dirs(f"{root}/does-not-exist") == []
    assert fs.read_bytes(f"{root}/partition=a/data.bin") == b"\x00payload\xff"
    assert sorted(fs.listdir(root)) == ["partition=a"]
    assert sorted(fs.listdir(f"{root}/partition=a")) == ["_SUCCESS", "data.bin"]
    assert fs.listdir(f"{root}/does-not-exist") == []

    # overwrite-idempotent commit protocol: clear_files removes plain
    # files but keeps the directory
    fs.clear_files(f"{root}/partition=a")
    assert fs.listdir(f"{root}/partition=a") == []
    assert os.listdir(tmp_path / "meta" / "partition=a") == []
    assert fs.list_dirs(root) == ["partition=a"]


def test_roundtrip_with_explicit_file_scheme(spark, tmp_path):
    _roundtrip(DriverFS(spark), tmp_path, hadoop=False)


def test_roundtrip_through_hadoop_branch(spark, tmp_path, monkeypatch):
    """The same round trip with every path forced through Hadoop's
    FileSystem, so the branch remote schemes take stays covered."""
    monkeypatch.setattr(DriverFS, "_is_local", lambda self, path: False)
    _roundtrip(DriverFS(spark), tmp_path, hadoop=True)


def test_routing_rule(spark):
    """file: URIs and bare paths under a file: default filesystem are
    local; other schemes, and bare paths under a non-file default
    filesystem, go to Hadoop. Only the predicate runs: nothing
    connects."""
    fs = DriverFS(spark)
    for p in ("file:///tmp/x", "file:/tmp/x", "FILE:///tmp/x", "/tmp/x", "rel/x"):
        assert fs._is_local(p), p
    for p in (
        "s3a://bucket/x",
        "hdfs://nn:8020/x",
        "abfss://c@acct.dfs.core.windows.net/x",
        "gs://bucket/x",
        "file://otherhost/tmp/x",
    ):
        assert not fs._is_local(p), p

    conf = spark._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://nn.invalid:8020")
    try:
        under_hdfs = DriverFS(spark)
        assert not under_hdfs._is_local("/tmp/x")
        assert not under_hdfs._is_local("rel/x")
        assert under_hdfs._is_local("file:///tmp/x")
    finally:
        conf.set("fs.defaultFS", old)
    assert DriverFS(spark)._is_local("/tmp/x")


def test_relative_path_resolves_like_hadoop(spark, tmp_path, monkeypatch):
    """A relative local path names the file Hadoop would have used: it
    resolves against the JVM's working directory, even after the Python
    process changed its own."""
    monkeypatch.chdir(tmp_path)
    fs = DriverFS(spark)
    jpath = spark._jvm.org.apache.hadoop.fs.Path("rel/dir/x.bin")
    hadoop_fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    want = hadoop_fs.makeQualified(jpath).toUri().getPath()
    assert str(fs._local("rel/dir/x.bin")) == want
    assert str(fs._local("file:rel/dir/x.bin")) == want


def _spark_written_part(spark, path):
    spark.range(10).coalesce(1).write.parquet(path)
    (part,) = [n for n in os.listdir(path) if n.startswith("part-")]
    assert os.path.exists(f"{path}/.{part}.crc")  # Spark wrote a sidecar
    return f"{path}/{part}"


def test_overwrite_drops_stale_crc(spark, tmp_path):
    """Overwriting a Spark-written file must drop its checksum sidecar:
    Hadoop verifies a file against a stale sidecar on read and fails."""
    import pyarrow as pa

    path = str(tmp_path / "t")
    part = _spark_written_part(spark, path)
    new = write_parquet_bytes(pa.table({"id": pa.array([100, 101, 102], pa.int64())}))
    DriverFS(spark).write_bytes(part, new)

    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [100, 101, 102]
    assert DriverFS(spark).read_bytes(part) == new


def test_sidecars_hidden_and_deleted(spark, tmp_path):
    fs = DriverFS(spark)
    path = str(tmp_path / "t")
    part = _spark_written_part(spark, path)
    name = os.path.basename(part)
    assert any(n.endswith(".crc") for n in os.listdir(path))
    assert sorted(fs.listdir(path)) == sorted(["_SUCCESS", name])

    fs.delete(part)
    assert not os.path.exists(part)
    assert not os.path.exists(f"{path}/.{name}.crc")
    assert sorted(os.listdir(path)) == ["._SUCCESS.crc", "_SUCCESS"]

    with pytest.raises(OSError):
        fs.delete(path)  # a non-empty directory needs recursive, as in Hadoop
    fs.delete(path, recursive=True)
    assert not fs.exists(path)


def test_rename_moves_no_stale_crc(spark, tmp_path):
    """A renamed Spark-written file keeps no sidecar at either name, so
    Spark still reads it."""
    fs = DriverFS(spark)
    path = str(tmp_path / "t")
    part = _spark_written_part(spark, path)
    dst = f"{path}/part-renamed.parquet"
    assert fs.rename(part, dst) is True
    assert [n for n in os.listdir(path) if n.endswith(".crc")] == ["._SUCCESS.crc"]
    assert spark.read.parquet(path).count() == 10


def test_parquet_bytes_spark_readable(spark, tmp_path):
    import pyarrow as pa

    fs = DriverFS(spark)
    tbl = pa.table({"x": pa.array([1, 2, 3], pa.int64())})
    path = f"file://{tmp_path}/t/part-00000.parquet"
    fs.mkdirs(f"file://{tmp_path}/t")
    fs.write_bytes(path, write_parquet_bytes(tbl))
    assert spark.read.parquet(f"{tmp_path}/t").count() == 3


def test_audit_log_over_file_scheme(spark, tmp_path):
    """The runner's audit sink end-to-end on a scheme'd URI — the
    deployment shape the --audit flag advertises."""
    from pandera_forge_spark.runner import AuditLog

    audit = AuditLog(spark, f"file://{tmp_path}/audit")
    audit.commit("00123", [{"rows": 7, "violations": 0, "checks": {"c": 0}}])
    assert audit.completed_partitions() == {"00123"}
    rows = audit.read().collect()
    assert len(rows) == 1 and rows[0]["rows"] == 7
