"""DriverFS — the scheme-aware driver-side metadata I/O layer.

No object store exists in this sandbox, so scheme-awareness is proven
with explicit ``file:`` URIs: if pathlib were doing the work these
would break (``Path("file:///x")`` is a relative path named
``file:``); they only pass when the Hadoop FileSystem resolves the
scheme — the same code path an ``s3a://`` URI takes on a real cluster.
"""

from pandera_forge_spark.sources.fs import DriverFS, write_parquet_bytes


def test_roundtrip_with_explicit_file_scheme(spark, tmp_path):
    fs = DriverFS(spark)
    root = f"file://{tmp_path}/meta"
    fs.mkdirs(f"{root}/partition=a")
    fs.write_bytes(f"{root}/partition=a/data.bin", b"\x00payload\xff")
    fs.touch(f"{root}/partition=a/_SUCCESS")

    assert fs.exists(f"{root}/partition=a/_SUCCESS")
    assert fs.list_dirs(root) == ["partition=a"]
    assert fs.list_dirs(f"{root}/partition=a") == []  # _SUCCESS is a file
    assert fs.list_dirs(f"{root}/does-not-exist") == []
    assert fs.read_bytes(f"{root}/partition=a/data.bin") == b"\x00payload\xff"
    assert sorted(fs.listdir(root)) == ["partition=a"]
    assert fs.listdir(f"{root}/does-not-exist") == []

    # overwrite-idempotent commit protocol: clear_files removes plain
    # files but keeps the directory
    fs.clear_files(f"{root}/partition=a")
    assert fs.listdir(f"{root}/partition=a") == []
    assert fs.list_dirs(root) == ["partition=a"]


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
