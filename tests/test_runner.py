"""Checkpoint/resume runner (FIXTURES.md F1 resume test): kill after K
partitions, restart, assert nothing is recomputed and verdicts match."""

from pyspark.sql import functions as F

from pandera_forge_spark.fixtures import make_documents
from pandera_forge_spark.runner import AuditLog, HivePartitionedParquet, run_partitions
from pandera_forge_spark.spans import span_order_violations


def _process_counts(df, part):
    n = df.count()
    return {"rows": n, "violations": 0, "checks": {"rows": n}}


def _process(df, part):
    rows = df.count()
    bad = span_order_violations(df).count()
    return {"rows": rows, "violations": bad, "checks": {"span_order": bad}}


def test_resume_skips_completed(spark, tmp_path):
    docs = make_documents(spark, 400, seed=42, n_buckets=6)
    root = str(tmp_path / "docs")
    audit_root = str(tmp_path / "audit")

    table = HivePartitionedParquet(spark, root, "bucket")
    table.write(docs)
    audit = AuditLog(spark, audit_root)

    manifest = table.list_partitions()
    assert len(manifest) == 6

    # first run "killed" after 2 partitions
    r1 = run_partitions(table, audit, _process, max_partitions=2)
    assert len(r1.processed) == 2 and not r1.skipped

    # resume: the 2 completed partitions are skipped, 4 processed
    r2 = run_partitions(table, audit, _process)
    assert sorted(r2.skipped) == sorted(r1.processed)
    assert len(r2.processed) == 4
    assert set(r2.processed) | set(r2.skipped) == set(manifest)

    # audit has exactly one row per partition; totals match the table
    audit_df = audit.read()
    assert audit_df.count() == 6
    total = audit_df.agg(F.sum("rows")).collect()[0][0]
    assert total == 400
    assert audit_df.where(F.col("status") != "ok").count() == 0

    # a third run is a no-op (idempotent)
    r3 = run_partitions(table, audit, _process)
    assert not r3.processed and len(r3.skipped) == 6


def test_partition_pruning(spark, tmp_path):
    docs = make_documents(spark, 100, seed=1, n_buckets=4)
    root = str(tmp_path / "pp")
    table = HivePartitionedParquet(spark, root, "bucket")
    table.write(docs)
    df = table.read_partition(table.list_partitions()[0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters: [isnotnull(bucket" in plan or "PartitionFilters: [(bucket" in plan


def test_error_partitions_recorded(spark, tmp_path):
    docs = make_documents(spark, 50, seed=2, n_buckets=2)
    root = str(tmp_path / "err")
    table = HivePartitionedParquet(spark, root, "bucket")
    table.write(docs)
    audit = AuditLog(spark, str(tmp_path / "erraudit"))

    def boom(df, part):
        raise RuntimeError("kaboom")

    r = run_partitions(table, audit, boom)
    assert len(r.failed_partitions) == 2
    assert not r.ok
    bad = audit.read().where(F.col("status") == "error")
    assert bad.count() == 2


def test_batched_runner_fewer_jobs_same_audit(spark, tmp_path):
    """A 60-partition manifest processed per-partition vs in batches of
    12: the batched path must use >=5x fewer Spark jobs while producing
    byte-identical audit contents and the same resume behavior."""
    from pandera_forge_spark.runner import validation_process_batch
    from pandera_forge_spark.schema import ColumnSpec, TableSchema
    from pandera_forge_spark.validator import validate_table

    docs = make_documents(spark, 3000, seed=7, n_buckets=60)
    root = str(tmp_path / "many")
    table = HivePartitionedParquet(spark, root, "bucket")
    table.write(docs)
    manifest = table.list_partitions()
    assert len(manifest) == 60

    schema = TableSchema(
        name="Docs",
        columns=[
            ColumnSpec(
                name="doc_id", sanitized_name="doc_id", name_was_valid=True,
                spark_type="string", pandera_type="String", nullable=False,
            )
        ],
    )

    def per_part(df, part):
        res = validate_table(df, schema, check_unique=False)
        return {
            "rows": res.total_rows,
            "violations": sum(res.counts.values()),
            "checks": res.counts,
        }

    # Count jobs inside DEDICATED job groups: the default group's id
    # list is bounded by spark.ui.retainedJobs, so late in a long
    # suite the before/after delta on group None undercounts whichever
    # side ran while old entries were being evicted (intermittent
    # full-suite-only failure). A fresh group only ever holds this
    # test's own jobs.
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    a1 = AuditLog(spark, str(tmp_path / "a1"))
    sc.setJobGroup("runner-single", "per-partition run")
    try:
        r1 = run_partitions(table, a1, per_part)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs_single = len(tracker.getJobIdsForGroup("runner-single"))

    a2 = AuditLog(spark, str(tmp_path / "a2"))
    pb = validation_process_batch(schema, "bucket")
    # "killed" after two batches, then resumed — per-partition audit
    # granularity must survive batching
    rk = run_partitions(table, a2, batch_size=12, process_batch=pb, max_partitions=24)
    assert len(rk.processed) == 24
    sc.setJobGroup("runner-batched", "batched resume run")
    try:
        r2 = run_partitions(table, a2, batch_size=12, process_batch=pb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs_batched_resume = len(tracker.getJobIdsForGroup("runner-batched"))
    assert sorted(r2.skipped) == sorted(rk.processed)
    assert len(r2.processed) == 36

    assert jobs_single >= 5 * (jobs_batched_resume * 60 / 36), (
        jobs_single, jobs_batched_resume,
    )

    def snap(a):
        return {
            r["partition"]: (r["rows"], r["violations"], r["checks"], r["status"])
            for r in a.read().collect()
        }

    s1, s2 = snap(a1), snap(a2)
    assert s1 == s2
    assert len(s1) == 60

    # third batched run: pure no-op resume
    r3 = run_partitions(table, a2, batch_size=12, process_batch=pb)
    assert not r3.processed and len(r3.skipped) == 60


def test_batched_runner_error_path(spark, tmp_path):
    """A failing batch records error audit rows for EVERY partition of
    that batch (lineage is never lost) and fail_fast stops the loop."""
    docs = make_documents(spark, 100, seed=9, n_buckets=6)
    table = HivePartitionedParquet(spark, str(tmp_path / "eb"), "bucket")
    table.write(docs)
    audit = AuditLog(spark, str(tmp_path / "ebaudit"))

    def boom(df, parts):
        raise RuntimeError("batch kaboom")

    r = run_partitions(
        table, audit, process_batch=boom, batch_size=3, fail_fast=True
    )
    assert len(r.failed_partitions) == 3 and not r.processed
    bad = audit.read().where(F.col("status") == "error")
    assert bad.count() == 3
    assert all("batch kaboom" in row["checks"] for row in bad.collect())


def test_run_schema_validation_script(spark, tmp_path, monkeypatch, capsys):
    """The batched-runner deployment script end-to-end in-process
    (spark-submit mechanics are proven separately in test_submit.py):
    infer + batched validate + resume on a second invocation."""
    import importlib

    docs = make_documents(spark, 600, seed=11, n_buckets=10)
    flat = docs.selectExpr("doc_id", "cast(size(spans) as long) as n_spans", "bucket")
    root = str(tmp_path / "tbl")
    flat.write.partitionBy("bucket").parquet(root)

    # the script stops "its" session on exit; in-process that would be
    # the shared pytest session — neutralize stop for this test
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    mod = importlib.import_module("scripts.run_schema_validation")
    argv = [
        "prog", "--table", root, "--partition-col", "bucket",
        "--audit", str(tmp_path / "aud"), "--batch-size", "4",
        "--pattern-sample", "0",
    ]
    monkeypatch.setattr("sys.argv", argv)
    assert mod.main() == 0
    out1 = capsys.readouterr().out
    assert "processed=10 skipped=0 failed=0" in out1

    monkeypatch.setattr("sys.argv", argv)
    assert mod.main() == 0
    assert "processed=0 skipped=10 failed=0" in capsys.readouterr().out

    # persist the contract, then validate a FRESH audit from it (no
    # re-inference): the infer-once / validate-forever loop
    sj = str(tmp_path / "contract.json")
    argv_save = argv[:-2] + ["--pattern-sample", "0", "--save-schema-json", sj]
    argv_save[argv_save.index("--audit") + 1] = str(tmp_path / "aud_s")
    monkeypatch.setattr("sys.argv", argv_save)
    assert mod.main() == 0
    capsys.readouterr()

    argv_load = [
        "prog", "--table", root, "--partition-col", "bucket",
        "--audit", str(tmp_path / "aud2"), "--batch-size", "5",
        "--schema-json", sj,
    ]
    monkeypatch.setattr("sys.argv", argv_load)
    assert mod.main() == 0
    out3 = capsys.readouterr()
    assert "processed=10 skipped=0 failed=0" in out3.out


def test_partition_values_round_trip_raw_strings(spark, tmp_path):
    """Hive-legal values that do NOT survive partition type inference
    (zero-padded ints '00123' -> 123, float spellings '0.10' -> 0.1)
    must still key their audit rows correctly — the silent
    rows=0 false-pass ADVICE flagged. The manifest string, the pruned
    read's column value, the verdict key and the audit key must all be
    the same raw string."""
    from pandera_forge_spark.inference import infer_schema
    from pandera_forge_spark.runner import validation_process_batch

    df = spark.createDataFrame(
        [("00123", i) for i in range(5)]
        + [("0.10", i) for i in range(3)]
        + [("7", i) for i in range(2)],
        "day string, x long",
    )
    root = str(tmp_path / "zp")
    table = HivePartitionedParquet(spark, root, "day")
    table.write(df)

    manifest = table.list_partitions()
    assert sorted(manifest) == ["0.10", "00123", "7"]
    # the pruned read hands back the RAW directory string
    vals = {
        r["day"]
        for r in table.read_partitions(manifest).select("day").distinct().collect()
    }
    assert vals == {"00123", "0.10", "7"}

    schema = infer_schema(df.select("x"), "zp")
    audit = AuditLog(spark, str(tmp_path / "zp_audit"))
    rep = run_partitions(
        table,
        audit,
        process_batch=validation_process_batch(schema, "day"),
        batch_size=8,
    )
    assert rep.ok and sorted(rep.processed) == sorted(manifest)
    got = {r["partition"]: r["rows"] for r in audit.read().collect()}
    # every partition's TRUE row count landed — no rows=0 false-pass
    assert got == {"00123": 5, "0.10": 3, "7": 2}


def test_iceberg_binding_smoke(spark, tmp_path):
    """Executable Iceberg binding (VERDICT r2 next-round #8): when an
    iceberg-spark runtime jar is on the classpath, the runner's storage
    interface binds to a real Iceberg catalog — manifest from the
    `.partitions` metadata table, pruned reads, checkpointed resume.
    Skips LOUDLY when the jar is absent (this sandbox)."""
    import pytest as _pytest

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        _pytest.skip("no iceberg-spark runtime jar on the session classpath")

    from pandera_forge_spark.runner import IcebergTable

    spark.conf.set(
        "spark.sql.catalog.pfs_local", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.pfs_local.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.pfs_local.warehouse", str(tmp_path / "wh")
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS pfs_local.db")
    spark.sql(
        "CREATE TABLE pfs_local.db.t (day string, x bigint) "
        "USING iceberg PARTITIONED BY (day)"
    )
    spark.createDataFrame(
        [("00123", i) for i in range(5)] + [("7", i) for i in range(2)],
        "day string, x long",
    ).writeTo("pfs_local.db.t").append()

    table = IcebergTable(spark, "pfs_local.db.t", "day")
    assert table.list_partitions() == ["00123", "7"]
    assert table.read_partition("00123").count() == 5
    assert table.read_partitions(["00123", "7"]).count() == 7

    audit = AuditLog(spark, str(tmp_path / "iceberg_audit"))
    rep = run_partitions(table, audit, _process_counts)
    assert rep.ok and sorted(rep.processed) == ["00123", "7"]


def test_audit_summary_rollup(spark, tmp_path):
    from pandera_forge_spark.runner import audit_summary

    docs = make_documents(spark, 200, seed=5, n_buckets=4)
    table = HivePartitionedParquet(spark, str(tmp_path / "t"), "bucket")
    table.write(docs)
    audit = AuditLog(spark, str(tmp_path / "a"))

    def proc(df, part):
        n = df.count()
        v = 7 if part == "2" else 0
        return {"rows": n, "violations": v, "checks": {"c": v}}

    run_partitions(table, audit, proc)
    s = audit_summary(audit.read()).collect()[0]
    assert s["partitions"] == 4 and s["ok"] == 3 and s["errors"] == 0
    assert s["with_violations"] == 1
    assert s["total_rows"] == 200 and s["total_violations"] == 7
    assert s["worst_partition"] == "2" and s["worst_violations"] == 7
    assert s["violation_rate"] == round(7 / 200, 8)
    assert s["wall_sec_total"] >= s["wall_sec_max"] >= 0


def test_validation_batch_runs_only_validate_tables_jobs(spark, tmp_path):
    """process_batch splits the verdict rows validate_table already
    collected: a batch runs exactly the jobs validate_table runs on the
    same frame, none to re-collect the verdicts."""
    from pandera_forge_spark.runner import validation_process_batch
    from pandera_forge_spark.schema import ColumnSpec, TableSchema
    from pandera_forge_spark.validator import validate_table

    docs = make_documents(spark, 300, seed=3, n_buckets=5)
    table = HivePartitionedParquet(spark, str(tmp_path / "t"), "bucket")
    table.write(docs)
    parts = table.list_partitions()
    df = table.read_partitions(parts)
    schema = TableSchema(
        name="Docs",
        columns=[
            ColumnSpec(
                name="doc_id", sanitized_name="doc_id", name_was_valid=True,
                spark_type="string", pandera_type="String", nullable=False,
                ge="d",
            )
        ],
    )
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    res, validate_jobs = jobs(
        "verdict-validate",
        lambda: validate_table(df, schema, partition_cols=["bucket"], check_unique=False),
    )
    per_part, batch_jobs = jobs(
        "verdict-batch", lambda: validation_process_batch(schema, "bucket")(df, parts)
    )
    assert validate_jobs >= 1
    assert batch_jobs == validate_jobs
    assert sorted(per_part) == sorted(str(p) for p in parts)
    assert sum(m["rows"] for m in per_part.values()) == res.total_rows == 300
    assert res.verdict_rows == res.verdicts.collect()


def test_validation_batch_builds_no_local_frame(spark, tmp_path, monkeypatch):
    """A runner pass over validation_process_batch reads the collected
    verdict rows and never builds ``ValidationResult.verdicts``: no
    ``createDataFrame`` call (~20 ms of driver work each)."""
    from pyspark.sql import SparkSession

    from pandera_forge_spark.runner import validation_process_batch
    from pandera_forge_spark.schema import ColumnSpec, TableSchema
    from pandera_forge_spark.validator import validate_table

    docs = make_documents(spark, 200, seed=5, n_buckets=4)
    table = HivePartitionedParquet(spark, str(tmp_path / "t"), "bucket")
    table.write(docs)
    schema = TableSchema(
        name="Docs",
        columns=[
            ColumnSpec(
                name="doc_id", sanitized_name="doc_id", name_was_valid=True,
                spark_type="string", pandera_type="String", nullable=False,
                ge="d",
            )
        ],
    )
    calls = []
    real = SparkSession.createDataFrame
    monkeypatch.setattr(
        SparkSession,
        "createDataFrame",
        lambda self, *a, **k: calls.append(a) or real(self, *a, **k),
    )
    report = run_partitions(
        table,
        AuditLog(spark, str(tmp_path / "audit")),
        process_batch=validation_process_batch(schema, "bucket"),
        batch_size=2,
    )
    assert report.ok and len(report.processed) == 4
    assert calls == []

    # the frame is still there on first access, built once
    df = table.read_partitions(table.list_partitions())
    res = validate_table(df, schema, partition_cols=["bucket"], check_unique=False)
    assert calls == []
    assert sorted(res.verdicts.collect()) == sorted(res.verdict_rows)
    assert res.verdicts is res.verdicts and len(calls) == 1
    assert validate_table(df, schema, check_unique=False).verdicts is None


def test_audit_commit_round_trips(spark, tmp_path, py4j_commands):
    """A commit is three metadata calls on the log's one DriverFS (clear
    stale files, write the parquet, touch _SUCCESS — the write makes the
    partition directory). On a local root DriverFS serves them through
    the OS: no py4j command at all. Through Hadoop's FileSystem a commit
    sent 13, and 43 with the ``Path`` class looked up on every call and
    an explicit mkdirs."""
    audit = AuditLog(spark, str(tmp_path / "audit"))
    audit.commit("warm", [{"rows": 1}])
    with py4j_commands() as sent:
        audit.commit("p0", [{"rows": 3, "violations": 1, "checks": {"c": 1}}])
    assert len(sent) == 0, len(sent)
    assert audit.completed_partitions() == {"warm", "p0"}
    assert {r["partition"]: r["rows"] for r in audit.read().collect()} == {"warm": 1, "p0": 3}


def test_partition_written_between_passes_is_audited(spark, tmp_path):
    """One table instance, two passes: a partition added by a plain
    ``df.write`` after the first pass is audited on the second with its
    true row count — the second pass reads the snapshot taken at its
    own listing, not the first pass's scan (which would hand back 0
    rows for the new directory)."""
    from pandera_forge_spark.runner import validation_process_batch
    from pandera_forge_spark.schema import TableSchema

    df = spark.createDataFrame([(p, i) for p in ("a", "b") for i in range(4)], "k string, x long")
    root = str(tmp_path / "t")
    table = HivePartitionedParquet(spark, root, "k")
    table.write(df)
    audit = AuditLog(spark, str(tmp_path / "audit"))
    pb = validation_process_batch(TableSchema("T"), "k")

    r1 = run_partitions(table, audit, process_batch=pb, batch_size=8)
    assert sorted(r1.processed) == ["a", "b"]

    spark.createDataFrame([("c", i) for i in range(3)], "k string, x long").write.partitionBy(
        "k"
    ).mode("append").parquet(root)
    r2 = run_partitions(table, audit, process_batch=pb, batch_size=8)
    assert r2.processed == ["c"] and sorted(r2.skipped) == ["a", "b"]
    got = {r["partition"]: r["rows"] for r in audit.read().collect()}
    assert got == {"a": 4, "b": 4, "c": 3}


def test_table_write_append_shows_in_next_read(spark, tmp_path):
    """Rows appended through ``table.write(..., mode="append")`` are in
    the next read of the same instance, listing or not."""
    table = HivePartitionedParquet(spark, str(tmp_path / "t"), "k")
    table.write(spark.createDataFrame([("a", i) for i in range(5)], "k string, x long"))
    assert table.list_partitions() == ["a"]
    assert table.read_partitions(["a"]).count() == 5
    table.write(
        spark.createDataFrame([("a", 9), ("b", 1)], "k string, x long"), mode="append"
    )
    assert table.read_partitions(["a", "b"]).count() == 7
    assert table.read_partition("b").count() == 1


def test_manifest_fence_at_its_edge(spark, tmp_path, monkeypatch):
    """MAX_MANIFEST counts partition directories only: N pass, N+1 raise
    naming the count; plain files at the root — _SUCCESS, its .crc, even
    a file named like a partition — are neither listed nor counted."""
    import os

    import pytest

    monkeypatch.setattr(HivePartitionedParquet, "MAX_MANIFEST", 3)
    root = tmp_path / "t"
    for v in ("1", "2", "3"):
        os.makedirs(root / f"col={v}")
    for name in ("_SUCCESS", "._SUCCESS.crc", "col=x"):
        (root / name).write_bytes(b"")
    table = HivePartitionedParquet(spark, str(root), "col")
    assert table.list_partitions() == ["1", "2", "3"]

    os.makedirs(root / "col=4")
    with pytest.raises(ValueError, match="4 partition directories"):
        table.list_partitions()
