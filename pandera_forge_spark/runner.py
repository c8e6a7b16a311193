"""Checkpointed, resumable partition-manifest runner with an audit sink.

North-rule mandate: "resumable from a checkpointed partition-manifest
with per-partition lineage and metrics rows written to an Iceberg audit
table". Absent from the reference (SURVEY.md §2.1 S10) — the reference
is a one-shot library call.

This sandbox has no Iceberg catalog jar, so the runner is written
against a minimal storage interface (``list_partitions /
read_partition / audit``) with a Hive-partitioned-parquet
implementation (SURVEY.md §7 build plan step 8). On a real cluster the
same interface binds to Iceberg: ``list_partitions`` reads the
``<table>.partitions`` metadata table, ``read_partition`` is a
partition-pruned ``spark.read.table``, and the audit sink is
``df.writeTo(audit).overwritePartitions()`` — all snapshot-atomic.

Resume semantics: a partition is DONE iff its audit rows are fully
committed (parquet _SUCCESS marker / Iceberg snapshot). Work restarts
skip done partitions (anti-join of manifest against the audit table);
per-partition writes are overwrite-idempotent, so a partition killed
mid-write is simply redone with identical results — no double count.

Read semantics: a ``run_partitions`` pass reads the table as of its own
manifest listing. ``HivePartitionedParquet`` builds its base scan (file
listing plus parquet schema inference) once after each listing and
every batch of the pass filters that one scan; the next pass lists
again and so sees partitions written in between.

Driver cost: the table and the audit log each hold one ``DriverFS``,
the manifest is one directory listing, and a commit is three metadata
calls — clear stale files, write the rows, touch ``_SUCCESS``. On a
local root ``DriverFS`` serves them through the OS: no py4j round trip
and no process start-up (Hadoop's local filesystem starts a ``chmod``
process per created file and directory without its native library, so
a commit through it cost ~20 ms; through the OS ~0.5 ms). Other roots
(``s3a://``, ``hdfs://``) go through Hadoop's FileSystem, where the
Hadoop ``Path`` class and configuration are resolved once per instance.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AUDIT_SCHEMA = (
    "partition string, status string, rows long, violations long, "
    "checks string, started double, finished double, engine string"
)


class HivePartitionedParquet:
    """Partition-manifest + pruned reads over a hive-layout parquet dir
    (``<root>/<col>=<val>/...``).

    Reads come from one base scan per manifest listing: the first read
    after ``list_partitions()`` lists the files and infers the schema
    once, and every later read until the next listing filters that same
    snapshot (no per-batch partition discovery or schema-inference
    job). ``list_partitions()`` and ``write()`` drop the snapshot, so a
    ``run_partitions`` pass reads the data as of its own listing — a
    partition written between two passes is seen by the second."""

    def __init__(self, spark: SparkSession, root: str, partition_col: str):
        from pandera_forge_spark.sources.fs import DriverFS

        self.spark = spark
        self.root = root
        self.partition_col = partition_col
        self._fs = DriverFS(spark)
        self._scan: Optional[DataFrame] = None

    MAX_MANIFEST = 1_000_000

    def list_partitions(self) -> list[str]:
        """The partition manifest. Directory listing — O(partitions),
        no data scan (Iceberg equivalent: the `partitions` metadata
        table): one directory listing, directory flags included.
        Scheme-aware: works on s3a://, hdfs://, local paths alike
        (DriverFS routes each path to the OS or to Hadoop's
        FileSystem). Drops the base
        scan, so the next read sees the table as of this listing.

        Loudly fenced at ``MAX_MANIFEST`` partition directories (plain
        files at the root, such as ``_SUCCESS``, are not counted): a
        manifest is meant to be 10^4-10^5 operational partitions; a
        per-key layout (one directory per URL/doc) would make every
        runner pass O(corpus) driver work — that layout belongs in
        Iceberg metadata tables (``IcebergTable``), not hive
        directories."""
        self._scan = None
        prefix = f"{self.partition_col}="
        names = [n for n in self._fs.list_dirs(self.root) if n.startswith(prefix)]
        if len(names) > self.MAX_MANIFEST:
            raise ValueError(
                f"{len(names)} partition directories under {self.root} exceed "
                f"the {self.MAX_MANIFEST} manifest fence — this layout is "
                "per-key, not per-partition; use the IcebergTable binding "
                "or repartition the table"
            )
        return sorted(name.split("=", 1)[1] for name in names)

    def _read(self) -> DataFrame:
        """Base scan with the partition column read back as its RAW
        directory string, built on first use after a listing and reused
        until the next one. Hive partition-type inference is deliberately
        disabled for this read: a zero-padded value like ``day=00123``
        otherwise infers as int 123, and its str() no longer matches
        the manifest/audit key — the silent rows=0 false-pass the audit
        log must never produce. Keeping the column a string makes the
        manifest, the pruning filter, the verdict key and the audit key
        one and the same value."""
        if self._scan is not None:
            return self._scan
        inference_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = self.spark.conf.get(inference_key, "true")
        self.spark.conf.set(inference_key, "false")
        try:
            # schema (incl. partition discovery) resolves eagerly here
            self._scan = self.spark.read.option("basePath", self.root).parquet(self.root)
        finally:
            self.spark.conf.set(inference_key, prev)
        return self._scan

    def read_partition(self, value: str) -> DataFrame:
        """Partition-pruned read: the filter on the partition column is
        resolved at planning time against the hive layout — only that
        directory is scanned (verify via PartitionFilters in explain)."""
        return self._read().where(F.col(self.partition_col) == value)

    def read_partitions(self, values: Sequence[str]) -> DataFrame:
        """One pruned read covering a BATCH of partitions (isin over the
        partition column — still resolved at planning time, still only
        those directories scanned). This is what lets the runner
        amortize per-job scheduling latency over k partitions."""
        return self._read().where(F.col(self.partition_col).isin(list(values)))

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Write ``df`` partitioned by the partition column, then drop
        the base scan so the next read sees the new files."""
        df.write.partitionBy(self.partition_col).mode(mode).parquet(self.root)
        self._scan = None


class IcebergTable:
    """Iceberg binding of the runner's storage interface — the shape
    the module docstring promises. ``list_partitions`` reads the
    ``<table>.partitions`` METADATA table (O(partitions), no data
    scan); ``read_partition(s)`` are partition-pruned reads of the main
    table (Iceberg prunes manifests at planning time from the literal
    predicate). Manifest keys are the raw ``str()`` of the typed
    partition value, and the str→typed map is built from the metadata
    table itself, so the same string always filters with the exact
    typed literal — the audit protocol's key-consistency invariant.

    Exercised by tests/test_runner.py::test_iceberg_binding_smoke,
    which skips loudly when no iceberg-spark runtime jar is on the
    session classpath (this sandbox)."""

    def __init__(self, spark: SparkSession, table: str, partition_col: str):
        self.spark = spark
        self.table = table
        self.partition_col = partition_col

    def _typed(self) -> dict:
        rows = (
            self.spark.read.table(f"{self.table}.partitions")
            .select(F.col(f"partition.{self.partition_col}").alias("v"))
            .distinct()
            .collect()
        )
        return {str(r["v"]): r["v"] for r in rows}

    def list_partitions(self) -> list[str]:
        return sorted(self._typed())

    def read_partition(self, value: str) -> DataFrame:
        typed = self._typed()[value]
        return self.spark.read.table(self.table).where(
            F.col(self.partition_col) == F.lit(typed)
        )

    def read_partitions(self, values: Sequence[str]) -> DataFrame:
        typed = self._typed()
        return self.spark.read.table(self.table).where(
            F.col(self.partition_col).isin([typed[v] for v in values])
        )


class AuditLog:
    """Per-partition lineage + metrics rows, committed atomically per
    partition (idempotent overwrite into ``audit/partition=<val>``)."""

    def __init__(self, spark: SparkSession, root: str):
        from pandera_forge_spark.sources.fs import DriverFS

        self.spark = spark
        self.root = root
        self._fs = DriverFS(spark)

    def completed_partitions(self) -> set[str]:
        fs = self._fs
        return {
            name.split("=", 1)[1]
            for name in fs.listdir(self.root)
            if name.startswith("partition=")
            and fs.exists(f"{self.root}/{name}/_SUCCESS")
        }

    def commit(self, partition: str, rows: list[dict]) -> None:
        """Write one partition's audit rows + its _SUCCESS marker.

        Driver-side pyarrow, deliberately NOT a Spark job: audit rows
        are O(1)-sized driver dicts, and with 10⁴-10⁵ manifest
        partitions a per-commit Spark job would add scheduling latency
        comparable to the work itself. The write is overwrite-idempotent
        (stale files cleared first, _SUCCESS last), preserving the
        commit protocol resume depends on, and goes through DriverFS:
        the OS for a local root (no py4j round trip, no ``.crc``
        sidecars), Hadoop's FileSystem otherwise, so ``--audit
        s3a://...`` works the same as a local path; the file write
        creates the partition directory. The Iceberg binding replaces
        this with ``writeTo(audit).overwritePartitions()``."""
        import pyarrow as pa

        from pandera_forge_spark.sources.fs import write_parquet_bytes

        fs = self._fs
        d = f"{self.root}/partition={partition}"
        fs.clear_files(d)
        tbl = pa.table(
            {
                "partition": pa.array([partition] * len(rows), pa.string()),
                "status": pa.array([r.get("status", "ok") for r in rows], pa.string()),
                "rows": pa.array([int(r.get("rows", 0)) for r in rows], pa.int64()),
                "violations": pa.array(
                    [int(r.get("violations", 0)) for r in rows], pa.int64()
                ),
                "checks": pa.array(
                    [json.dumps(r.get("checks", {}), sort_keys=True) for r in rows],
                    pa.string(),
                ),
                "started": pa.array(
                    [float(r.get("started", 0.0)) for r in rows], pa.float64()
                ),
                "finished": pa.array(
                    [float(r.get("finished", 0.0)) for r in rows], pa.float64()
                ),
                "engine": pa.array(["pandera_forge_spark"] * len(rows), pa.string()),
            }
        )
        fs.write_bytes(f"{d}/part-00000.parquet", write_parquet_bytes(tbl))
        fs.touch(f"{d}/_SUCCESS")

    def read(self) -> DataFrame:
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(f"{self.root}/partition=*")


@dataclass
class RunReport:
    processed: list[str]
    skipped: list[str]
    failed_partitions: list[str]

    @property
    def ok(self) -> bool:
        return not self.failed_partitions


def run_partitions(
    table: HivePartitionedParquet,
    audit: AuditLog,
    process: Optional[Callable[[DataFrame, str], dict]] = None,
    max_partitions: Optional[int] = None,
    fail_fast: bool = False,
    batch_size: int = 1,
    process_batch: Optional[Callable[[DataFrame, list], dict]] = None,
) -> RunReport:
    """The resumable driver loop: manifest minus completed → process
    remaining partitions distributed → commit per-partition audit rows.

    Two processing shapes:

    - ``process(df, partition) -> {"rows": n, "violations": n,
      "checks": {...}}`` — one Spark job (at least) per partition.
      Fine for few/large partitions.
    - ``process_batch(df, partitions) -> {partition: metrics}`` with
      ``batch_size=k`` — ONE pruned read covering k partitions and one
      grouped validation job per batch (see
      ``validation_process_batch``). With 10⁴-10⁵ manifest partitions
      the per-partition loop is dominated by per-job scheduling
      latency, not data; batching amortizes it k-fold while keeping
      audit rows, lineage and resume granularity PER PARTITION — a
      restart after a mid-batch kill re-processes only the partitions
      whose audit commit didn't land.

    The runner owns only manifest, checkpoint and lineage; the
    callbacks own what "validation" means (validate_table / drift /
    span checks / any bundle).
    """
    if (process is None) == (process_batch is None):
        raise ValueError("pass exactly one of process / process_batch")
    manifest = table.list_partitions()
    done = audit.completed_partitions()
    todo = [p for p in manifest if p not in done]
    if max_partitions is not None:
        todo = todo[:max_partitions]

    processed, failed = [], []

    def commit_one(part: str, metrics: dict, started: float) -> None:
        v = metrics.get("violations", 0)
        status = "error" if v < 0 else ("ok" if v == 0 else "violations")
        metrics.update(status=status, started=started, finished=time.time())
        audit.commit(part, [metrics])
        (failed if status == "error" else processed).append(part)

    if process_batch is not None:
        k = max(1, batch_size)
        for i in range(0, len(todo), k):
            chunk = todo[i : i + k]
            started = time.time()
            df = table.read_partitions(chunk)
            try:
                per_part = process_batch(df, list(chunk))
            except Exception as e:  # noqa: BLE001 — record, don't lose lineage
                per_part = {
                    p: {"rows": 0, "violations": -1, "checks": {"error": str(e)}}
                    for p in chunk
                }
            for part in chunk:
                metrics = per_part.get(
                    part, {"rows": 0, "violations": 0, "checks": {}}
                )
                commit_one(part, metrics, started)
            if failed and fail_fast:
                break
    else:
        for part in todo:
            started = time.time()
            df = table.read_partition(part)
            try:
                metrics = process(df, part)
            except Exception as e:  # noqa: BLE001 — record, don't lose lineage
                metrics = {"rows": 0, "violations": -1, "checks": {"error": str(e)}}
            commit_one(part, metrics, started)
            if failed and fail_fast:
                break

    return RunReport(
        processed=processed,
        skipped=sorted(done & set(manifest)),
        failed_partitions=failed,
    )


def validation_process_batch(schema, partition_col: str):
    """Standard ``process_batch`` for schema validation: ONE grouped
    validation job per batch (``validate_table`` with the partition
    column as the grouping key — the same fused sum(!pred) aggregate
    the per-partition path runs, shared across the whole batch), split
    back into per-partition metric dicts for the audit log from the
    verdict rows that job already collected (``verdict_rows``; no
    further job). Uniqueness stays off here (it is cross-partition
    state; run it table-level)."""
    from pandera_forge_spark.validator import validate_table

    def process_batch(df: DataFrame, parts: list) -> dict:
        res = validate_table(
            df, schema, partition_cols=[partition_col], check_unique=False
        )
        out: dict = {}
        for row in res.verdict_rows:
            d = row.asDict()
            # the partition column comes back as its RAW directory
            # string (type inference disabled in HivePartitionedParquet
            # reads), so this key is byte-identical to the manifest/audit
            # key — zero-padded ints and float spellings included
            part = str(d.pop(partition_col))
            rows = int(d.pop("__rows__") or 0)
            checks = {name: int(v or 0) for name, v in d.items()}
            out[part] = {
                "rows": rows,
                "violations": sum(checks.values()),
                "checks": checks,
            }
        for p in parts:  # manifest partitions with zero rows still audit
            out.setdefault(str(p), {"rows": 0, "violations": 0, "checks": {}})
        return out

    return process_batch


def audit_summary(audit_df: DataFrame) -> DataFrame:
    """One-row SLA rollup of an audit log — what a dashboard or a
    nightly report reads instead of 10^5 per-partition rows: partition
    counts by status, total rows/violations, violation rate, wall-time
    stats, and the worst partition (max violations, ties by name).

    Pure algebraic aggregation over the O(partitions) audit frame —
    cheap at any manifest size; the 'worst partition' is a max_by, not
    a sort."""
    dur = F.col("finished") - F.col("started")
    return audit_df.agg(
        F.count(F.lit(1)).alias("partitions"),
        F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
        F.count(F.when(F.col("status") == "violations", 1)).alias(
            "with_violations"
        ),
        F.count(F.when(F.col("status") == "error", 1)).alias("errors"),
        F.coalesce(F.sum("rows"), F.lit(0)).alias("total_rows"),
        F.coalesce(F.sum("violations"), F.lit(0)).alias("total_violations"),
        F.round(
            F.try_divide(F.sum("violations"), F.sum("rows").cast("double")), 8
        ).alias("violation_rate"),
        F.round(F.sum(dur), 3).alias("wall_sec_total"),
        F.round(F.max(dur), 3).alias("wall_sec_max"),
        F.max_by(
            F.col("partition"), F.struct(F.col("violations"), F.col("partition"))
        ).alias("worst_partition"),
        F.max("violations").alias("worst_violations"),
    )
