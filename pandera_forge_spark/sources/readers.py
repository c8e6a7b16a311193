"""Source readers: CSV (with encoding fallback), parquet, tables,
catalog enumeration, sampled reads, Excel (gated).

Mirrors the reference's source surface (SURVEY.md §2.1 S1-S8):
- CSV with latin-1 retry (reference: pandas/pandas_generator.py:101-142)
- parquet scan (reference: spark/spark_generator.py:196-237)
- table scan incl. qualified names (reference: databricks/connector.py:159-194)
- snapshot/time-travel options (reference: databricks/connector.py:196-212,
  Delta versionAsOf → Iceberg snapshot-id/as-of-timestamp here)
- catalog enumeration (reference: databricks/connector.py:132-157)
- seeded Bernoulli sampling — the reference samples UNseeded
  (spark/spark_field_analyzer.py:171-192), which is nondeterministic;
  we always pass a seed (SURVEY.md §2.9 M1)
- Excel via driver-side pandas behind an import-try (no native source)
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SAMPLE_SEED = 42

# bytes of file head probed per file for UTF-8 validity; bad bytes past
# this bound go undetected (documented probe limit, like the
# reference's 10k-row analysis sample)
CSV_PROBE_BYTES = 1 << 20
CSV_PROBE_FILES = 5


def _utf8_head_invalid(path: str) -> Optional[bool]:
    """True if a local file head fails strict UTF-8 decoding, False if
    it decodes cleanly, None when the path isn't local (e.g. an object
    store) so byte probing is unavailable. A decode error inside the
    last 3 bytes of a truncated head is a split multi-byte sequence,
    not bad data, and does not count."""
    p = Path(path)
    if p.is_file():
        files = [p]
    elif p.is_dir():
        files = sorted(
            f
            for f in p.iterdir()
            if f.is_file() and not f.name.startswith((".", "_"))
        )[:CSV_PROBE_FILES]
    else:
        return None
    for f in files:
        head = f.read_bytes()[:CSV_PROBE_BYTES]
        try:
            head.decode("utf-8")
        except UnicodeDecodeError as e:
            if e.start < len(head) - 3:
                return True
    return False


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    probe_rows: int = 1000,
) -> DataFrame:
    """CSV scan with the reference's latin-1 fallback (reference:
    pandas/pandas_generator.py:122-129 retries read_csv on
    UnicodeDecodeError).

    Spark never RAISES on bad UTF-8 — it substitutes U+FFFD
    replacement characters — so the fallback must detect bad bytes
    itself. Primary probe: strictly decode the raw head
    (CSV_PROBE_BYTES) of up to CSV_PROBE_FILES local files — a genuine
    ``UnicodeDecodeError`` proves the data is not UTF-8, while a file
    that legitimately CONTAINS U+FFFD decodes fine and is left alone.
    For non-local paths (no driver byte access) it falls back to
    scanning the first ``probe_rows`` decoded rows for U+FFFD — which
    can false-positive on literal replacement characters; bad bytes
    beyond either probe bound are never detected. Any hit re-reads as
    latin-1 (which decodes every byte, so the retry cannot fail)."""
    def reader(enc: str):
        return (
            spark.read.option("header", header)
            .option("inferSchema", infer_schema)
            .option("encoding", enc)
            .csv(path)
        )

    bad = _utf8_head_invalid(path)
    if bad:
        # latin-1's canonical charset name (Spark 4 rejects the
        # "latin1" alias)
        return reader("ISO-8859-1")
    df = reader("UTF-8")
    if bad is None and probe_rows > 0:
        string_cols = [
            f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
        ]
        if string_cols:
            probe = df.select(*string_cols).limit(probe_rows).collect()
            if any(v is not None and "�" in v for row in probe for v in row):
                return reader("ISO-8859-1")
    return df


def read_parquet(
    spark: SparkSession, path: str, min_partitions: Optional[int] = None
) -> DataFrame:
    """Parquet scan; with ``min_partitions``, small inputs are fanned
    out so CPU-heavy per-row work (regex sweeps, shingling, hashing)
    parallelizes.

    A single small parquet file scans as ONE split (and one row group
    can't be split at all), serializing everything above it on one
    core. At warehouse scale inputs arrive as many files/row-groups and
    this is a no-op — the repartition only fires when the scan has
    fewer splits than requested.
    """
    df = spark.read.parquet(path)
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def read_table(
    spark: SparkSession,
    table_name: str,
    catalog: Optional[str] = None,
    schema: Optional[str] = None,
    sample_fraction: Optional[float] = None,
    snapshot_id: Optional[int] = None,
    as_of_timestamp: Optional[str] = None,
) -> DataFrame:
    """Qualified table read with optional seeded sample and Iceberg
    time travel (snapshot-id / as-of-timestamp read options)."""
    parts = [p for p in (catalog, schema) if p] + [table_name]
    qualified = ".".join(parts)
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", snapshot_id)
    if as_of_timestamp is not None:
        reader = reader.option("as-of-timestamp", as_of_timestamp)
    df = reader.table(qualified)
    if sample_fraction is not None and 0 < sample_fraction < 1:
        df = df.sample(False, sample_fraction, seed=DEFAULT_SAMPLE_SEED)
    return df


def list_tables(
    spark: SparkSession, catalog: Optional[str] = None, schema: Optional[str] = None
) -> list[str]:
    """Catalog enumeration via the session catalog API (equivalent of
    the reference's SHOW TABLES SQL)."""
    db = ".".join(p for p in (catalog, schema) if p) or None
    tables = spark.catalog.listTables(db) if db else spark.catalog.listTables()
    return sorted(t.name for t in tables)


def sample_for_analysis(
    df: DataFrame, sample_size: int = 10000, seed: int = DEFAULT_SAMPLE_SEED
) -> DataFrame:
    """Bernoulli sample down to ~sample_size rows (the reference's
    default analysis cap, spark/spark_generator.py:20) — but SEEDED."""
    total = df.count()
    if total <= sample_size:
        return df
    return df.sample(False, sample_size / total, seed=seed)


def read_excel(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """All sheets → one DataFrame per sheet (reference:
    pandas/pandas_generator.py:144-205). Driver-side by design — the
    reference parses workbooks with pandas ExcelFile and they are
    MB-scale artifacts, never the 100-TB path. Uses pandas+openpyxl
    when available (full fidelity: dates, styles); otherwise falls
    back to the bundled stdlib SpreadsheetML reader (sources/xlsx.py —
    zipfile + ElementTree over the public ECMA-376 format), so Excel
    ingestion works in this container too."""
    try:
        import openpyxl  # noqa: F401 — pandas' xlsx engine
        import pandas as pd
    except ImportError:
        from pandera_forge_spark.sources.xlsx import (
            matrix_to_spark,
            read_workbook,
        )

        return {
            name: matrix_to_spark(spark, matrix)
            for name, matrix in read_workbook(path).items()
        }
    sheets = pd.read_excel(path, sheet_name=None, engine="openpyxl")
    return {name: spark.createDataFrame(pdf) for name, pdf in sheets.items()}


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines scan — the de-facto interchange format for document
    corpora. PERMISSIVE mode with an explicit corrupt-record column:
    a malformed line becomes one row whose ``corrupt_col`` holds the
    raw text and every schema field is null, so broken upstream
    exports are *measurable* (count the column) instead of silently
    dropped (DROPMALFORMED) or job-fatal (FAILFAST).

    Pass ``schema`` (DDL string) in production: without it Spark runs
    a full inference pass over the data (twice the I/O at corpus
    scale) — and Spark only materializes corrupt rows when the column
    is part of an EXPLICIT schema, so the corrupt channel needs it
    too. With no schema given this helper infers one first (fine for
    interactive use), then re-reads with the corrupt column appended.
    """
    if schema is None:
        inferred = spark.read.json(path).schema
        fields = [f for f in inferred.fields if f.name != corrupt_col]
        from pyspark.sql import types as T

        full = T.StructType(fields + [T.StructField(corrupt_col, T.StringType())])
        reader_schema = full
    else:
        reader_schema = f"{schema}, {corrupt_col} STRING"
    return (
        spark.read.schema(reader_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def corrupt_record_report(df: DataFrame, corrupt_col: str = "_corrupt_record") -> dict:
    """One-aggregate health report for a PERMISSIVE JSONL read:
    total rows, corrupt rows, and corrupt fraction.

    Spark refuses queries whose only referenced column from a raw
    JSON scan is the corrupt-record column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the usual workaround is
    cache(), unacceptable at corpus scale); referencing any real field
    in the same aggregate lifts the restriction while staying a single
    scan."""
    data_cols = [c for c in df.columns if c != corrupt_col]
    extra = (
        [F.count(F.col(data_cols[0])).alias("__touch")] if data_cols else []
    )
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.col(corrupt_col)).alias("corrupt"),
        *extra,
    ).collect()[0]
    rows = row["rows"] or 0
    return {
        "rows": rows,
        "corrupt": row["corrupt"],
        "corrupt_fraction": (row["corrupt"] / rows) if rows else 0.0,
    }


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: "list[tuple[str, int, int, str]]",
    trim: bool = True,
) -> DataFrame:
    """Fixed-width text reader — the mainframe/enterprise-export
    format the CSV/Excel/JSONL readers don't cover: every record is
    one line, every field a fixed byte range. ``colspecs`` is
    ``[(name, start_1_based, length, dtype), ...]`` (pandas
    read_fwf-style, public convention); fields are sliced with
    ``substring`` and cast JVM-side — a pure projection over
    ``spark.read.text``, so the scan parallelizes like any text file
    and nothing touches Python.

    ``trim=True`` strips the space padding fixed-width files carry;
    casts use ``try_cast`` (an unparseable numeric becomes NULL even
    under ANSI mode — feed the frame to corrupt_record_report-style
    checks, not an exception handler, the package's loud-not-fatal
    reader convention). Overlapping or zero-length specs raise in-band.

    Write side for round-trips and fixtures: format each field with
    rpad(cast(col as string), length) and concat — the test suite
    and the driver oracle row do exactly that, proving
    read(write(x)) == x column-for-column.
    """
    if not colspecs:
        raise ValueError("read_fixed_width: colspecs must be non-empty")
    seen = set()
    for name, start, length, dtype in colspecs:
        if int(start) < 1 or int(length) < 1:
            raise ValueError(
                f"read_fixed_width: column {name!r} needs start >= 1 and "
                f"length >= 1, got start={start}, length={length}"
            )
        if name in seen:
            raise ValueError(f"read_fixed_width: duplicate column {name!r}")
        seen.add(name)
    spans = sorted((int(start), int(length), name) for name, start, length, _ in colspecs)
    for (s0, n0, a), (s1, _, b) in zip(spans, spans[1:]):
        if s1 < s0 + n0:
            raise ValueError(
                f"read_fixed_width: columns {a!r} (bytes {s0}..{s0 + n0 - 1}) "
                f"and {b!r} (from byte {s1}) overlap"
            )
    raw = spark.read.text(path)
    cols = []
    for name, start, length, dtype in colspecs:
        c = F.substring(F.col("value"), int(start), int(length))
        if trim:
            c = F.trim(c)
        cols.append(c.try_cast(dtype).alias(name))
    return raw.select(*cols)
