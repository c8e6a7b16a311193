"""Distributed validation: per-partition verdicts, violation rows,
uniqueness and referential-integrity anti-joins.

Replaces the reference's driver-side ``Model.validate(df.toPandas())``
(reference: validator.py:43-78, spark/spark_generator.py:141-152 — which
the reference disables at scale) with:

  - ONE aggregation pass evaluating every row-level check for every
    partition: ``groupBy(partition).agg(sum(!pred) per check)`` —
    algebraic aggregates, map-side partial combine, one shuffle total.
  - a violation-row pass that scans ONCE and emits (id, check, value)
    rows for all failed checks via a melted array, capped per check.
  - uniqueness via hash-partitioned groupBy (two-phase salted variant
    for skewed keys) and referential integrity via left-anti joins with
    broadcast hints for small parents (SURVEY.md §2.3 J1/J2).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandera_forge_spark.checks import (
    check_sql,
    compile_check,
    quote_ident,
    row_level,
    sql_ident,
    sql_literal,
    table_level,
)
from pandera_forge_spark.schema import Check, TableSchema


@dataclass
class ValidationResult:
    """Whole-table verdict plus the distributed artifacts.

    In grouped mode (``partition_cols`` given) ``verdict_rows`` holds the
    per-partition rows the validation job collected — partition columns,
    one violation count per row-level check, ``__rows__`` — and
    ``verdicts`` is the same rows as a local DataFrame, built on first
    access. Read ``verdict_rows`` when the rows are needed on the
    driver: collecting ``verdicts`` runs one more Spark job for rows
    already in hand."""

    ok: bool
    counts: dict[str, int]  # check name -> violation count
    total_rows: int
    failed_checks: list[str] = field(default_factory=list)
    verdict_rows: Optional[list] = None  # per-partition rows (if partitioned)
    # the grouped aggregate behind verdict_rows: its session and schema
    # build ``verdicts``
    _grouped: Optional[DataFrame] = field(default=None, repr=False, compare=False)

    @cached_property
    def verdicts(self) -> Optional[DataFrame]:
        """``verdict_rows`` as a local DataFrame (None in ungrouped
        mode), made on first access and cached: ``createDataFrame``
        costs ~20 ms of driver work that a consumer of ``verdict_rows``
        never needs."""
        if self._grouped is None:
            return None
        return self._grouped.sparkSession.createDataFrame(
            self.verdict_rows, self._grouped.schema
        )

    @property
    def error_message(self) -> Optional[str]:
        """(ok, error) shape for parity with the reference's verdict
        tuple (reference: validator.py:16,44-46)."""
        if self.ok:
            return None
        parts = [f"{name}: {self.counts[name]} violations" for name in self.failed_checks]
        return "; ".join(parts)


def _violation_sum(check: Check, alias: str):
    """sum(NOT pred) AS alias — one algebraic aggregate, parsed from SQL
    text with one ``F.expr`` (see the checks module docstring for why
    not the Column API). A NULL verdict counts as no violation."""
    if check.kind == "custom_pandas":
        return F.sum((~compile_check(check)).cast("long")).alias(alias)
    return F.expr(
        f"sum(CAST(NOT ({check_sql(check)}) AS BIGINT)) AS {quote_ident(alias)}"
    )


def violation_count_exprs(checks: Sequence[Check]) -> list:
    """sum(NOT pred) per row-level check, aliased by check name."""
    return [_violation_sum(c, c.name) for c in row_level(list(checks))]


def validate_table(
    df: DataFrame,
    schema: TableSchema,
    partition_cols: Optional[Sequence[str]] = None,
    check_unique: bool = True,
) -> ValidationResult:
    """Evaluate every check of ``schema`` against ``df``.

    Row-level checks: one agg job (grouped per partition when
    ``partition_cols`` given). Unique checks: one groupBy job per keyed
    column, counting duplicate keys (kept separate because uniqueness is
    not algebraic over rows — it needs a shuffle on the key).

    Grouped mode runs the scan ONCE: the per-partition verdict rows —
    O(partitions x checks), a few KB each — are collected, the totals
    summed driver-side, and returned twice: as ``verdict_rows`` (the
    collected ``Row`` list, for driver-side consumers such as the
    runner's audit commits — no further job) and as ``verdicts``, a
    LOCAL frame over the same rows built on first access, so no
    consumer re-scans the input.
    """
    checks = schema.checks()
    exprs = violation_count_exprs(checks) + [F.count(F.lit(1)).alias("__rows__")]

    grouped = vrows = None
    if partition_cols:
        grouped = df.groupBy(*partition_cols).agg(*exprs)
        vrows = grouped.collect()  # the ONE scan of df
        names = [c.name for c in row_level(checks)] + ["__rows__"]
        totals = {
            n: sum(r[n] or 0 for r in vrows) if vrows else None for n in names
        }
    else:
        totals = df.agg(*exprs).collect()[0].asDict()

    counts = {c.name: int(totals[c.name] or 0) for c in row_level(checks)}
    total_rows = int(totals["__rows__"] or 0)

    if check_unique:
        for c in table_level(checks):
            dup = duplicate_keys(df, [c.column]).agg(
                F.coalesce(F.sum("dup_count"), F.lit(0)).alias("n")
            ).collect()[0]["n"]
            counts[c.name] = int(dup)

    failed = sorted(name for name, n in counts.items() if n > 0)
    return ValidationResult(
        ok=not failed,
        counts=counts,
        total_rows=total_rows,
        failed_checks=failed,
        verdict_rows=vrows,
        _grouped=grouped,
    )


def quarantine_split(
    df: DataFrame,
    schema: TableSchema,
    output_root: str,
    format: str = "parquet",
) -> dict[str, int]:
    """ONE-pass valid/quarantine routing — the ingestion shape: write
    rows that satisfy every row-level check under
    ``<output_root>/__valid=true`` and the rest under
    ``__valid=false``, and count both sides WITHOUT a second scan.

    Spark-first mechanics: the verdict is one boolean column (AND of
    the compiled check predicates — all codegen, no UDF), the split is
    ``partitionBy("__valid")`` on a single write job, and the counts
    piggyback on that same job via ``DataFrame.observe`` — the
    accumulator-backed metric channel, so no count() re-scan and no
    cached intermediate. Downstream readers get partition-pruned access
    to either side (``.../__valid=true`` never touches quarantined
    files).

    Returns ``{"rows": total, "valid": n, "quarantined": n}``."""
    from pyspark.sql import Observation

    checks = row_level(schema.checks())
    # one SQL text for every SQL-expressible predicate; only a
    # custom_pandas check (a pandas UDF) joins as a Column
    sql = [f"({check_sql(c)})" for c in checks if c.kind != "custom_pandas"]
    ok = F.expr(" AND ".join(["true", *sql]))
    for c in checks:
        if c.kind == "custom_pandas":
            ok = ok & compile_check(c)

    obs = Observation("quarantine_split")
    flagged = df.withColumn("__valid", ok).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("__valid").cast("long")).alias("valid"),
    )
    flagged.write.partitionBy("__valid").mode("overwrite").format(format).save(
        output_root
    )
    got = obs.get
    rows = int(got["rows"] or 0)
    valid = int(got["valid"] or 0)
    return {"rows": rows, "valid": valid, "quarantined": rows - valid}


def violation_rows(
    df: DataFrame,
    schema: TableSchema,
    id_cols: Sequence[str],
    max_per_check: Optional[int] = None,
) -> DataFrame:
    """Emit one row per (row, failed check): id columns + check name +
    offending value, in a SINGLE scan for all checks.

    Implementation: build an array of struct(check, value, failed) per
    row, filter to failed entries with the higher-order ``filter``
    function, explode — so a clean row costs one array build and no
    output, and no per-check scan exists. ``max_per_check`` bounds
    output via a rank within check (analogous to the reference's
    5-example truncation, reference: code_generator.py:101-103).

    A plain ``where(any check fails)`` guards the explode: the
    higher-order array filter is opaque to Catalyst, but the OR of the
    raw predicates is pushable — it reaches the parquet scan as
    PushedFilters, so row groups whose min/max stats prove them clean
    are skipped entirely (violations are rare by construction; this is
    the difference between scanning 100 TB and scanning the few
    offending row groups). Verified by tests/test_plans.py.
    """
    checks = row_level(schema.checks())
    if not checks:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], schema=", ".join([f"`{c}` string" for c in id_cols]) + ", check string, value string"
        )
    # evaluate each predicate ONCE in a projection (a custom_pandas
    # check would otherwise run its Arrow UDF twice — once in the
    # pushdown filter, once in the melted array — and duplicate
    # attribute names confuse the UDF-extraction rewrite)
    flag_cols = [
        (~compile_check(c)).alias(f"__failed_{i}")
        if c.kind == "custom_pandas"
        else F.expr(f"NOT ({check_sql(c)}) AS `__failed_{i}`")
        for i, c in enumerate(checks)
    ]
    flagged = df.select(*df.columns, *flag_cols)
    any_failed = " OR ".join(f"`__failed_{i}`" for i in range(len(checks)))
    entries = ", ".join(
        f"struct({sql_literal(c.name)} AS `check`, CAST({sql_ident(c.column)} AS STRING) "
        f"AS `value`, `__failed_{i}` AS failed)"
        for i, c in enumerate(checks)
    )
    bad = (
        flagged.where(any_failed)
        .select(
            *id_cols,
            F.expr(f"explode(filter(array({entries}), __e -> __e.failed)) AS __viol"),
        )
        .select(
            *id_cols,
            F.expr("__viol.`check` AS `check`"),
            F.expr("__viol.`value` AS `value`"),
        )
    )
    if max_per_check is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("check").orderBy(*[F.asc(c) for c in id_cols])
        bad = bad.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") <= max_per_check
        ).drop("__rn")
    return bad


def duplicate_keys(
    df: DataFrame,
    key_cols: Sequence[str],
    salt_buckets: int = 0,
) -> DataFrame:
    """Keys appearing more than once → (key..., dup_count).

    J1 (SURVEY.md §2.3). Plain path: one hash-shuffle groupBy with
    map-side partial counts. ``salt_buckets > 0`` enables the two-phase
    salted variant for skewed keys (north rule: skewed doc_id): first
    aggregate on (key, salt) — spreading a hot key over N reducers —
    then re-aggregate on key alone; counts are associative so the
    result is identical.
    """
    keys = [F.col(k) for k in key_cols]
    if salt_buckets > 0:
        salt = F.pmod(F.xxhash64(*keys, F.monotonically_increasing_id()), F.lit(salt_buckets))
        partial = (
            df.select(*key_cols)
            .withColumn("__salt", salt)
            .groupBy(*key_cols, "__salt")
            .agg(F.count(F.lit(1)).alias("__partial"))
        )
        counted = partial.groupBy(*key_cols).agg(F.sum("__partial").alias("dup_count"))
    else:
        counted = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("dup_count"))
    return counted.where(F.col("dup_count") > 1)


def has_duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> bool:
    """EXISTENCE of any duplicate key — the exact verifier for
    HLL-flagged uniqueness candidates (candidate-then-verify,
    SURVEY.md §4). One hash-shuffle groupBy, then ``limit(1)``.

    What the limit actually saves: the MAP side must still scan and
    partially aggregate the whole table before any reduce output exists
    — that cost is unavoidable for an exact answer. The short-circuit
    is on the REDUCE/collect side only: Spark takes the first surviving
    duplicate group and skips draining the remaining reduce partitions,
    so the saving is the post-shuffle scan + the driver transfer, not
    the table scan. Returning only counts>1 keys also means the shuffle
    carries (key, partial_count) pairs, never rows."""
    return (
        len(
            df.groupBy(*[F.col(k) for k in key_cols])
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        > 0
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Classify every key across two table snapshots: one row per
    changed key with ``change`` in {'added','removed','changed'};
    unchanged keys drop out. The yesterday-vs-today audit a warehouse
    runs after every ingest.

    Scale shape: each side reduces to (key, 64-bit row hash) BEFORE
    the join — the full-outer join shuffles ~(key + 8 bytes)/row no
    matter how wide the rows are; with both snapshots bucketed on the
    key (sources/bucketing) the join plans with zero Exchange. Hash
    caveat: Spark hash folds skip nulls, so two rows differing only by
    which column holds a null can alias — rare and detectable
    downstream by re-joining the flagged keys with a full column
    compare (the forensic path, same pattern as the sequence-hash
    pipeline)."""
    keys = list(key_cols)
    compare = list(compare_cols or [c for c in new.columns if c not in set(keys)])
    oh = old.select(*keys, F.xxhash64(*[F.col(c) for c in compare]).alias("__oh"))
    nh = new.select(*keys, F.xxhash64(*[F.col(c) for c in compare]).alias("__nh"))
    j = oh.join(nh, on=keys, how="full_outer")
    change = (
        F.when(F.col("__oh").isNull(), "added")
        .when(F.col("__nh").isNull(), "removed")
        .when(F.col("__oh") != F.col("__nh"), "changed")
    )
    return j.select(*keys, change.alias("change")).where(F.col("change").isNotNull())


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """One row: (added, removed, changed, unchanged) counts — the
    ingest-audit headline. Same reduced join as ``snapshot_diff`` plus
    the unchanged count (matched keys with equal hashes)."""
    keys = list(key_cols)
    compare = list(compare_cols or [c for c in new.columns if c not in set(keys)])
    oh = old.select(*keys, F.xxhash64(*[F.col(c) for c in compare]).alias("__oh"))
    nh = new.select(*keys, F.xxhash64(*[F.col(c) for c in compare]).alias("__nh"))
    j = oh.join(nh, on=keys, how="full_outer")
    return j.agg(
        F.sum(F.col("__oh").isNull().cast("long")).alias("added"),
        F.sum(F.col("__nh").isNull().cast("long")).alias("removed"),
        F.sum(
            (
                F.col("__oh").isNotNull()
                & F.col("__nh").isNotNull()
                & (F.col("__oh") != F.col("__nh"))
            ).cast("long")
        ).alias("changed"),
        F.sum((F.col("__oh") == F.col("__nh")).cast("long")).alias("unchanged"),
    )


def skew_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Key-distribution skew diagnostics — the numbers that decide
    whether a groupBy/join on these keys needs salting (north rule:
    explicit skew handling for hot doc_id/kind values).

    One groupBy over the keys (the same shuffle the real operation
    would pay) followed by a tiny aggregate over the count frame:

    - ``n_rows`` / ``n_keys`` — volume and cardinality;
    - ``max_key_rows`` and ``top_share`` — the hottest key and its
      fraction of the table: a single reducer must swallow
      ``max_key_rows`` rows, so ``top_share * n_rows`` >> the per-task
      row budget means salt (or rely on AQE skew-join for joins);
    - ``hot_ratio`` = max/avg key size — 1.0 is uniform; the two-phase
      salted aggregate needs roughly this many salt buckets to level
      the hot key with the average.
    """
    keys = [F.col(k) for k in key_cols]
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
    return counts.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("max_key_rows"),
        F.round(F.max("__c") / F.sum("__c"), 6).alias("top_share"),
        F.round(F.max("__c") / F.avg("__c"), 3).alias("hot_ratio"),
    )


def duplicate_rows(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Full violation rows for duplicated keys: semi-join the table back
    to its duplicate keys. Broadcast the (usually tiny) duplicate-key
    set; AQE converts to a broadcast join automatically when it fits."""
    dups = duplicate_keys(df, key_cols).select(*key_cols)
    return df.join(F.broadcast(dups), on=list(key_cols), how="inner")


def orphan_rows(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    broadcast_parent: bool = False,
) -> DataFrame:
    """Referential-integrity check J2: child rows whose key has no match
    in parent (nulls excluded — a null FK is a nullability concern, not
    an RI violation). ``broadcast_parent=True`` forces a broadcast hash
    join for small dimension tables; otherwise Spark/AQE picks
    (shuffled hash / broadcast) from stats."""
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    return child.where(F.col(child_key).isNotNull()).join(
        keys, on=child_key, how="left_anti"
    )


def functional_dependency_violations(
    df: DataFrame,
    determinant_cols: Sequence[str],
    dependent_col: str,
    collect_examples: int = 0,
) -> DataFrame:
    """Functional-dependency check: determinant columns should uniquely
    determine ``dependent_col`` (A -> B). Returns one row per violating
    determinant group: (*determinants, n_rows, n_dependent_values,
    min_value, max_value) where n_dependent_values > 1.

    Generalizes the reference's uniqueness check (unique=True is the
    FD "key -> whole row"; reference: pandera_forge/validator.py builds
    only per-column unique checks) to the conditional-uniqueness
    contracts a warehouse actually has ("order determines customer",
    "media_ref determines mime type").

    Scale shape: ONE shuffle — groupBy(determinants), every default
    aggregate algebraic with map-side partial combine (count,
    count_distinct, min, max). min/max double as two GUARANTEED-distinct
    conflicting example values whenever the FD is violated, with a
    constant-size aggregation buffer no matter how viral the group —
    the same linearization the exact-dup path uses instead of
    collect_list. ``collect_examples=k`` additionally materializes up
    to k distinct values via slice(sort_array(collect_set)); that
    buffer is O(distinct dependents per group), so reserve it for
    dependents with known-small cardinality.
    """
    dets = list(determinant_cols)
    dep = F.col(dependent_col)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(dep).alias("n_dependent_values"),
        F.min(dep).alias("min_value"),
        F.max(dep).alias("max_value"),
    ]
    if collect_examples > 0:
        aggs.append(
            F.slice(F.sort_array(F.collect_set(dep)), 1, collect_examples).alias(
                "example_values"
            )
        )
    out = df.groupBy(*dets).agg(*aggs)
    return out.where(F.col("n_dependent_values") > 1)


def iqr_bounds(
    df: DataFrame,
    cols: Sequence[str],
    factor: float = 1.5,
    exact: bool = False,
    relative_error: float = 0.001,
):
    """Tukey-fence bounds per column: (q1, q3, lo=q1-f·IQR,
    hi=q3+f·IQR) as a driver dict from ONE aggregation over all
    columns.

    ``exact=False`` (the at-scale default) uses ``approx_percentile``
    (KLL-style mergeable sketch, bounded memory per column);
    ``exact=True`` uses the exact interpolating ``percentile``
    aggregate — its buffer holds per-distinct-value counts, fine for
    bounded-cardinality columns and for oracle parity at test scale,
    not for 10^12 distinct doubles."""
    if not cols:
        return {}
    exprs = []
    for c in cols:
        col = F.col(c).cast("double")
        if exact:
            exprs += [
                F.percentile(col, F.lit(0.25)).alias(f"{c}__q1"),
                F.percentile(col, F.lit(0.75)).alias(f"{c}__q3"),
            ]
        else:
            exprs += [
                F.approx_percentile(col, F.lit(0.25), F.lit(int(1 / relative_error))).alias(f"{c}__q1"),
                F.approx_percentile(col, F.lit(0.75), F.lit(int(1 / relative_error))).alias(f"{c}__q3"),
            ]
    row = df.agg(*exprs).collect()[0]
    out = {}
    for c in cols:
        q1, q3 = row[f"{c}__q1"], row[f"{c}__q3"]
        if q1 is None or q3 is None:
            out[c] = None
            continue
        iqr = q3 - q1
        out[c] = {"q1": q1, "q3": q3, "lo": q1 - factor * iqr, "hi": q3 + factor * iqr}
    return out


def outlier_rows(
    df: DataFrame,
    cols: Sequence[str],
    id_cols: Sequence[str],
    factor: float = 1.5,
    exact: bool = False,
) -> DataFrame:
    """IQR (Tukey-fence) outlier extraction — the numeric-anomaly
    companion to the constraint checks: rows whose value falls strictly
    outside [q1 - f·IQR, q3 + f·IQR] for any requested column, emitted
    as (ids…, column, value, lo, hi).

    Two jobs by construction: the quantile aggregation (O(cols)
    sketch cells to the driver), then one scan with the fences as
    LITERALS — the filter is an OR of range predicates the parquet
    reader can evaluate against row-group statistics (min/max pruning),
    exactly like violation_rows. Columns whose bounds are null (empty
    input) are skipped."""
    bounds = iqr_bounds(df, cols, factor, exact)
    branches = []
    for c in cols:
        b = bounds.get(c)
        if b is None:
            continue
        col = F.col(c).cast("double")
        pred = (col < F.lit(b["lo"])) | (col > F.lit(b["hi"]))
        branches.append(
            (
                pred,
                F.struct(
                    F.lit(c).alias("column"),
                    col.alias("value"),
                    F.lit(b["lo"]).alias("lo"),
                    F.lit(b["hi"]).alias("hi"),
                ),
            )
        )
    if not branches:
        return df.select(*id_cols).limit(0).select(
            *id_cols,
            F.lit("").alias("column"),
            F.lit(0.0).alias("value"),
            F.lit(0.0).alias("lo"),
            F.lit(0.0).alias("hi"),
        )
    hits = F.array(
        *[F.when(pred, s).otherwise(F.lit(None)) for pred, s in branches]
    )
    any_pred = branches[0][0]
    for pred, _ in branches[1:]:
        any_pred = any_pred | pred
    return (
        df.where(any_pred)
        .select(*id_cols, F.explode(F.filter(hits, lambda x: x.isNotNull())).alias("__o"))
        .select(*id_cols, "__o.column", "__o.value", "__o.lo", "__o.hi")
    )


def violation_examples(
    df: DataFrame,
    schema,
    id_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Deterministic k example rows per failed check — what a human
    actually reads out of a 100-TB validation run (the full violation
    set may itself be terabytes; ``violation_rows(max_per_check=...)``
    ranks it with a per-check window, which puts one check's millions
    of violations in a single task).

    This routes the exploded violations through ``stratified_take``'s
    prefiltered path instead: per-check md5-threshold cut with the
    verified exact fallback, so the window only ever sees O(checks·k)
    survivors. The sample is the same on any engine that can md5:
    rows are keyed by a LENGTH-PREFIXED encoding (``len:value`` per
    field — prefix-free, so a field containing any separator cannot
    collide the way a plain delimiter join would: 'a#b','c' vs
    'a','b#c') of the id tuple PLUS the check name and offending
    value, because real tables carry duplicate id tuples (the driver's
    synthetic lineitem has ~12k duplicate (orderkey, linenumber)
    pairs) — with the value in the key, the only possible tie is
    between byte-identical output rows, where either pick is the same
    answer."""
    from pandera_forge_spark.operators.sampling import stratified_take

    bad = violation_rows(df, schema, id_cols)
    parts: list = []
    for c in list(id_cols) + ["check", "value"]:
        s = F.coalesce(F.col(c).cast("string"), F.lit(""))
        parts += [F.length(s).cast("string"), F.lit(":"), s]
    bad = bad.withColumn("__vid", F.concat(*parts))
    return stratified_take(bad, ["check"], k, "__vid", prefilter=True).drop(
        "__vid"
    )


def grouped_outlier_rows(
    df: DataFrame,
    cols: Sequence[str],
    id_cols: Sequence[str],
    group_cols: Sequence[str],
    factor: float = 1.5,
    exact: bool = False,
    relative_error: float = 0.001,
    broadcast_fences: bool = True,
) -> DataFrame:
    """Per-GROUP Tukey-fence outliers: a value is anomalous relative to
    its own segment's distribution, not the global one — the shape
    that matters when segments differ by orders of magnitude (purchase
    amounts vs page-view durations in one events table: global fences
    would flag every purchase and no bad page-view).

    Two jobs, both distributed: (1) per-(group, column) quantile
    aggregation — O(groups·cols) sketch rows, ``approx_percentile``
    mergeable sketches at scale, exact interpolating mode for parity;
    (2) a BROADCAST join of those fence rows back onto the table and
    one filter+explode pass. Unlike the global variant the fences
    cannot be literals (they vary per row's group), so the pushdown
    trade-off is explicit: the scan is full, the join side is tiny.
    ``broadcast_fences=False`` drops the hint for a high-cardinality
    group key (millions of groups would blow the broadcast limit) and
    lets AQE pick the shuffle join; results are identical."""
    from pyspark.sql.functions import broadcast

    if not cols:
        # same typed-empty contract as outlier_rows: callers iterating
        # configurable column lists get a frame, not an IndexError
        return df.select(*group_cols, *id_cols).limit(0).select(
            *group_cols,
            *id_cols,
            F.lit("").alias("column"),
            F.lit(0.0).alias("value"),
            F.lit(0.0).alias("lo"),
            F.lit(0.0).alias("hi"),
        )

    qexprs = []
    for c in cols:
        col = F.col(c).cast("double")
        if exact:
            qexprs += [
                F.percentile(col, F.lit(0.25)).alias(f"__q1_{c}"),
                F.percentile(col, F.lit(0.75)).alias(f"__q3_{c}"),
            ]
        else:
            acc = F.lit(int(1 / relative_error))
            qexprs += [
                F.approx_percentile(col, F.lit(0.25), acc).alias(f"__q1_{c}"),
                F.approx_percentile(col, F.lit(0.75), acc).alias(f"__q3_{c}"),
            ]
    fences = df.groupBy(*group_cols).agg(*qexprs)
    fcols = []
    for c in cols:
        q1, q3 = F.col(f"__q1_{c}"), F.col(f"__q3_{c}")
        iqr = q3 - q1
        fences = fences.withColumn(f"__lo_{c}", q1 - factor * iqr).withColumn(
            f"__hi_{c}", q3 + factor * iqr
        )
        fcols += [f"__lo_{c}", f"__hi_{c}"]
    fences = fences.select(*group_cols, *fcols)

    if broadcast_fences:
        fences = broadcast(fences)
    joined = df.join(fences, list(group_cols), "left")
    branches = []
    for c in cols:
        col = F.col(c).cast("double")
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        pred = lo.isNotNull() & ((col < lo) | (col > hi))
        branches.append(
            (
                pred,
                F.struct(
                    F.lit(c).alias("column"),
                    col.alias("value"),
                    lo.alias("lo"),
                    hi.alias("hi"),
                ),
            )
        )
    any_pred = branches[0][0]
    for pred, _ in branches[1:]:
        any_pred = any_pred | pred
    hits = F.array(
        *[F.when(pred, s).otherwise(F.lit(None)) for pred, s in branches]
    )
    return (
        joined.where(any_pred)
        .select(
            *group_cols,
            *id_cols,
            F.explode(F.filter(hits, lambda x: x.isNotNull())).alias("__o"),
        )
        .select(*group_cols, *id_cols, "__o.column", "__o.value", "__o.lo", "__o.hi")
    )


def soft_fd_report(
    df: DataFrame,
    determinant_cols: Sequence[str],
    dependent_col: str,
    include_nulls: bool = True,
) -> DataFrame:
    """Graded functional dependency — the strength measure behind
    :func:`functional_dependency_violations`' hard yes/no: what
    fraction of rows CONFORM to "determinant -> dependent" if every
    group kept only its majority dependent value (the g3 FD error
    measure of Kivinen & Mannila, complemented). "source determines
    lang for 99.2% of rows" is an actionable data contract; a hard FD
    that fails on 0.8% of rows reports only failure.

    One summary row: ``(determinant, dependent, n_rows, n_groups,
    n_cells, n_conforming, n_exact_groups, conformance_micro,
    conformance)`` where ``n_cells`` counts populated (group,
    dependent-value) cells, ``n_conforming = sum over groups of the
    majority cell count`` (no argmax needed — ties cannot change the
    max), ``n_exact_groups`` counts groups already satisfying the hard
    FD, and ``conformance = n_conforming / n_rows`` micro-quantized by
    the shared floor(x*1e6+0.5) kernel so the row replays exactly.

    ``include_nulls=True`` treats a NULL dependent as a real category
    (a group that is half NULL half 'de' is 50% conforming);
    ``False`` drops NULL-dependent rows first. NULL determinants are
    always real groups (matching the hard check's groupBy semantics).

    Scale: shuffle 1 = groupBy(determinants, dependent) over raw rows
    (map-side combined to populated cells); shuffle 2 = groupBy
    (determinants) over the O(cells) frame; the final reduce is a
    1-row aggregate. Nothing after the first exchange is
    row-proportional, and a viral determinant costs its cell count,
    never a per-group buffer."""
    dets = list(determinant_cols)
    if not dets:
        raise ValueError("determinant_cols must be non-empty")
    missing = [c for c in dets + [dependent_col] if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    base = df
    if not include_nulls:
        base = base.where(F.col(dependent_col).isNotNull())
    cells = base.groupBy(*dets, dependent_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    groups = cells.groupBy(*dets).agg(
        F.max("__cnt").alias("__maj"),
        F.sum("__cnt").alias("__tot"),
        F.count(F.lit(1)).alias("__cells"),
    )
    conf = F.col("n_conforming").cast("double") / F.col("n_rows").cast(
        "double"
    )
    return (
        groups.agg(
            F.coalesce(F.sum("__tot"), F.lit(0)).alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.coalesce(F.sum("__cells"), F.lit(0)).alias("n_cells"),
            F.coalesce(F.sum("__maj"), F.lit(0)).alias("n_conforming"),
            F.coalesce(
                F.sum(
                    F.when(F.col("__maj") == F.col("__tot"), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            ).alias("n_exact_groups"),
        )
        .select(
            F.lit(",".join(dets)).alias("determinant"),
            F.lit(dependent_col).alias("dependent"),
            "n_rows",
            "n_groups",
            "n_cells",
            "n_conforming",
            "n_exact_groups",
            # guard n_rows == 0: 0/0 is NaN on Spark but NULL on DuckDB
            # (engine divergence) — emit NULL on both
            F.when(
                F.col("n_rows") > 0,
                F.floor(conf * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
            ).alias("conformance_micro"),
        )
        .withColumn(
            "conformance",
            F.col("conformance_micro").cast("double") / F.lit(1000000.0),
        )
    )


def join_cardinality_report(
    left: DataFrame,
    right: DataFrame,
    left_on: Sequence[str],
    right_on: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Pre-flight join audit — EXACT output cardinality and fan-out of
    ``left JOIN right`` on the given keys, computed from per-key counts
    WITHOUT running the join: ``output_rows = Σ_k cl(k)·cr(k)``. The
    "this join explodes 400×" finding costs two groupBys over the
    inputs instead of a cluster-melting shuffle at 10^12 rows; the
    max-fanout key and its output share say whether the explosion is
    broad or one hot key (→ salt exactly that key).

    One summary row: ``(n_left, n_right, n_left_keys, n_right_keys,
    n_matched_keys, n_left_only_keys, n_right_only_keys,
    left_null_key_rows, right_null_key_rows, output_rows,
    max_key_fanout, max_fanout_share_micro, max_fanout_share)``.
    Rows with ANY NULL key component never match under SQL equality —
    they are counted in ``*_null_key_rows`` and excluded from key
    frames (matching the join they predict). ``output_rows`` and
    ``max_key_fanout`` are EXACT at any scale: summed as
    decimal(38,0) (``cl·cr`` passes BIGINT when both sides of one key
    exceed ~3e9 rows) and emitted as their canonical digit STRING —
    arbitrary-precision integers render identically on every engine,
    where a decimal/int128 column would diverge in type. The share is
    one double division of two exact integers, micro-quantized; NULL
    when the join is empty (0/0 diverges across engines).

    Scale: one map-side-combined groupBy per side over raw rows; the
    key-frame equi-join and the final 1-row reduce run over O(distinct
    keys). Nothing here shuffles a payload byte."""
    left_on = list(left_on)
    right_on = list(right_on or left_on)
    if len(left_on) != len(right_on) or not left_on:
        raise ValueError("left_on/right_on must be same-length, non-empty")
    missing = [c for c in left_on if c not in left.columns] + [
        c for c in right_on if c not in right.columns
    ]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")

    def _side(df, keys, cname):
        nonnull = F.lit(True)
        for k in keys:
            nonnull = nonnull & F.col(k).isNotNull()
        counts = (
            df.where(nonnull)
            .groupBy(
                *[
                    F.col(k).alias(f"__k{i}")
                    for i, k in enumerate(keys)
                ]
            )
            .agg(F.count(F.lit(1)).alias(cname))
        )
        nulls = df.where(~nonnull).agg(
            F.count(F.lit(1)).alias(f"{cname}_nullrows")
        )
        return counts, nulls

    lc, lnull = _side(left, left_on, "__cl")
    rc, rnull = _side(right, right_on, "__cr")
    kcols = [f"__k{i}" for i in range(len(left_on))]
    j = lc.join(rc, on=kcols, how="full")
    dec = "decimal(38,0)"
    pairs = F.col("__cl").cast(dec) * F.col("__cr").cast(dec)
    agg = j.agg(
        F.coalesce(F.sum("__cl"), F.lit(0)).alias("n_left"),
        F.coalesce(F.sum("__cr"), F.lit(0)).alias("n_right"),
        F.coalesce(F.sum((F.col("__cl").isNotNull()).cast("long")), F.lit(0)).alias(
            "n_left_keys"
        ),
        F.coalesce(F.sum((F.col("__cr").isNotNull()).cast("long")), F.lit(0)).alias(
            "n_right_keys"
        ),
        F.coalesce(
            F.sum(
                (F.col("__cl").isNotNull() & F.col("__cr").isNotNull()).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_matched_keys"),
        F.coalesce(
            F.sum(
                (F.col("__cl").isNotNull() & F.col("__cr").isNull()).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_left_only_keys"),
        F.coalesce(
            F.sum(
                (F.col("__cl").isNull() & F.col("__cr").isNotNull()).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_right_only_keys"),
        F.coalesce(F.sum(pairs), F.lit(0).cast(dec)).alias("__out"),
        F.coalesce(F.max(pairs), F.lit(0).cast(dec)).alias("__maxfan"),
    )
    share = F.col("__maxfan").cast("double") / F.col("__out").cast("double")
    share_micro = F.when(
        F.col("__out") > 0,
        F.floor(share * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
    )
    out = (
        agg.crossJoin(F.broadcast(lnull))
        .crossJoin(F.broadcast(rnull))
        .select(
            "n_left",
            "n_right",
            "n_left_keys",
            "n_right_keys",
            "n_matched_keys",
            "n_left_only_keys",
            "n_right_only_keys",
            F.coalesce(F.col("__cl_nullrows"), F.lit(0)).alias(
                "left_null_key_rows"
            ),
            F.coalesce(F.col("__cr_nullrows"), F.lit(0)).alias(
                "right_null_key_rows"
            ),
            F.col("__out").cast("string").alias("output_rows"),
            F.col("__maxfan").cast("string").alias("max_key_fanout"),
            share_micro.alias("max_fanout_share_micro"),
        )
        .withColumn(
            "max_fanout_share",
            F.col("max_fanout_share_micro").cast("double")
            / F.lit(1000000.0),
        )
    )
    return out


# One-sided normal quantiles Φ⁻¹(c) at the supported confidences, as
# full-precision literals — embedding the constant keeps the engine
# free of any normal-quantile special function an oracle could not
# replay; add entries rather than computing at runtime.
WILSON_Z = {
    0.90: 1.2815515655446004,
    0.95: 1.6448536269514722,
    0.99: 2.3263478740408408,
}


def sampled_violation_bound(
    df: DataFrame,
    checks: Sequence[Check],
    id_col: str,
    fraction: float,
    confidence: float = 0.99,
    salt: str = "",
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Statistically certified validation on a DETERMINISTIC sample:
    evaluate every row-level check over the md5-fraction sample of
    ``df`` and report, per check (× group), the observed violation
    rate plus a one-sided Wilson upper confidence bound — "violation
    rate ≤ U at ``confidence``" — the audit you run when a full-scan
    verdict over 10^12 rows is not worth its cost for an exploratory
    or expensive (regex-heavy) check suite, or when a contract only
    needs "p99-certified below 0.1%", not an exact count.

    The sample is the ``train_val_test_split`` kernel: rows whose
    ``md5(salt‖id)`` prefix-fraction is below ``fraction`` — a pure
    function of (salt, id), so the SAME rows are sampled on any
    cluster size, any partitioning, any engine (no ``sample()``
    nondeterminism), the certificate is reproducible bit-for-bit, and
    re-running with the same salt composes with any earlier audit.
    NULL ids hash as '' and travel together (pass a real key;
    ``id_col`` is assumed unique-ish — a heavily duplicated id makes
    the sample lumpy, which is a property of the key, not the
    estimator).

    Returns one row per check (per group): ``(check, n_sampled,
    n_violations, violation_rate, upper_bound)``. ``violation_rate``
    is one raw IEEE division of exact longs; ``upper_bound`` is the
    Wilson score interval's upper end

        (p̂ + z²/2n + z·sqrt(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    — a fixed tree of +,−,×,÷,sqrt over exact longs and the literal
    ``z`` (division and sqrt are correctly rounded per IEEE-754, so
    the value is bit-identical on every engine; no transcendental in
    sight), clamped to 1.0. Both are NULL when the sample is empty —
    an empty sample certifies nothing. Wilson stays informative at
    k = 0 (upper = z²/(n+z²)), the "never saw a violation, how bad
    could it be" bound.

    Plan: ONE narrow filter (hash + compare, no shuffle) + ONE fused
    aggregation of all checks (algebraic sums, map-side combine; the
    ``validate_table`` expressions), melted to per-check rows via a
    single explode of an O(checks) literal-shaped array — the
    ``string_hygiene_report`` discipline. ``group_by`` turns the agg
    into one grouped pass (per-partition certificates, the north-rule
    verdict shape) — still one scan.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(
            f"sampled_violation_bound: fraction must be in (0, 1], got {fraction}"
        )
    if confidence not in WILSON_Z:
        raise ValueError(
            "sampled_violation_bound: confidence must be one of "
            f"{sorted(WILSON_Z)} (z kept as a literal — see WILSON_Z), "
            f"got {confidence}"
        )
    rl = row_level(list(checks))
    if not rl:
        raise ValueError(
            "sampled_violation_bound: no row-level checks to certify "
            "(unique checks need their own shuffle — see duplicate_keys)"
        )
    if id_col not in df.columns:
        raise ValueError(f"sampled_violation_bound: id column {id_col!r} missing")
    groups = list(group_by) if group_by else []
    missing = [c for c in groups if c not in df.columns]
    if missing:
        raise ValueError(f"sampled_violation_bound: group columns {missing} missing")

    from pandera_forge_spark.operators.sampling import _key_fraction

    key = F.coalesce(F.col(id_col).cast("string"), F.lit(""))
    u = _key_fraction(F.md5(F.concat(F.lit(salt), key)))
    sample = df.where(u < F.lit(float(fraction)))

    agg = sample.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("__n"),
        *[_violation_sum(c, f"__k{i}") for i, c in enumerate(rl)],
    )
    melted = agg.select(
        *groups,
        F.col("__n").alias("n_sampled"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c.name).alias("check"),
                        F.coalesce(F.col(f"__k{i}"), F.lit(0).cast("long")).alias(
                            "n_violations"
                        ),
                    )
                    for i, c in enumerate(rl)
                ]
            )
        ).alias("__m"),
    ).select(*groups, F.col("__m.check").alias("check"), "n_sampled", "__m.n_violations")

    z = float(WILSON_Z[confidence])
    n = F.col("n_sampled").cast("double")
    k = F.col("n_violations").cast("double")
    p = k / n
    centre = p + F.lit(z * z) / (F.lit(2.0) * n)
    rad = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + F.lit(z * z) / (F.lit(4.0) * n * n)
    )
    upper = F.least(F.lit(1.0), (centre + rad) / (F.lit(1.0) + F.lit(z * z) / n))
    nonempty = F.col("n_sampled") > 0
    return melted.select(
        *groups,
        "check",
        "n_sampled",
        "n_violations",
        F.when(nonempty, F.col("n_violations") / F.col("n_sampled")).alias(
            "violation_rate"
        ),
        F.when(nonempty, upper).alias("upper_bound"),
    )


def salt_plan(
    df: DataFrame,
    key_cols: Sequence[str],
    rows_per_task: int,
) -> DataFrame:
    """The actionable companion to `skew_report`: WHICH keys need
    salting and by HOW MUCH. One groupBy over the keys (the same
    shuffle the real operation would pay anyway) keeps only keys whose
    row count exceeds ``rows_per_task`` — the caller's per-task row
    budget — and emits ``salt_factor = ceil(n_rows / rows_per_task)``,
    the number of sub-buckets that levels the key back to budget.
    The output is the small broadcastable frame the two-phase salted
    aggregate / salted join consumes directly (join it in, then
    ``pmod(xxhash64(payload), salt_factor)`` as the sub-key — the
    `duplicate_custkeys_salted` mechanics with a measured factor
    instead of a guessed constant).

    Returns ``(keys..., n_rows, salt_factor)``; empty when nothing is
    hot (the healthy answer). Exact integer arithmetic only —
    ``ceil`` as ``(n + r − 1) div r``, no floats — so the plan is
    deterministic and engine-replayable. NULL keys group as one key,
    which is exactly how the real shuffle treats them (an all-NULL FK
    column IS a hot key).

    Scale: the groupBy is map-side combinable (O(distinct keys)
    shuffle rows); the output is O(hot keys) — by construction at
    most ``n_rows / rows_per_task`` rows, the count of tasks the
    un-salted job would overflow anyway.
    """
    if rows_per_task < 1:
        raise ValueError(
            f"salt_plan: rows_per_task must be >= 1, got {rows_per_task}"
        )
    keys = list(key_cols)
    if not keys:
        raise ValueError("salt_plan: key_cols must be non-empty")
    missing = [c for c in keys if c not in df.columns]
    if missing:
        raise ValueError(f"salt_plan: frame lacks columns {missing}")
    clash = set(keys) & {"n_rows", "salt_factor"}
    if clash:
        raise ValueError(
            f"salt_plan: key columns {sorted(clash)} collide with output "
            "names — rename them"
        )
    r = int(rows_per_task)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    return counts.where(F.col("n_rows") > r).select(
        *keys,
        "n_rows",
        F.expr(f"(n_rows + {r - 1}) div {r}").alias("salt_factor"),
    )


def mad_outlier_rows(
    df: DataFrame,
    value_col: str,
    id_cols: Sequence[str],
    group_cols: Sequence[str],
    c: int = 3,
    min_points: int = 5,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Per-group MAD (Hampel-filter) outliers — the ROBUST sibling of
    :func:`grouped_outlier_rows`: a value is anomalous when its
    absolute deviation from the group median exceeds ``c`` times the
    median absolute deviation. Tukey fences move when the outliers
    themselves stretch the quartiles; median/MAD have a 50% breakdown
    point, so the verdict holds even when half a segment is garbage —
    the regime a validation engine is FOR.

    The entire decision tree is exact integer arithmetic: values
    quantize to micro-longs, each median is carried as the SUM of its
    two middle order statistics (``med2`` = 2x median, ``mad4`` = 4x
    MAD — no engine-dependent midpoint IEEE division anywhere), and
    the flag is ``2*|2*v - med2| > c * mad4``, an identity-exact
    rearrangement of ``|v - med| > c * MAD``. Output rows (only the
    violations): group cols, id cols, ``value``, ``dev2_micro``
    (= 2x deviation in micro units) and ``mad4_micro`` — all BIGINT
    but the raw value.

    ``mad4_micro = 0`` (a majority-constant group) flags EVERY row off
    the constant — deliberate: a pinned sensor with occasional spikes
    is exactly two findings, ``constancy_runs`` for the pin and this
    for the spikes. Groups with fewer than ``min_points`` surviving
    rows emit no verdict (a median of three points is a coin toss).

    Scale shape: two window passes (value rank, then deviation rank)
    that hash-partition on the SAME group key, two O(groups) stats
    frames broadcast back (``broadcast_stats=False`` for millions of
    groups — AQE picks the join), one final filter. No UDF, no
    collect, shuffle bounded by the group key like every sibling."""
    groups = list(group_cols)
    ids = list(id_cols)
    if not groups:
        raise ValueError("mad_outlier_rows: group_cols must be non-empty")
    if int(c) < 1:
        raise ValueError(f"mad_outlier_rows: c must be >= 1, got {c}")
    if int(min_points) < 3:
        raise ValueError(
            f"mad_outlier_rows: min_points must be >= 3, got {min_points}"
        )
    missing = [
        x for x in groups + ids + [value_col] if x not in df.columns
    ]
    if missing:
        raise ValueError(f"mad_outlier_rows: frame lacks columns {missing}")
    reserved = ["__vm", "__rn", "__n", "__med2", "__d2", "__mad4"]
    clash = [x for x in reserved if x in df.columns]
    if clash:
        raise ValueError(
            f"mad_outlier_rows: input columns {clash} collide with "
            "internal working names — rename them"
        )
    base = df.where(F.col(value_col).isNotNull()).select(
        *groups,
        *ids,
        F.col(value_col).alias("value"),
        F.floor(F.col(value_col).cast("double") * F.lit(1000000.0))
        .cast("long")
        .alias("__vm"),
    )

    def _two_mid_sum(frame, order_col, out_name):
        w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
            order_col
        )
        wn = Window.partitionBy(*[F.col(g) for g in groups])
        r = frame.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__n", F.count(F.lit(1)).over(wn)
        )
        lo = F.floor((F.col("__n") + 1) / 2)
        hi = F.floor(F.col("__n") / 2) + 1
        return r.groupBy(*groups).agg(
            (
                F.min(F.when(F.col("__rn") == lo, F.col(order_col)))
                + F.min(F.when(F.col("__rn") == hi, F.col(order_col)))
            ).alias(out_name),
            F.max("__n").alias("__n"),
        )

    med = _two_mid_sum(base, "__vm", "__med2").where(
        F.col("__n") >= int(min_points)
    ).drop("__n")
    if broadcast_stats:
        med = F.broadcast(med)
    with_dev = base.join(med, groups).withColumn(
        "__d2", F.abs(F.lit(2) * F.col("__vm") - F.col("__med2"))
    )
    mad = _two_mid_sum(with_dev, "__d2", "__mad4").drop("__n")
    if broadcast_stats:
        mad = F.broadcast(mad)
    return (
        with_dev.join(mad, groups)
        .where(F.lit(2) * F.col("__d2") > F.lit(int(c)) * F.col("__mad4"))
        .select(
            *groups,
            *ids,
            "value",
            F.col("__d2").alias("dev2_micro"),
            F.col("__mad4").alias("mad4_micro"),
        )
    )


def violation_slices(
    df: DataFrame,
    verdict_col: str,
    slice_cols: Sequence[str],
    min_rows: int = 30,
    chi2_threshold: float = 3.841,
) -> DataFrame:
    """Slice finder for validation failures: for every value of every
    slice column, is the violation rate in that slice significantly
    above the rest of the table? A 0.3% global failure rate that is
    actually 9% inside one source/language/day is a pipeline bug with
    a name and an owner; averaged away, it ships. This is the triage
    step between "the table has violations" (validate_table counts)
    and "THIS ingest leg is broken".

    Mechanics: the slice columns MELT into (slice_col, slice_val)
    rows in one projection (NULL kept as its own slice — missingness
    often correlates with breakage), then ONE groupBy over the melted
    pairs computes each slice's row and violation counts; the
    complement (rest-of-table) counts come from a broadcast 1-row
    totals frame, never a rescan. Each slice's 2x2 table
    (a=slice viol, b=slice ok, c=rest viol, d=rest ok) yields the
    chi-square statistic N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) — the
    classic independence test; ``concentrated`` flags slices where
    chi2 exceeds ``chi2_threshold`` (default 3.841 = 95%, 1 dof) AND
    the slice rate exceeds the rest rate (one-sided: a*d > b*c in
    exact integers — cross-multiplication, no rate division).

    The chi-square value itself is IEEE double (its cross products
    overflow int64 at ~10^10 rows); the DECISION inputs a/b/c/d are
    exact longs in the output, so a replay can re-derive the verdict.
    Output per (slice_col, slice_val): n_rows, n_viol, n_viol_rest,
    n_rows_rest, chi2 (rounded 1e-6), concentrated. Slices under
    ``min_rows`` rows are dropped (a 3-row slice with 1 violation is
    noise, not triage).

    Scale shape: melt multiplies rows by len(slice_cols) in a NARROW
    projection (no shuffle), one groupBy on (slice_col, slice_val) —
    map-side partial, output O(sum of slice cardinalities) — plus a
    1-row broadcast. High-cardinality slice columns (ids, free text)
    belong in dedup/profiling, not here; cardinality is the caller's
    contract, the groupBy stays skew-safe either way."""
    cols = list(slice_cols)
    if not cols:
        raise ValueError("violation_slices: slice_cols must be non-empty")
    if int(min_rows) < 1:
        raise ValueError(
            f"violation_slices: min_rows must be >= 1, got {min_rows}"
        )
    missing = [c for c in cols + [verdict_col] if c not in df.columns]
    if missing:
        raise ValueError(f"violation_slices: frame lacks columns {missing}")
    if dict(df.dtypes)[verdict_col] != "boolean":
        raise ValueError(
            f"violation_slices: verdict column {verdict_col!r} must be "
            "boolean (a compiled check verdict)"
        )
    reserved = ["__v", "slice_col", "slice_val"]
    clash = [c for c in reserved if c in df.columns]
    if clash:
        raise ValueError(
            f"violation_slices: input columns {clash} collide with "
            "internal/output names — rename them"
        )
    v = F.col(verdict_col).cast("boolean")
    base = df.select(
        F.when(v, F.lit(1)).otherwise(F.lit(0)).alias("__v"),
        *[F.col(c).cast("string").alias(c) for c in cols],
    )
    pairs = ", ".join(f"'{c}', {c}" for c in cols)
    melted = base.select(
        "__v",
        F.expr(
            f"stack({len(cols)}, {pairs}) AS (slice_col, slice_val)"
        ),
    )
    per_slice = melted.groupBy("slice_col", "slice_val").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__v").alias("n_viol"),
    )
    totals = F.broadcast(
        base.agg(
            F.count(F.lit(1)).alias("__n_total"),
            F.sum("__v").alias("__v_total"),
        )
    )
    j = per_slice.crossJoin(totals)
    a = F.col("n_viol")
    b = F.col("n_rows") - F.col("n_viol")
    c = F.col("__v_total") - F.col("n_viol")
    d = (F.col("__n_total") - F.col("__v_total")) - b
    ad_bc = a.cast("double") * d.cast("double") - b.cast("double") * c.cast(
        "double"
    )
    denom = (
        (a + b).cast("double")
        * (c + d).cast("double")
        * (a + c).cast("double")
        * (b + d).cast("double")
    )
    chi2 = F.when(
        denom > 0.0,
        F.col("__n_total").cast("double") * ad_bc * ad_bc / denom,
    ).otherwise(F.lit(0.0))
    # exact cross-multiplication (slice rate > rest rate): DECIMAL(38)
    # products stay exact past 10^12-row tables where long*long wraps
    dec = "decimal(19,0)"
    one_sided = a.cast(dec) * d.cast(dec) > b.cast(dec) * c.cast(dec)
    return (
        j.where(F.col("n_rows") >= int(min_rows))
        .select(
            "slice_col",
            "slice_val",
            "n_rows",
            "n_viol",
            (F.col("__n_total") - F.col("n_rows")).alias("n_rows_rest"),
            c.alias("n_viol_rest"),
            F.round(chi2, 6).alias("chi2"),
            (one_sided & (chi2 > F.lit(float(chi2_threshold)))).alias(
                "concentrated"
            ),
        )
    )


def aggregate_reconcile(
    child: DataFrame,
    parent: DataFrame,
    keys: Sequence[str],
    child_value_col: str,
    parent_value_col: str,
    quantize: float = 1_000_000.0,
    tol_micro: int = 0,
    include_ok: bool = False,
) -> DataFrame:
    """Aggregate referential integrity: does the parent's rollup
    column equal the SUM of its children? The invariant anti-join RI
    cannot see — every lineitem row can point at a real order while
    the order's total silently disagrees with its lines (a partial
    backfill, a double-applied discount, a lost partition). Exactly
    the "trust but verify the denormalized column" audit.

    Both sides quantize IDENTICALLY — child values floor to
    ``quantize`` units per row and SUM as longs, the parent column
    floors once — so the comparison is integer-exact and
    engine-reproducible; ``tol_micro`` absorbs the legitimate
    quantize-then-sum vs sum-then-quantize slack (at most one unit
    per child row) plus any documented rounding contract. Per key:
    ``status`` in (``missing_parent``: children with no parent row,
    ``missing_child``: a parent rollup with no children,
    ``mismatch``: |child_sum - parent| > tol, ``ok``),
    ``child_sum_micro`` / ``parent_micro`` (NULL on absent sides),
    ``diff_micro`` (NULL unless both present), ``n_children``.

    Long-overflow fence: |value| * quantize must stay under 2^63 /
    group_size; at TPC-H price scale (1e5 * 1e6 micro) a key needs
    ~10^11 children to wrap — out of contract, documented here.

    Scale shape: ONE map-side-partial groupBy of the child on the
    keys, then ONE key-partitioned full-outer join against the
    parent (co-partitioned on the same keys; AQE handles skew). No
    window, no UDF, no driver loop — the 100-TB shape of "check
    every order's total" is exactly these two exchanges."""
    ks = list(keys)
    if not ks:
        raise ValueError("aggregate_reconcile: keys must be non-empty")
    if float(quantize) <= 0:
        raise ValueError(
            f"aggregate_reconcile: quantize must be > 0, got {quantize}"
        )
    if int(tol_micro) < 0:
        raise ValueError(
            f"aggregate_reconcile: tol_micro must be >= 0, got {tol_micro}"
        )
    miss_c = [c for c in ks + [child_value_col] if c not in child.columns]
    if miss_c:
        raise ValueError(
            f"aggregate_reconcile: child frame lacks columns {miss_c}"
        )
    miss_p = [c for c in ks + [parent_value_col] if c not in parent.columns]
    if miss_p:
        raise ValueError(
            f"aggregate_reconcile: parent frame lacks columns {miss_p}"
        )
    q = F.lit(float(quantize))
    cagg = (
        child.where(F.col(child_value_col).isNotNull())
        .groupBy(*ks)
        .agg(
            F.sum(
                F.floor(F.col(child_value_col).cast("double") * q).cast(
                    "long"
                )
            ).alias("child_sum_micro"),
            F.count(F.lit(1)).alias("n_children"),
        )
    )
    pagg = parent.select(
        *ks,
        F.floor(F.col(parent_value_col).cast("double") * q)
        .cast("long")
        .alias("parent_micro"),
    )
    j = cagg.join(pagg, ks, "full_outer")
    child_absent = F.col("n_children").isNull()
    parent_absent = F.col("parent_micro").isNull()
    diff = F.col("child_sum_micro") - F.col("parent_micro")
    status = (
        F.when(parent_absent, F.lit("missing_parent"))
        .when(child_absent, F.lit("missing_child"))
        .when(F.abs(diff) > F.lit(int(tol_micro)), F.lit("mismatch"))
        .otherwise(F.lit("ok"))
    )
    out = j.select(
        *ks,
        status.alias("status"),
        "child_sum_micro",
        "parent_micro",
        F.when(~child_absent & ~parent_absent, diff).alias("diff_micro"),
        F.coalesce(F.col("n_children"), F.lit(0)).alias("n_children"),
    )
    if not include_ok:
        out = out.where(F.col("status") != "ok")
    return out


def volume_anomalies(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    c: int = 3,
    min_days: int = 5,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Arrival-volume anomaly per (key, day): the single most-asked
    data-ops question — "did today's partition arrive short?" —
    answered with the same robust integer machinery as
    :func:`mad_outlier_rows`: bucket events into fixed windows, count
    per (key, bucket), and flag buckets whose count deviates from the
    key's median by more than ``c`` MADs. Robust by construction: a
    month of outage days (even ~half the history) cannot drag the
    median into calling the outage normal — the failure mode that
    makes mean/stddev volume alerts page on the recovery instead of
    the incident.

    This is a deliberate thin composition: ONE (key, bucket) count
    groupBy — at 10^12 rows the count frame is O(keys x days), KB-MB
    scale — then the whole mad_outlier_rows integer decision tree
    runs over that tiny frame (micro-quantization of an integer count
    is exact by definition). Output: key cols, ``bucket_start``
    (epoch seconds, long), ``n_rows`` for the flagged bucket, and the
    exact ``dev2_micro``/``mad4_micro`` evidence columns.

    Zero-row buckets are NOT synthesized: a key with no row for a day
    has no (key, day) row to flag, so a TOTAL outage day is invisible
    here — pair with ``sequence_gaps``/``lateness_census`` for
    absence detection; this operator scores the days that DID arrive.
    NULL timestamps drop."""
    keys = list(group_cols)
    if not keys:
        raise ValueError("volume_anomalies: group_cols must be non-empty")
    if int(bucket_seconds) < 1:
        raise ValueError(
            f"volume_anomalies: bucket_seconds must be >= 1, got {bucket_seconds}"
        )
    missing = [x for x in keys + [ts_col] if x not in df.columns]
    if missing:
        raise ValueError(f"volume_anomalies: frame lacks columns {missing}")
    dtype = dict(df.dtypes)[ts_col]
    sec = (
        F.col(ts_col).cast("timestamp_ltz").cast("double")
        if dtype.startswith("timestamp")
        else F.col(ts_col).cast("double")
    )
    bs = int(bucket_seconds)
    counts = (
        df.where(F.col(ts_col).isNotNull())
        .withColumn(
            "bucket_start",
            (F.floor(sec / F.lit(float(bs))).cast("long") * F.lit(bs)),
        )
        .groupBy(*keys, "bucket_start")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return mad_outlier_rows(
        counts,
        "n_rows",
        ["bucket_start"],
        keys,
        c=c,
        min_points=min_days,
    ).withColumnRenamed("value", "n_rows")


def seasonal_volume_anomalies(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    c: int = 3,
    bucket_seconds: int = 86400,
    period_buckets: int = 7,
    min_per_phase: int = 3,
    min_buckets: int = 14,
) -> DataFrame:
    """Seasonality-adjusted arrival-volume anomalies: the weekday/
    weekend (or any fixed-period) cycle is REMOVED before the robust
    deviation test, so a source whose Sundays are always 20% of
    Tuesdays stops paging every Sunday and still pages when a Sunday
    arrives at half of *Sunday-normal*. :func:`volume_anomalies` scores
    each bucket against the key's ONE median — on a strongly weekly
    source, every weekend is an "anomaly" and a mid-week outage can
    hide inside the weekday/weekend spread; the classic fix (public
    textbook material: seasonal-naive decomposition, STL's seasonal
    step) is to score each bucket against the median of its own PHASE
    (same day-of-week for daily buckets / weekly period), then run the
    robust test on the deseasonalized residuals.

    Exact-integer discipline throughout (the mad_outlier_rows ladder,
    one doubling per midpoint so no engine-dependent IEEE midpoint
    division ever happens): counts quantize to micro-longs, the phase
    median is carried as ``med2`` (2x), residuals as ``resid2_micro =
    2*vm - med2_phase`` (2e6 x residual), the per-key center as the
    two-middle sum of those (4e6 x), deviations as ``dev4_micro`` and
    the MAD as ``mad8_micro`` (8e6 x) — the flag ``2*dev4 > c*mad8``
    is an identity-exact rearrangement of |resid - med(resid)| >
    c*MAD(resid).

    A bucket only gets a verdict when its (key, phase) has at least
    ``min_per_phase`` observed buckets (a phase median of one point
    declares itself normal) AND its key has ``min_buckets`` scored
    residuals (default 14 = two weeks of dailies). Zero-row buckets
    are not synthesized — same contract and same companion advice as
    ``volume_anomalies`` (pair with ``sequence_gaps`` for absence).

    Scale shape: ONE (key, bucket) count groupBy collapses the raw
    table to an O(keys x buckets) frame; every window/join after that
    runs on the tiny count frame, partitioned by key — never
    data-sized. Output (flagged buckets only): group cols,
    ``bucket_start``, ``phase``, ``n_rows``, ``resid2_micro``,
    ``dev4_micro``, ``mad8_micro``."""
    keys = list(group_cols)
    if not keys:
        raise ValueError(
            "seasonal_volume_anomalies: group_cols must be non-empty"
        )
    if int(bucket_seconds) < 1 or int(period_buckets) < 2:
        raise ValueError(
            "seasonal_volume_anomalies: need bucket_seconds >= 1 and "
            f"period_buckets >= 2, got {bucket_seconds}/{period_buckets}"
        )
    if int(min_per_phase) < 1 or int(c) < 1:
        raise ValueError(
            "seasonal_volume_anomalies: need min_per_phase >= 1 and "
            f"c >= 1, got {min_per_phase}/{c}"
        )
    missing = [x for x in keys + [ts_col] if x not in df.columns]
    if missing:
        raise ValueError(
            f"seasonal_volume_anomalies: frame lacks columns {missing}"
        )
    dtype = dict(df.dtypes)[ts_col]
    sec = (
        F.col(ts_col).cast("timestamp_ltz").cast("double")
        if dtype.startswith("timestamp")
        else F.col(ts_col).cast("double")
    )
    bs, period = int(bucket_seconds), int(period_buckets)
    counts = (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("__b", F.floor(sec / F.lit(float(bs))).cast("long"))
        .groupBy(*keys, "__b")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            *keys,
            (F.col("__b") * F.lit(bs)).alias("bucket_start"),
            F.pmod(F.col("__b"), F.lit(period)).cast("long").alias("phase"),
            "n_rows",
            (F.col("n_rows") * F.lit(1000000)).cast("long").alias("__vm"),
        )
    )

    def _two_mid_sum(frame, grp, order_col, out_name):
        w = Window.partitionBy(*[F.col(g) for g in grp]).orderBy(order_col)
        wn = Window.partitionBy(*[F.col(g) for g in grp])
        r = frame.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__n", F.count(F.lit(1)).over(wn)
        )
        lo = F.floor((F.col("__n") + 1) / 2)
        hi = F.floor(F.col("__n") / 2) + 1
        return r.groupBy(*grp).agg(
            (
                F.min(F.when(F.col("__rn") == lo, F.col(order_col)))
                + F.min(F.when(F.col("__rn") == hi, F.col(order_col)))
            ).alias(out_name),
            F.max("__n").alias("__n"),
        )

    phase_keys = keys + ["phase"]
    pmed = (
        _two_mid_sum(counts, phase_keys, "__vm", "__pmed2")
        .where(F.col("__n") >= int(min_per_phase))
        .drop("__n")
    )
    resid = counts.join(F.broadcast(pmed), phase_keys).withColumn(
        "__r2", F.lit(2) * F.col("__vm") - F.col("__pmed2")
    )
    center = (
        _two_mid_sum(resid, keys, "__r2", "__cmed2")
        .where(F.col("__n") >= int(min_buckets))
        .drop("__n")
    )
    dev = resid.join(F.broadcast(center), keys).withColumn(
        "__d4", F.abs(F.lit(2) * F.col("__r2") - F.col("__cmed2"))
    )
    mad = _two_mid_sum(dev, keys, "__d4", "__mad8").drop("__n")
    return (
        dev.join(F.broadcast(mad), keys)
        .where(F.lit(2) * F.col("__d4") > F.lit(int(c)) * F.col("__mad8"))
        .select(
            *keys,
            "bucket_start",
            "phase",
            "n_rows",
            F.col("__r2").alias("resid2_micro"),
            F.col("__d4").alias("dev4_micro"),
            F.col("__mad8").alias("mad8_micro"),
        )
    )


def heavy_changers(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    k: int = 100,
    min_delta: int = 1,
) -> DataFrame:
    """The keys whose ROW COUNTS moved most between two snapshots —
    the "what actually changed" ranking (the deltoids question from
    the sketch literature, answered exactly here because counts per
    key are one cheap aggregate each): a tenant that doubled, a
    source that halved, a key that appeared from nowhere. Volume
    anomalies watch one snapshot's timeline; this compares two
    snapshots directly and names the movers.

    Exact: count per key on each side (map-side partial), full-outer
    join on the keys, ``delta = n_new - n_old`` with absent sides
    counted 0, ranked by (|delta| DESC, keys ASC) — the tie-break
    makes the top-k deterministic on any engine. Keys with
    ``|delta| < min_delta`` are dropped before ranking.

    Scale shape: two groupBys + one key-partitioned join, then a
    global top-k (TakeOrderedAndProject — per-partition heaps, never
    a full sort). Output: key cols, ``n_old``, ``n_new`` (exact
    longs; 0 on absent sides), ``delta``."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("heavy_changers: key_cols must be non-empty")
    if int(k) < 1:
        raise ValueError(f"heavy_changers: k must be >= 1, got {k}")
    if int(min_delta) < 1:
        raise ValueError(
            f"heavy_changers: min_delta must be >= 1, got {min_delta}"
        )
    for side, frame in (("old", old), ("new", new)):
        missing = [c for c in keys if c not in frame.columns]
        if missing:
            raise ValueError(
                f"heavy_changers: {side} frame lacks columns {missing}"
            )
    oc = old.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n_old"))
    nc = new.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n_new"))
    j = oc.join(nc, keys, "full_outer").select(
        *keys,
        F.coalesce(F.col("__n_old"), F.lit(0)).alias("n_old"),
        F.coalesce(F.col("__n_new"), F.lit(0)).alias("n_new"),
    )
    delta = F.col("n_new") - F.col("n_old")
    return (
        j.select(*keys, "n_old", "n_new", delta.alias("delta"))
        .where(F.abs(F.col("delta")) >= int(min_delta))
        .orderBy(F.abs(F.col("delta")).desc(), *[F.col(c).asc() for c in keys])
        .limit(int(k))
    )


def rate_control_chart(
    df: DataFrame,
    verdict_col: str,
    batch_cols: Sequence[str],
    sigma: int = 3,
    min_batch_rows: int = 30,
    include_ok: bool = False,
) -> DataFrame:
    """Shewhart p-chart over violation rates: each batch's (partition's,
    day's) violation RATE is judged against binomial control limits
    around the pooled rate — ``p̄ ± sigma*sqrt(p̄(1-p̄)/n_batch)`` (the
    classic attribute chart, public material: Shewhart; Montgomery,
    "Statistical Quality Control"). ``cusum_scores`` finds sustained
    mean SHIFTS in a numeric series; this answers the simpler
    every-run question: is THIS batch's failure rate consistent with
    the process, given its own size? A 0.9% day in a 0.5% process is
    noise at n=500 and a five-alarm fire at n=5,000,000 — the limits
    scale with n, a fixed threshold cannot.

    Verdict input: boolean or 0/1 (violations are TRUE/1; NULL counts
    as no verdict and is excluded from n). Limits clamp to [0, 1].
    Batches under ``min_batch_rows`` report ``low_support`` rather
    than a verdict. Output per batch: batch cols, ``n_rows``,
    ``n_violations``, ``rate``, ``p_bar``, ``lcl``, ``ucl``, ``status``
    in (``high``, ``low``, ``ok``, ``low_support``);
    ``include_ok=False`` (default) returns only the actionable rows.

    Determinism: counts are exact longs; ``p̄``, the limits and the
    comparison run through a FIXED sequence of IEEE double ops, so the
    chart replays bit-for-bit in any engine. Scale shape: ONE
    groupBy(batch) with algebraic counts, one 1-row pooled broadcast —
    the chart frame is O(batches), never data-sized."""
    batches = list(batch_cols)
    if not batches:
        raise ValueError("rate_control_chart: batch_cols must be non-empty")
    if int(sigma) < 1:
        raise ValueError(
            f"rate_control_chart: sigma must be >= 1, got {sigma}"
        )
    missing = [c for c in batches + [verdict_col] if c not in df.columns]
    if missing:
        raise ValueError(
            f"rate_control_chart: frame lacks columns {missing}"
        )
    v = F.col(verdict_col).cast("boolean")
    per = (
        df.where(v.isNotNull())
        .groupBy(*batches)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum(v.cast("long")), F.lit(0).cast("long")).alias(
                "n_violations"
            ),
        )
    )
    return _chart_from_counts(per, batches, sigma, min_batch_rows, include_ok)


def _chart_from_counts(
    per: DataFrame,
    batches: Sequence[str],
    sigma: int,
    min_batch_rows: int,
    include_ok: bool,
) -> DataFrame:
    """The p-chart algebra over a pre-aggregated (batch, n_rows,
    n_violations) count frame — shared by :func:`rate_control_chart`
    and the streaming monitor (whose cumulative counts merge across
    epochs before charting)."""
    totals = per.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0).cast("long")).alias("__tn"),
        F.coalesce(F.sum("n_violations"), F.lit(0).cast("long")).alias(
            "__tk"
        ),
    )
    sized = per.crossJoin(F.broadcast(totals))
    p_bar = F.col("__tk").cast("double") / F.col("__tn").cast("double")
    half = F.lit(float(int(sigma))) * F.sqrt(
        p_bar * (F.lit(1.0) - p_bar) / F.col("n_rows").cast("double")
    )
    lcl = F.greatest(p_bar - half, F.lit(0.0))
    ucl = F.least(p_bar + half, F.lit(1.0))
    rate = F.col("n_violations").cast("double") / F.col("n_rows").cast(
        "double"
    )
    status = (
        F.when(F.col("n_rows") < int(min_batch_rows), F.lit("low_support"))
        .when(rate > ucl, F.lit("high"))
        .when(rate < lcl, F.lit("low"))
        .otherwise(F.lit("ok"))
    )
    out = sized.select(
        *batches,
        "n_rows",
        "n_violations",
        rate.alias("rate"),
        p_bar.alias("p_bar"),
        lcl.alias("lcl"),
        ucl.alias("ucl"),
        status.alias("status"),
    )
    if not include_ok:
        out = out.where(F.col("status") != "ok")
    return out


def fd_repairs(
    df: DataFrame,
    determinant_cols: Sequence[str],
    dependent_col: str,
    min_share: float = 0.5,
) -> DataFrame:
    """Repair proposals for functional-dependency violations — the
    actionable step after :func:`functional_dependency_violations`
    says "these determinant groups disagree on the dependent": per
    violating group, elect the MAJORITY dependent value (ties broken
    deterministically: higher count, then smaller value — the
    golden-record survivorship convention) and report how much of the
    group it would repair. A group whose majority holds 99.8% is a
    typo to fix; a 51/49 split is a modeling dispute to escalate, not
    auto-repair — ``majority_share`` is the triage axis, and
    ``min_share`` (default 0.5) suppresses proposals the caller
    shouldn't trust.

    NULL dependents are REPAIRABLE, never ELECTABLE: they count in
    ``n_rows`` and ``n_repairs`` (imputation is a repair) but cannot
    win the election; a group whose dependents are all NULL emits no
    row (nothing to elect from). ``majority_share`` =
    votes/non-null-votes — one IEEE division of exact longs.

    Output per violating group: determinant cols, ``n_rows``,
    ``n_values`` (distinct non-null dependents), ``majority_value``,
    ``majority_share``, ``n_repairs`` (rows to rewrite). Only groups
    with a genuine conflict (n_values > 1, or a NULL alongside one
    value) appear.

    Scale shape: ONE (determinants, dependent) groupBy collapses the
    table to the value census (bounded by group x distinct-dependent
    cardinality), then a census-sized window elects — the same
    two-level shape as the FD check itself; no collect_list, no UDF."""
    dets = list(determinant_cols)
    if not dets:
        raise ValueError("fd_repairs: determinant_cols must be non-empty")
    if not 0.0 <= float(min_share) <= 1.0:
        raise ValueError(
            f"fd_repairs: min_share must be in [0, 1], got {min_share}"
        )
    missing = [c for c in dets + [dependent_col] if c not in df.columns]
    if missing:
        raise ValueError(f"fd_repairs: frame lacks columns {missing}")
    reserved = ["__dep", "__c", "__rn", "n_rows", "n_values"]
    clash = [c for c in reserved if c in dets]
    if clash:
        raise ValueError(
            f"fd_repairs: determinant columns {clash} collide with "
            "internal/output names — rename them"
        )
    census = (
        df.select(*dets, F.col(dependent_col).alias("__dep"))
        .groupBy(*dets, "__dep")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wn = Window.partitionBy(*dets)
    w = Window.partitionBy(*dets).orderBy(
        F.col("__dep").isNull().asc(),  # non-null candidates first
        F.col("__c").desc(),
        F.col("__dep").asc(),
    )
    ranked = (
        census.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_rows", F.sum("__c").over(wn))
        .withColumn(
            "n_values",
            F.sum(
                F.when(F.col("__dep").isNotNull(), 1).otherwise(0)
            ).over(wn),
        )
        .withColumn(
            "__nn",
            F.sum(
                F.when(F.col("__dep").isNotNull(), F.col("__c")).otherwise(0)
            ).over(wn),
        )
    )
    out = (
        ranked.where(
            (F.col("__rn") == 1)
            & F.col("__dep").isNotNull()  # all-NULL groups: nothing to elect
            & (F.col("n_rows") > F.col("__c"))  # a genuine conflict exists
        )
        .select(
            *dets,
            "n_rows",
            F.col("n_values").cast("long").alias("n_values"),
            F.col("__dep").alias("majority_value"),
            (
                F.col("__c").cast("double") / F.col("__nn").cast("double")
            ).alias("majority_share"),
            (F.col("n_rows") - F.col("__c")).cast("long").alias("n_repairs"),
        )
    )
    return out.where(F.col("majority_share") >= float(min_share))


# ---------------------------------------------------- paired verdicts

def mcnemar_verdicts(
    df: DataFrame,
    pred_a: Column,
    pred_b: Column,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """McNemar's paired-verdict comparison (public: McNemar 1947):
    when a check suite, classifier, or filter is REPLACED, the
    question is not "do the pass rates differ" but "on which rows do
    the two disagree, and is the disagreement one-sided". Per group:
    the 2×2 concordance counts (both pass, only A, only B, both
    fail) and the McNemar statistic ``(b−c)²/(b+c)`` over the
    discordant cells — large values mean the swap systematically
    flips verdicts in one direction, not just reshuffles noise.

    NULL predicate values count as fail (the validator convention —
    an unevaluable check does not pass). Exact integer counts, one
    final division; ``chi2`` is NULL when there are no discordant
    rows (nothing to test, loudly). One fused aggregation pass, no
    shuffle beyond the groupBy.

    Output per group: ``group_cols..., n_rows, both_pass, only_a,
    only_b, both_fail, chi2``.
    """
    a = F.coalesce(pred_a, F.lit(False))
    b = F.coalesce(pred_b, F.lit(False))
    agg = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((a & b).cast("long")).alias("both_pass"),
        F.sum((a & ~b).cast("long")).alias("only_a"),
        F.sum((~a & b).cast("long")).alias("only_b"),
        F.sum((~a & ~b).cast("long")).alias("both_fail"),
    )
    disc = (F.col("only_a") + F.col("only_b")).cast("double")
    diff = (F.col("only_a") - F.col("only_b")).cast("double")
    return agg.select(
        *[F.col(c) for c in group_cols],
        "n_rows",
        "both_pass",
        "only_a",
        "only_b",
        "both_fail",
        F.when(disc > 0, diff * diff / disc).alias("chi2"),
    )
