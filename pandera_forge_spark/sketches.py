"""Mergeable per-partition profile sketches — incremental profiling.

An append-only warehouse table grows by PARTITION; re-profiling 100 TB
because one day of data landed would be the reference's
jobs-per-column problem at a larger scale. This module profiles each
partition ONCE into a single row of mergeable state:

- count / null count / numeric min & max — exact, algebraic;
- distinct count — an Apache DataSketches HLL sketch
  (``hll_sketch_agg``, ~1.6% relative error at the default lgk=12);
- numeric quantiles — a KLL sketch (``kll_sketch_agg_double``, ~1.7%
  rank error at the default k).

Those rows are tiny binaries (a few KB per column) meant to live next
to the runner's audit log. A table-level profile — or the profile of
ANY partition subset, e.g. "last 30 days" — is then answered by
MERGING sketch rows (``hll_union_agg``; KLL folded with the binary
``kll_sketch_merge_double``), never by rescanning data. New partition
arrives → sketch it → append one row; every previously profiled byte
stays untouched.

The batch profiler (profiler.py) remains the source of exact answers
(candidate-then-verify uniqueness, exact small-domain melts); sketches
are the monitoring/incremental path where bounded error buys
rescan-free aggregation. Cited against the reference: it has no
incremental story at all — every ``generate()`` call re-runs its
per-column jobs from zero (reference: spark/spark_generator.py:35-118).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandera_forge_spark.profiler import NUMERIC_TYPES, ORDERED_EXTRA, _is_simple

_SLICE_MAX = 1 << 30


def sketch_exprs(
    df: DataFrame, columns: Sequence[str], theta: bool = False
) -> list:
    """The mergeable aggregate list for one partition (or any row
    group): one row out, every field either algebraic or a
    DataSketches binary. ``theta=True`` additionally keeps a Theta
    sketch per simple column — unlike HLL it supports set DIFFERENCE
    and intersection, enabling "how many keys are NEW vs yesterday"
    without rescanning either day (``new_key_estimate``); costs a few
    extra KB per column."""
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    exprs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        dt = dtypes[c]
        col = F.col(c)
        exprs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        if _is_simple(dt):
            exprs.append(F.hll_sketch_agg(col.cast("string")).alias(f"{c}__hll"))
            if theta:
                exprs.append(
                    F.theta_sketch_agg(col.cast("string")).alias(f"{c}__theta")
                )
        if isinstance(dt, NUMERIC_TYPES) or isinstance(dt, ORDERED_EXTRA):
            exprs += [F.min(col).alias(f"{c}__min"), F.max(col).alias(f"{c}__max")]
        if isinstance(dt, NUMERIC_TYPES):
            exprs.append(
                F.kll_sketch_agg_double(col.cast("double")).alias(f"{c}__kll")
            )
    return exprs


def partition_sketches(
    df: DataFrame,
    partition_cols: Sequence[str],
    columns: Optional[Sequence[str]] = None,
    theta: bool = False,
) -> DataFrame:
    """One mergeable profile row per partition — the thing you persist.
    A grouped aggregation (map-side partial sketches, one shuffle);
    skewed partitions are fine because every field merges
    associatively."""
    columns = list(
        columns or [c for c in df.columns if c not in set(partition_cols)]
    )
    return df.groupBy(*[F.col(p) for p in partition_cols]).agg(
        *sketch_exprs(df, columns, theta=theta)
    )


def _fold_kll(col_name: str):
    """KLL has no native union AGGREGATE — fold the binary
    ``kll_sketch_merge_double`` over a collect_list. The list holds one
    small sketch per partition being merged (not per row), so driver
    and executor memory stay O(partitions x sketch_size)."""
    lst = F.collect_list(col_name)
    # try_element_at: an EMPTY sketch frame (no partitions selected /
    # all-null column) folds to null instead of an index error; the
    # quantile of a null sketch is then null, matching the other
    # merged fields' empty-input behavior
    return F.aggregate(
        F.slice(lst, 2, _SLICE_MAX),
        F.try_element_at(lst, F.lit(1)),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )


def merge_sketches(
    sketch_df: DataFrame,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Roll sketch rows up to ONE profile row — no data rescan — or,
    with ``group_cols``, one row per rollup group (daily sketch rows →
    monthly profiles: the hierarchy costs one tiny aggregation over
    sketch rows, never a second look at the data).

    Which merges apply is read off the sketch frame's own schema
    (``__nulls`` / ``__hll`` / ``__min`` / ``__kll`` suffixes), so any
    subset filter (``where(partition.isin(...))``) composes for free.
    Exact fields merge exactly (sum/min/max); ``{c}__distinct_est`` is
    the merged-HLL estimate; ``{c}__q{p}`` the merged-KLL quantiles."""
    exprs = [F.sum("__rows").alias("__rows")]
    for f in sketch_df.schema.fields:
        name = f.name
        if name.endswith("__nulls"):
            exprs.append(F.sum(name).alias(name))
        elif name.endswith("__min"):
            exprs.append(F.min(name).alias(name))
        elif name.endswith("__max"):
            exprs.append(F.max(name).alias(name))
        elif name.endswith("__hll"):
            c = name[: -len("__hll")]
            exprs.append(
                F.hll_sketch_estimate(F.hll_union_agg(name)).alias(
                    f"{c}__distinct_est"
                )
            )
        elif name.endswith("__kll"):
            c = name[: -len("__kll")]
            merged = _fold_kll(name)
            for q in quantiles:
                exprs.append(
                    F.kll_sketch_get_quantile_double(merged, F.lit(float(q))).alias(
                        f"{c}__q{int(round(q * 100))}"
                    )
                )
    if group_cols:
        return sketch_df.groupBy(*[F.col(g) for g in group_cols]).agg(*exprs)
    return sketch_df.agg(*exprs)


def new_key_estimate(
    sketch_df: DataFrame,
    column: str,
    new_filter,
    old_filter,
) -> float:
    """Estimated number of DISTINCT values present in the ``new_filter``
    partitions but absent from the ``old_filter`` partitions — "how
    many doc_ids are genuinely new today" — computed purely from stored
    Theta sketch rows (``partition_sketches(theta=True)``), no data
    rescan. Theta set-difference A\\\\B with the standard DataSketches
    error bounds; HLL cannot answer this (no difference operator)."""
    c = f"{column}__theta"
    new = sketch_df.where(new_filter).agg(F.theta_union_agg(c).alias("__a"))
    old = sketch_df.where(old_filter).agg(F.theta_union_agg(c).alias("__b"))
    row = (
        new.crossJoin(old)
        .select(
            F.theta_sketch_estimate(
                F.theta_difference(F.col("__a"), F.col("__b"))
            ).alias("est")
        )
        .collect()[0]
    )
    return float(row["est"] or 0.0)


def baseline_from_kll(
    sketch_df: DataFrame, column: str, bins: int = 10
) -> dict:
    """A ``drift.baseline_summary``-compatible dict built ENTIRELY from
    stored KLL sketch rows — drift scoring against last month's
    distribution without rescanning last month. Edges are the merged
    sketch's own quantiles; proportions/CDF come from rank queries at
    those edges (rank = the sketch's CDF), so the dict plugs straight
    into ``drift.drift_by_partition`` / ``drift_verdicts``."""
    name = f"{column}__kll"
    merged = _fold_kll(name)
    qs = [i / bins for i in range(1, bins)]
    row = sketch_df.agg(
        F.array(
            *[
                F.kll_sketch_get_quantile_double(merged, F.lit(q))
                for q in qs
            ]
        ).alias("edges")
    ).collect()[0]
    edges = [float(v) for v in row["edges"]]
    rank_row = sketch_df.agg(
        F.array(
            *[
                F.kll_sketch_get_rank_double(merged, F.lit(e))
                for e in edges
            ]
        ).alias("ranks")
    ).collect()[0]
    cdf = [float(v) for v in rank_row["ranks"]]
    props = []
    prev = 0.0
    for r in cdf:
        props.append(max(r - prev, 1e-6))
        prev = r
    props.append(max(1.0 - prev, 1e-6))
    return {"edges": edges, "props": props, "cdf": cdf}


def incremental_sketch_store(
    spark,
    table,
    store_root: str,
    columns: Optional[Sequence[str]] = None,
    theta: bool = False,
) -> list[str]:
    """Resumable incremental profiling over a partitioned table: sketch
    ONLY the partitions not yet in the store, commit one row-file per
    partition (same overwrite-then-_SUCCESS protocol as the runner's
    AuditLog), return the newly sketched partition values.

    ``table`` is a ``runner.HivePartitionedParquet`` (or anything with
    ``list_partitions`` / ``read_partitions`` / ``partition_col``).
    All missing partitions are sketched in ONE grouped Spark job (the
    pruned ``read_partitions`` + ``partition_sketches``); the sketch
    rows — a few KB each — are then committed driver-side per
    partition, so a crash mid-commit re-sketches only the uncommitted
    partitions on the next call. Day-after-day, profiling cost is
    O(new data), never O(table)."""
    import pyarrow as pa

    from pandera_forge_spark.sources.fs import DriverFS, write_parquet_bytes

    fs = DriverFS(spark)
    pcol = table.partition_col
    done = {
        name.split("=", 1)[1]
        for name in fs.listdir(store_root)
        if name.startswith(f"{pcol}=")
        and fs.exists(f"{store_root}/{name}/_SUCCESS")
    }
    # manifest values are raw directory strings (HivePartitionedParquet
    # reads them back verbatim), so this set comparison is exact — no
    # str-vs-typed mismatch for zero-padded or float-spelled values
    todo = [p for p in table.list_partitions() if p not in done]
    if not todo:
        return []

    sk = partition_sketches(
        table.read_partitions(todo), [pcol], columns, theta=theta
    )
    pdf = sk.toPandas()  # O(partitions) tiny rows of sketch binaries
    for part, group in pdf.groupby(pcol):
        d = f"{store_root}/{pcol}={part}"
        fs.mkdirs(d)
        fs.clear_files(d)
        # pandas hands timestamps over as ns; Spark's parquet reader
        # rejects TIMESTAMP(NANOS), so coerce to micros on write
        data = write_parquet_bytes(
            pa.Table.from_pandas(group.reset_index(drop=True)),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        fs.write_bytes(f"{d}/part-00000.parquet", data)
        fs.touch(f"{d}/_SUCCESS")
    return sorted(str(p) for p in todo)


def load_sketch_store(spark, store_root: str) -> DataFrame:
    """The accumulated sketch frame — feed it to ``merge_sketches`` /
    ``baseline_from_kll`` / ``new_key_estimate``."""
    return spark.read.parquet(f"{store_root}/*")


def update_sketches(
    existing: DataFrame,
    df_new: DataFrame,
    partition_cols: Sequence[str],
    columns: Optional[Sequence[str]] = None,
    theta: Optional[bool] = None,
) -> DataFrame:
    """Incremental append: sketch ONLY the new data and union the rows
    onto the stored sketch frame. If a partition receives late rows its
    two sketch rows simply coexist — every field merges associatively:
    exact fields and the HLL estimate (a register-wise max) come out
    IDENTICAL to one-shot profiling; KLL quantiles agree within the
    sketch's rank error (compaction depends on arrival grouping).
    Asserted in tests/test_sketches.py.

    ``theta=None`` (default) infers from the stored frame's schema:
    a store built with theta sketches (any ``__theta`` column) gets its
    new rows sketched with theta too, so the unionByName lines up —
    appending to the exact store ``new_key_estimate`` needs."""
    if theta is None:
        theta = any(c.endswith("__theta") for c in existing.columns)
    return existing.unionByName(
        partition_sketches(df_new, partition_cols, columns, theta=theta)
    )


def compact_sketches(
    sketch_df: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Merge sketch rows into one row per group while PRESERVING the
    binary sketches (``merge_sketches`` outputs final estimates; this
    outputs a frame with the SAME schema as ``partition_sketches``
    rows, so it can keep serving as a store). Every merge is the
    sketch's native union aggregate — constant-size aggregation
    buffers, map-side combinable:

    - ``__hll`` → ``hll_union_agg``; ``__kll`` →
      ``kll_merge_agg_double``; ``__theta`` → ``theta_union_agg``;
    - exact fields sum/min/max.

    Use case: a long-running ``stream_sketch_profile`` store
    accumulates one row set per epoch; compaction folds history into
    one row per partition so store reads stay O(partitions), not
    O(epochs)."""
    exprs = []
    for f in sketch_df.schema.fields:
        name = f.name
        if name in group_cols:
            continue
        if name == "__rows" or name.endswith("__nulls"):
            exprs.append(F.sum(name).alias(name))
        elif name.endswith("__min"):
            exprs.append(F.min(name).alias(name))
        elif name.endswith("__max"):
            exprs.append(F.max(name).alias(name))
        elif name.endswith("__hll"):
            exprs.append(F.hll_union_agg(name).alias(name))
        elif name.endswith("__kll"):
            exprs.append(F.kll_merge_agg_double(name).alias(name))
        elif name.endswith("__theta"):
            exprs.append(F.theta_union_agg(name).alias(name))
        else:
            # unknown passenger columns (e.g. timestamps) keep their max
            exprs.append(F.max(name).alias(name))
    return sketch_df.groupBy(*group_cols).agg(*exprs)


def compact_sketch_store(
    spark, src_root: str, dest_root: str, group_cols: Sequence[str]
) -> int:
    """Compact an epoch-accumulating sketch store (the
    ``stream_sketch_profile`` layout) into ``dest_root``: one row per
    group, binary sketches preserved, committed with the _SUCCESS
    protocol. Writing to a NEW root keeps the operation crash-safe —
    the source store stays valid until the caller switches readers
    over (re-merging source rows is associative, so a half-written
    dest is simply ignored/overwritten on retry). Returns the number
    of compacted rows."""
    df = spark.read.parquet(f"{src_root}/*")
    drop = [c for c in df.columns if c == "__epoch"]
    out = compact_sketches(df.drop(*drop), group_cols)
    out.write.mode("overwrite").parquet(dest_root)
    return spark.read.parquet(dest_root).count()


# -- Count-Min frequency sketch (heavy-hitter counts) ----------------------
#
# HLL answers "how many distinct", KLL answers "what quantile"; the
# count-min sketch (Cormode & Muthukrishnan 2005) answers "about how
# often does THIS value occur" from the same kind of tiny mergeable
# row, completing the sketch family. depth x width counters; value v
# increments counter (r, h_r(v)) for each row r; the estimate is the
# MIN over rows — always >= the true count, with collisions bounded by
# e*n/width at 1 - (1/e)^depth confidence. Hashes derive from md5 of
# "(seed:r:value)" so a SQL engine can replay the sketch bit-for-bit
# (the weighted_take md5 idiom); everything is exact integer column
# algebra — deterministic, mergeable by cellwise +, zero UDFs.


def cms_bucket(col, row: int, width: int, seed: str = "cms"):
    """Row-``row``'s bucket for a value: first 8 md5 hex digits of
    "seed:row:value" mod width. NULL values hash to NULL (excluded —
    nullability is the profiler's job)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:{row}:"), c.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(int(width)))


def cms_partition_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
) -> DataFrame:
    """One mergeable CMS row per group: ``__cms`` (dense
    ``array<long>`` of depth*width counters), ``__cms_n`` (non-null
    values counted — the error bound's n), plus literal ``__cms_depth``
    / ``__cms_width`` / ``__cms_seed`` so merge/estimate refuse
    parameter mismatches loudly.

    Scale shape: each input row explodes into ``depth`` (row, bucket)
    pairs (a constant fan-out), ONE partial-aggregated groupBy counts
    them, and a bounded ``collect_list`` (at most depth*width entries
    per group — a constant) densifies the map; n falls out of the same
    counts (row 0's counters sum to it), so the data is scanned once.
    No per-key state, no top-k heap: the shuffle carries at most
    depth*width counter rows per group however many distinct values
    the data holds."""
    d, w = int(depth), int(width)
    if d < 1 or w < 1:
        # same defect class as the split_every fence: a negative width
        # builds a garbage counter array whose estimates silently
        # UNDERESTIMATE — the one thing a CMS must never do
        raise ValueError(f"depth and width must be >= 1, got {depth}x{width}")
    groups = list(group_cols)
    buckets = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"), cms_bucket(value_col, r, w, seed).alias("b")
            )
            for r in range(d)
        ]
    )
    pairs = (
        df.where(F.col(value_col).isNotNull())
        .select(*groups, F.explode(buckets).alias("__rb"))
        .groupBy(*groups, F.col("__rb.r").alias("__r"), F.col("__rb.b").alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    entries = F.map_from_entries(
        F.collect_list(
            F.struct(
                (F.col("__r") * w + F.col("__b")).cast("int").alias("k"),
                F.col("__c").alias("v"),
            )
        )
    )
    n = F.coalesce(
        F.sum(F.when(F.col("__r") == 0, F.col("__c")).otherwise(F.lit(0))),
        F.lit(0),
    ).alias("__cms_n")
    agg = (
        pairs.groupBy(*groups).agg(entries.alias("__m"), n)
        if groups
        else pairs.agg(entries.alias("__m"), n)
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(d * w - 1)),
        lambda i: F.coalesce(
            F.try_element_at(F.col("__m"), i), F.lit(0).cast("long")
        ),
    )
    return agg.select(
        *groups,
        dense.alias("__cms"),
        "__cms_n",
        F.lit(d).alias("__cms_depth"),
        F.lit(w).alias("__cms_width"),
        F.lit(seed).alias("__cms_seed"),
    )


def cms_merge(
    sketch_df: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Roll CMS rows up by cellwise addition — one row (per rollup
    group), no data rescan; the list being folded holds one sketch per
    merged row (per partition/epoch), so memory stays O(rows x
    depth*width). Parameter agreement is fenced IN-BAND: a frame
    mixing depth/width/seed raises inside the same job (zip_with over
    mismatched lengths would otherwise null-corrupt counters
    silently), costing no extra scan."""
    lst = F.collect_list("__cms")
    merged = F.aggregate(
        F.slice(lst, 2, _SLICE_MAX),
        F.try_element_at(lst, F.lit(1)),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    nparam = F.countDistinct(
        F.struct("__cms_depth", "__cms_width", "__cms_seed")
    ).alias("__nparam")
    exprs = [
        merged.alias("__cms"),
        F.sum("__cms_n").alias("__cms_n"),
        F.first("__cms_depth").alias("__cms_depth"),
        F.first("__cms_width").alias("__cms_width"),
        F.first("__cms_seed").alias("__cms_seed"),
        nparam,
    ]
    groups = list(group_cols)
    agg = (
        sketch_df.groupBy(*[F.col(g) for g in groups]).agg(*exprs)
        if groups
        else sketch_df.agg(*exprs)
    )
    fenced = F.when(F.col("__nparam") <= 1, F.col("__cms")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("cms_merge: frame mixes CMS parameters ("),
                F.col("__nparam").cast("string"),
                F.lit(" distinct depth/width/seed combinations)"),
            )
        )
    )
    return agg.withColumn("__cms", fenced).drop("__nparam")


def cms_estimate(keys_df: DataFrame, sketch_df: DataFrame, key_col: str) -> DataFrame:
    """Estimated occurrence count for every key in ``keys_df`` against
    a MERGED one-row sketch: ``est = min over rows r of
    counter[r*width + h_r(key)]`` — adds an ``est`` column (bigint,
    always >= the true count; within e*n/width of it with probability
    1 - (1/e)^depth; NULL keys estimate NULL). The sketch rides along
    as a 1-row broadcast stats frame — the probe is row-local column
    algebra, no shuffle of ``keys_df`` at all.

    The hash parameters must be known driver-side to build the probe
    expressions, so this materializes the sketch frame ONCE (a single
    limit-2 collect that also fences "exactly one merged row"); pass a
    persisted or store-loaded merged frame to avoid recomputing its
    lineage here and in the probe job."""
    rows = (
        sketch_df.select("__cms_depth", "__cms_width", "__cms_seed")
        .limit(2)
        .collect()
    )
    if len(rows) != 1:
        raise ValueError(
            f"cms_estimate needs ONE merged sketch row, got {len(rows)} "
            "(cms_merge without group_cols first)"
        )
    if rows[0][0] is None:
        # an ungrouped merge of ZERO sketch rows yields one all-NULL row
        # (first/collect_list over nothing) — as loud as the multi-row
        # case, not a TypeError three lines later
        raise ValueError(
            "cms_estimate got an EMPTY merged sketch (zero sketch rows "
            "were merged — e.g. a store filter that matched nothing)"
        )
    d, w, seed = int(rows[0][0]), int(rows[0][1]), rows[0][2]
    probe = keys_df.crossJoin(F.broadcast(sketch_df.select("__cms")))
    lookups = [
        F.get(
            F.col("__cms"),
            (F.lit(r * w) + cms_bucket(key_col, r, w, seed)).cast("int"),
        )
        for r in range(d)
    ]
    # depth=1 is a legitimate CMS; F.least needs two columns
    est = lookups[0] if d == 1 else F.least(*lookups)
    return probe.withColumn("est", est.cast("long")).drop("__cms")


# ---------------------------------------------------------------------------
# Order-insensitive table checksum (cross-environment equality audit)
# ---------------------------------------------------------------------------

# Only types whose CAST-to-string renders identically on every engine may
# enter the fingerprint: floats/doubles (shortest-repr vs %g), decimals
# (scale padding) and timestamps (fractional-second trimming) all have
# engine-specific string forms that would make equal tables hash unequal.
_CHECKSUM_EXACT = ("tinyint", "smallint", "int", "bigint", "string",
                   "varchar", "char", "boolean", "date")


def row_fingerprint(cols: Sequence, *, null_marker: str = "\x1e",
                    sep: str = "\x1f"):
    """md5 over the unit-separated, NULL-marked string rendering of the
    given columns — the per-row content hash under every checksum lane.
    ``coalesce`` runs BEFORE concat_ws because both Spark and DuckDB
    concat_ws silently SKIP NULLs, which would make ('a', NULL, 'b')
    collide with ('a', 'b', NULL); the markers are control characters
    no sane data column contains (collisions with data containing them
    are possible but flagged in the docstring, not fenced — fencing
    would cost a full scan)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(null_marker)) for c in cols
    ]
    return F.md5(F.concat_ws(sep, *parts))


def table_checksum(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Order-insensitive, mergeable fingerprint of a table's CONTENT:
    per group (or whole-table), ``n_rows`` plus three independent
    lanes of the per-row md5 — ``xor_lo``/``xor_hi`` (bitwise XOR of
    two 32-bit hash chunks; XOR is commutative/associative, so any
    partitioning and any row order produce the same value) and
    ``sum_mod`` (a third chunk mod 2^20, summed — catches the
    duplicate-pair cancellation XOR alone is blind to: two identical
    rows XOR to zero but still add twice). Two environments hold the
    same rows iff all four numbers match per group — the "did the
    replication/migration/backfill produce the same table" audit that
    needs NO data movement and no sort.

    Lanes are chosen to stay in engine-exact integer ranges at 10^12
    rows: XOR never grows, and sum_mod <= rows x 2^20 ~ 10^18 < 2^63,
    so no overflow (Spark ANSI would raise) and no DECIMAL/HUGEINT
    type divergence. The aggregation is algebraic — map-side partial,
    one reduce, O(groups) output; merging per-partition checksum rows
    into a table row is the same fold (``merge_checksums``).

    Only exact-string-rendering column types are allowed (ints,
    strings, boolean, date); floats/decimals/timestamps raise with
    guidance — cast to an exact form first (e.g. timestamp ->
    ``unix_micros``, double -> a fixed-point long) so both
    environments hash the same rendering."""
    keys = list(group_cols)
    cs = list(cols) if cols is not None else [c for c in df.columns if c not in keys]
    if not cs:
        raise ValueError("table_checksum: no columns to fingerprint")
    dt = dict(df.dtypes)
    for c in cs + keys:
        if c not in df.columns:
            raise ValueError(f"table_checksum: column {c!r} missing")
    bad = [
        (c, dt[c])
        for c in cs
        if not (dt[c] in _CHECKSUM_EXACT or dt[c].startswith("varchar")
                or dt[c].startswith("char"))
    ]
    if bad:
        raise ValueError(
            "table_checksum: columns with engine-dependent string "
            f"rendering {bad} — cast to an exact form first (timestamp "
            "-> unix_micros(ts), double -> CAST(x*10^k AS LONG), "
            "decimal -> CAST(x AS STRING) only if scale-stable)"
        )
    h = row_fingerprint(cs)
    lo = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    hi = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    md = F.conv(F.substring(h, 17, 8), 16, 10).cast("long") % F.lit(1048576)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(__cs_lo)").alias("xor_lo"),
        F.expr("bit_xor(__cs_hi)").alias("xor_hi"),
        F.sum("__cs_md").alias("sum_mod"),
    ]
    based = (
        df.withColumn("__cs_lo", lo)
        .withColumn("__cs_hi", hi)
        .withColumn("__cs_md", md)
    )
    if keys:
        return based.groupBy(*keys).agg(*aggs)
    return based.agg(*aggs)


def merge_checksums(
    checksum_df: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Fold per-partition/per-group checksum rows (the output of
    ``table_checksum``) into coarser rows: counts and mod-sums add,
    XOR lanes XOR — the same algebra that made the lanes
    order-insensitive makes them mergeable, so per-partition audit
    rows written at ingest time roll up to a table fingerprint with
    no rescan (the incremental-sketch-store pattern)."""
    keys = list(group_cols)
    aggs = [
        F.sum("n_rows").alias("n_rows"),
        F.expr("bit_xor(xor_lo)").alias("xor_lo"),
        F.expr("bit_xor(xor_hi)").alias("xor_hi"),
        F.sum("sum_mod").alias("sum_mod"),
    ]
    if keys:
        return checksum_df.groupBy(*keys).agg(*aggs)
    return checksum_df.agg(*aggs)


CHECKSUM_LANES = ("n_rows", "xor_lo", "xor_hi", "sum_mod")


def checksum_diff(
    old_cs: DataFrame,
    new_cs: DataFrame,
    group_cols: Sequence[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Classify every partition of two snapshots as ``added`` /
    ``removed`` / ``changed`` / ``unchanged`` from their per-group
    checksum rows (the output of :func:`table_checksum`, typically
    PERSISTED at ingest time) — the driver of incremental
    re-validation: at 10^12 rows you cannot re-profile the whole lake
    nightly, but a full-outer join of two O(partitions) checksum
    frames tells you exactly which partitions moved, and only those
    re-enter the validation runner.

    ``changed`` means any of the four lanes differs; two snapshots
    whose partitions all come back ``unchanged`` hold identical rows
    per group up to the md5-lane collision bound. Output per group:
    ``status``, ``n_rows_old``/``n_rows_new`` (NULL on the absent
    side) and ``rows_delta`` (new - old, absent side counted 0).

    Scale shape: both inputs are already O(groups); the join is a
    broadcast-or-shuffle of KB-to-MB frames regardless of table size.
    The expensive part — hashing the rows — happened once per side,
    map-side algebraic, and the old side needs NO rescan at all when
    its checksum rows were persisted by the ingest job
    (``merge_checksums`` rolls partial rows up first if needed)."""
    keys = list(group_cols)
    if not keys:
        raise ValueError("checksum_diff: group_cols must be non-empty")
    for side, frame in (("old", old_cs), ("new", new_cs)):
        missing = [c for c in keys + list(CHECKSUM_LANES) if c not in frame.columns]
        if missing:
            raise ValueError(
                f"checksum_diff: {side} frame lacks columns {missing} — "
                "pass table_checksum output"
            )
    o = old_cs.select(
        *keys, *[F.col(c).alias(f"__o_{c}") for c in CHECKSUM_LANES]
    )
    n = new_cs.select(
        *keys, *[F.col(c).alias(f"__n_{c}") for c in CHECKSUM_LANES]
    )
    j = o.join(n, keys, "full_outer")
    old_absent = F.col("__o_n_rows").isNull()
    new_absent = F.col("__n_n_rows").isNull()
    lane_diff = None
    for c in CHECKSUM_LANES:
        d = F.col(f"__o_{c}") != F.col(f"__n_{c}")
        lane_diff = d if lane_diff is None else (lane_diff | d)
    status = (
        F.when(old_absent, F.lit("added"))
        .when(new_absent, F.lit("removed"))
        .when(lane_diff, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *keys,
        status.alias("status"),
        F.col("__o_n_rows").alias("n_rows_old"),
        F.col("__n_n_rows").alias("n_rows_new"),
        (
            F.coalesce(F.col("__n_n_rows"), F.lit(0))
            - F.coalesce(F.col("__o_n_rows"), F.lit(0))
        ).alias("rows_delta"),
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — set overlap without rescans
# ---------------------------------------------------------------------------
#
# The gap this fills in the mergeable family: HLL answers |A| and |A∪B|,
# Theta needs the DataSketches binary (opaque to an independent replay),
# CMS answers frequencies — none of them yields an AUDITABLE intersection
# estimate. A KMV sketch is just the k smallest md5-derived hashes of the
# distinct values (Bar-Yossef et al., "Counting distinct elements in a
# data stream"): union = k smallest of the concatenation, Jaccard = the
# fraction of the union sketch present in both sides, and every number is
# replayable from the raw values by ANY engine with md5 — the property
# the whole oracle harness is built on. The train/test-overlap audit
# ("how many eval doc ids / urls / shingles also occur in training?")
# becomes two persisted one-row sketches and column algebra, no rescan.

# 2^48 — hashes are the first 12 md5 hex digits, so they fit a BIGINT on
# every engine (no UBIGINT/HUGEINT divergence) while keeping collision
# probability ~n^2/2^49 negligible; and m * 2^48 is exactly representable
# as a double for any m < 2^53, so the (k-1)*2^48/h_k estimate is the
# same IEEE arithmetic everywhere.
_KMV_SPACE = float(1 << 48)


def kmv_hash(col, seed: str = "kmv"):
    """48-bit md5-derived hash of a value: first 12 hex digits of
    md5("seed:value") as a BIGINT. NULL values hash to NULL (distinct
    counting never counts NULL — nullability is the profiler's job).
    DuckDB replay: ``('0x'||substr(md5('seed:'||CAST(v AS VARCHAR)),
    1,12))::UBIGINT`` — same bytes, same integer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), c.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


def kmv_partition_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = 256,
    seed: str = "kmv",
) -> DataFrame:
    """One mergeable KMV row per group: ``__kmv`` (ascending
    ``array<bigint>`` of the k smallest distinct hashes — fewer than k
    means the group's EXACT distinct set fit the sketch), plus literal
    ``__kmv_k`` / ``__kmv_seed`` so merge/overlap refuse parameter
    mismatches loudly (the cms_* discipline).

    Scale shape: one ``.distinct()`` on (group, hash) — the shuffle any
    distinct-count needs — then a rank-limited window whose per-group
    k-cut Spark pushes BELOW the shuffle (WindowGroupLimit: each map
    task forwards at most k rows per group), so the second exchange
    carries O(groups x k) rows however many distinct values exist. The
    ungrouped variant is a global sort-limit (TakeOrderedAndProject):
    every task forwards its local k minima, one reducer keeps k."""
    if int(k) < 2:
        # k=1 would make the estimator (k-1)/u_k identically zero and
        # the Jaccard denominator degenerate — loud, not silently wrong
        raise ValueError(f"kmv k must be >= 2, got {k}")
    k = int(k)
    groups = list(group_cols)
    bad = [g for g in groups if g not in df.columns]
    if bad or value_col not in df.columns:
        raise ValueError(
            f"kmv_partition_sketch: missing columns {bad + ([value_col] if value_col not in df.columns else [])}"
        )
    d = (
        df.where(F.col(value_col).isNotNull())
        .select(*groups, kmv_hash(value_col, seed).alias("__h"))
        .distinct()
    )
    if groups:
        w = Window.partitionBy(*groups).orderBy("__h")
        kept = (
            d.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
        agg = kept.groupBy(*groups).agg(
            F.array_sort(F.collect_list("__h")).alias("__kmv")
        )
    else:
        kept = d.orderBy("__h").limit(k)
        agg = kept.agg(F.array_sort(F.collect_list("__h")).alias("__kmv"))
    return agg.select(
        *groups,
        "__kmv",
        F.lit(k).alias("__kmv_k"),
        F.lit(seed).alias("__kmv_seed"),
    )


def kmv_merge(sketch_df: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Roll KMV rows up: k smallest distinct hashes of the
    concatenation — exactly the sketch the union of the underlying sets
    would have produced, so per-partition/per-epoch sketch rows written
    at ingest time answer any-subset distinct counts with no rescan.
    Memory per output group is rows_merged x k hash longs inside one
    aggregate — the same bounded collect_list shape as ``cms_merge``,
    with the same IN-BAND parameter fence (mixing k or seed raises
    inside the job; a silent mix would bias every estimate)."""
    lst = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("__kmv")))),
        1,
        _SLICE_MAX,
    )
    nparam = F.countDistinct(F.struct("__kmv_k", "__kmv_seed")).alias("__nparam")
    exprs = [
        lst.alias("__all"),
        F.first("__kmv_k").alias("__kmv_k"),
        F.first("__kmv_seed").alias("__kmv_seed"),
        nparam,
    ]
    groups = list(group_cols)
    agg = (
        sketch_df.groupBy(*[F.col(g) for g in groups]).agg(*exprs)
        if groups
        else sketch_df.agg(*exprs)
    )
    fenced = F.when(
        F.col("__nparam") <= 1, F.slice(F.col("__all"), 1, F.col("__kmv_k"))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("kmv_merge: frame mixes KMV parameters ("),
                F.col("__nparam").cast("string"),
                F.lit(" distinct k/seed combinations)"),
            )
        )
    )
    return (
        agg.withColumn("__kmv", fenced)
        .drop("__nparam", "__all")
        .select(*groups, "__kmv", "__kmv_k", "__kmv_seed")
    )


def _kmv_est(arr, k):
    """The KMV estimator as a column over (array, k): fewer than k
    hashes -> the array IS the distinct set (exact count); otherwise
    (k-1) * 2^48 / h_(k) (Bar-Yossef unbiased form). Spelled as the
    identical IEEE ops the DuckDB oracle uses: CAST-to-double of two
    exact integers, one multiply by an exact power-of-two-scaled
    literal, one divide."""
    # F.get (0-based, null-safe) not element_at: ANSI element_at RAISES
    # on out-of-bounds, and when() does not short-circuit evaluation of
    # the unused branch on a size<k row
    return F.when(F.size(arr) < k, F.size(arr).cast("double")).otherwise(
        (k - F.lit(1)).cast("double")
        * F.lit(_KMV_SPACE)
        / F.get(arr, (k - F.lit(1)).cast("int")).cast("double")
    )


def kmv_estimate(sketch_df: DataFrame) -> DataFrame:
    """Adds ``sketch_size`` (int — how many hashes the sketch holds)
    and ``distinct_est`` (double — exact when sketch_size < k, the
    (k-1)*2^48/h_k estimator otherwise, relative error ~1/sqrt(k-2))
    to every sketch row. Pure row-local column algebra — estimate a
    million per-group sketches in one map stage. An all-NULL row (an
    ungrouped merge of ZERO sketch rows) raises in-band rather than
    estimating 0 of an empty frame that was really a bad filter."""
    arr = F.when(
        F.col("__kmv").isNotNull(), F.col("__kmv")
    ).otherwise(
        F.raise_error(
            F.lit(
                "kmv_estimate: NULL sketch row (zero sketch rows were "
                "merged — e.g. a store filter that matched nothing)"
            )
        )
    )
    k = F.col("__kmv_k")
    return sketch_df.withColumn(
        "sketch_size", F.size(arr).cast("int")
    ).withColumn("distinct_est", _kmv_est(arr, k))


def _kmv_pair_kernel(
    sketch_a: DataFrame, sketch_b: DataFrame, caller: str
) -> DataFrame:
    """THE two-sided kernel shared by :func:`kmv_overlap` and
    :func:`kmv_containment`: merge each side, broadcast-crossJoin the
    two 1-row frames, fence parameter mismatches IN-BAND, and build the
    union sketch. Returns one row with ``__a``, ``__b``, ``__u``
    (k-length hash arrays) and ``__k`` — each caller is one projection
    on top, so a fix to the fence or the union-slice logic lands in
    both estimators by construction."""
    a = kmv_merge(sketch_a).select(
        F.col("__kmv").alias("__a"),
        F.col("__kmv_k").alias("__ka"),
        F.col("__kmv_seed").alias("__sa"),
    )
    b = kmv_merge(sketch_b).select(
        F.col("__kmv").alias("__b"),
        F.col("__kmv_k").alias("__kb"),
        F.col("__kmv_seed").alias("__sb"),
    )
    both = a.crossJoin(F.broadcast(b))
    fence = F.when(
        (F.col("__ka") == F.col("__kb")) & (F.col("__sa") == F.col("__sb")),
        F.col("__ka"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{caller}: parameter mismatch (k "),
                F.col("__ka").cast("string"),
                F.lit("/"),
                F.col("__kb").cast("string"),
                F.lit(", seed "),
                F.col("__sa"),
                F.lit("/"),
                F.col("__sb"),
                F.lit(")"),
            )
        )
    )
    both = both.withColumn("__k", fence)
    arr_u = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("__a"), F.col("__b")))),
        1,
        F.col("__k"),
    )
    return both.withColumn("__u", arr_u).select("__a", "__b", "__u", "__k")


def kmv_overlap(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Set-overlap audit from two KMV sketch frames (merged internally,
    so any per-partition sketch rows work): ONE row with

    - ``k``, ``size_a`` / ``size_b`` / ``size_u`` (sketch fill levels),
    - ``est_a`` / ``est_b`` — per-side distinct estimates,
    - ``shared`` — of the union sketch's hashes, how many occur in BOTH
      sides (the Jaccard numerator),
    - ``jaccard_est`` = shared / size_u,
    - ``union_est`` — the estimator over the union sketch,
    - ``inter_est`` = jaccard_est * union_est — the headline "how many
      training keys does the eval set share" number.

    Everything after the two merges is column algebra over two 1-row
    broadcast frames — no data rescan, no shuffle (the shared
    :func:`_kmv_pair_kernel`). Mismatched k or seed between the sides
    raises in-band (a cross-parameter Jaccard is meaningless); two
    genuinely empty inputs yield NULL jaccard/inter (0/0), not a crash
    and not a silent 0."""
    both = _kmv_pair_kernel(sketch_a, sketch_b, "kmv_overlap")
    k = F.col("__k")
    shared = F.size(
        F.filter(
            F.col("__u"),
            lambda h: F.array_contains(F.col("__a"), h)
            & F.array_contains(F.col("__b"), h),
        )
    )
    both = both.withColumn("shared", shared.cast("long"))
    jac = F.when(F.size("__u") == 0, F.lit(None).cast("double")).otherwise(
        F.col("shared").cast("double") / F.size("__u").cast("double")
    )
    return both.select(
        k.cast("int").alias("k"),
        F.size("__a").cast("int").alias("size_a"),
        F.size("__b").cast("int").alias("size_b"),
        F.size("__u").cast("int").alias("size_u"),
        _kmv_est(F.col("__a"), k).alias("est_a"),
        _kmv_est(F.col("__b"), k).alias("est_b"),
        F.col("shared"),
        jac.alias("jaccard_est"),
        _kmv_est(F.col("__u"), k).alias("union_est"),
        (jac * _kmv_est(F.col("__u"), k)).alias("inter_est"),
    )


def kmv_containment(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """ASYMMETRIC overlap from two KMV sketch frames: one row with

    - ``k``, ``size_a`` / ``size_b`` / ``size_u``, ``shared`` (as in
      :func:`kmv_overlap`),
    - ``in_a`` / ``in_b`` — of the union sketch's hashes, how many fall
      in each side,
    - ``containment_a_in_b`` = shared / in_a — the estimated fraction
      of A's distinct values that also occur in B,
    - ``containment_b_in_a`` = shared / in_b.

    This is the number the symmetric Jaccard hides: an eval set 99%
    swallowed by a much larger training corpus has tiny Jaccard but
    containment ~0.99 — "how much of MY set is in YOURS" is the
    train/test-leak question (Broder's containment, estimated on the
    union sketch). Same shared :func:`_kmv_pair_kernel` as
    :func:`kmv_overlap` — same two 1-row broadcast merges, same
    in-band parameter fence, same NULL (0/0) semantics when a side's
    union presence is empty."""
    both = _kmv_pair_kernel(sketch_a, sketch_b, "kmv_containment")
    k = F.col("__k")
    in_a = F.size(
        F.filter(F.col("__u"), lambda h: F.array_contains(F.col("__a"), h))
    )
    in_b = F.size(
        F.filter(F.col("__u"), lambda h: F.array_contains(F.col("__b"), h))
    )
    shared = F.size(
        F.filter(
            F.col("__u"),
            lambda h: F.array_contains(F.col("__a"), h)
            & F.array_contains(F.col("__b"), h),
        )
    )
    both = (
        both.withColumn("__ina", in_a)
        .withColumn("__inb", in_b)
        .withColumn("__sh", shared)
    )

    def _ratio(num, den):
        return F.when(den == 0, F.lit(None).cast("double")).otherwise(
            num.cast("double") / den.cast("double")
        )

    return both.select(
        k.cast("int").alias("k"),
        F.size("__a").cast("int").alias("size_a"),
        F.size("__b").cast("int").alias("size_b"),
        F.size("__u").cast("int").alias("size_u"),
        F.col("__ina").cast("int").alias("in_a"),
        F.col("__inb").cast("int").alias("in_b"),
        F.col("__sh").cast("long").alias("shared"),
        _ratio(F.col("__sh"), F.col("__ina")).alias("containment_a_in_b"),
        _ratio(F.col("__sh"), F.col("__inb")).alias("containment_b_in_a"),
    )


# ---------------------------------------------------------------------------
# Fixed-grid histogram sketch — rescan-free, AUDITABLE drift
# ---------------------------------------------------------------------------
#
# The KLL sketch above answers quantiles with bounded error but is an
# opaque binary no independent engine can replay. The histogram sketch is
# its auditable sibling for DRIFT: exact integer bin counts on a fixed
# edge grid — mergeable by plain addition (the merge_checksums algebra),
# replayable value-for-value by any engine that bins the same way, and
# sufficient for the KS / W1 statistics the drift family scores. Write
# one sketch row per ingest partition; roll up with a sum; drift ANY
# slice against ANY other without rescanning either side.


def _check_edges(edges: Sequence[float], op: str) -> list:
    edges = [float(e) for e in edges]
    if len(edges) < 2:
        raise ValueError(
            f"{op}: need >=2 edges (got {len(edges)}) — with one edge "
            "every distribution collapses to a point"
        )
    if any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError(f"{op}: edges must be strictly increasing: {edges}")
    return edges


def _bin_cols(df: DataFrame, op: str) -> list:
    import re

    bins = sorted(
        (int(m.group(1)) for c in df.columns
         for m in [re.fullmatch(r"b(\d+)", c)] if m),
    )
    if not bins or bins != list(range(len(bins))):
        raise ValueError(
            f"{op}: frame lacks a contiguous b0..bk bin-column set "
            f"(found {['b%d' % b for b in bins]})"
        )
    if "n" not in df.columns:
        raise ValueError(f"{op}: frame lacks the 'n' count column")
    return [f"b{i}" for i in bins]


def histogram_sketch(
    df: DataFrame,
    col: str,
    edges: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """One mergeable histogram-sketch row per group: ``(groups..., n,
    b0..bk)`` with ``b0 = count(x <= e0)``, ``b_i = count(e_{i-1} < x
    <= e_i)``, ``b_last = count(x > e_last)`` and ``n`` the non-null
    count (= Σ bins). All exact longs from ONE fused conditional-sum
    aggregate (map-side partials, the drift family's binning verbatim
    — `drift._bin_exprs`), so two sketches of the same rows are
    identical on any engine and any partitioning."""
    from pandera_forge_spark.drift import _bin_exprs

    edges = _check_edges(edges, "histogram_sketch")
    if col not in df.columns:
        raise ValueError(f"histogram_sketch: column {col!r} not in frame")
    keys = list(group_cols)
    aggs = _bin_exprs(col, edges, count="n")
    g = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    renames = [F.col(f"__bin_{i}").alias(f"b{i}") for i in range(len(edges) + 1)]
    return g.select(*keys, F.coalesce(F.col("n"), F.lit(0)).alias("n"), *renames)


def merge_histogram_sketches(
    sketches: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Fold sketch rows into coarser rows (or one total row): counts
    add — the same plain-addition algebra that makes the sketch
    order-insensitive makes it mergeable, so per-partition rows roll
    up to any slice with no rescan (the ``merge_checksums`` shape)."""
    bins = _bin_cols(sketches, "merge_histogram_sketches")
    keys = list(group_cols)
    aggs = [F.sum("n").alias("n")] + [F.sum(b).alias(b) for b in bins]
    if keys:
        return sketches.groupBy(*keys).agg(*aggs)
    return sketches.agg(*aggs)


def drift_from_sketches(
    current: DataFrame,
    baseline: DataFrame,
    edges: Sequence[float],
) -> DataFrame:
    """KS and grid-Wasserstein drift of every ``current`` sketch row
    against a ONE-ROW ``baseline`` sketch — drift between any two
    slices of a 10^12-row table for the cost of reading two sketch
    frames, no rescan of either side. Both statistics are computed
    from integer cross-multiplied CDF gaps (``|CumP·Nq − CumQ·Np|``):
    KS takes the max gap over edges with ONE final division, W1 the
    gap-weighted sum with one multiply per edge and one division (the
    `wasserstein_by_partition` fold, same fixed order) — bit-identical
    on any engine, no transcendental anywhere (PSI's log lives in the
    scan-side drift family where the baseline rides as literals).

    ``edges`` must be the grid BOTH sketches were built on (the drift
    family's caller-owned-grid convention); the bin-column count is
    fenced against it. Returns ``(current's group cols..., n, ks,
    w1)`` — 0.0 for an empty current row. Integer headroom: the cross
    products stay in int64 for counts up to ~3·10^9 per side (the
    `wasserstein_by_partition` bound; summarize a bigger baseline
    from a sample — its proportions are the distribution)."""
    edges = _check_edges(edges, "drift_from_sketches")
    cur_bins = _bin_cols(current, "drift_from_sketches(current)")
    base_bins = _bin_cols(baseline, "drift_from_sketches(baseline)")
    if len(cur_bins) != len(edges) + 1 or len(base_bins) != len(edges) + 1:
        raise ValueError(
            f"drift_from_sketches: {len(edges)} edges need "
            f"{len(edges) + 1} bins; current has {len(cur_bins)}, "
            f"baseline {len(base_bins)}"
        )
    n_base_rows = baseline.limit(2).count()
    if n_base_rows != 1:
        raise ValueError(
            "drift_from_sketches: baseline must be exactly ONE sketch row "
            f"(got {n_base_rows}) — merge_histogram_sketches it first"
        )
    keys = [c for c in current.columns if c != "n" and c not in cur_bins]
    b = baseline.select(
        F.col("n").alias("__qn"),
        *[F.col(bc).alias(f"__q{i}") for i, bc in enumerate(base_bins)],
    )
    j = current.crossJoin(F.broadcast(b))
    cum_p = None
    cum_q = None
    gaps = []
    for i in range(len(edges) - 1 + 1):
        # cumulative counts through bin i (edges index i), i = 0..k-1
        bp = F.col(f"b{i}")
        bq = F.col(f"__q{i}")
        cum_p = bp if cum_p is None else cum_p + bp
        cum_q = bq if cum_q is None else cum_q + bq
        gaps.append(F.abs(cum_p * F.col("__qn") - cum_q * F.col("n")))
    ks_num = F.greatest(*gaps) if len(gaps) > 1 else gaps[0]
    w1_num = None
    for i in range(len(edges) - 1):
        t = gaps[i].cast("double") * F.lit(float(edges[i + 1] - edges[i]))
        w1_num = t if w1_num is None else w1_num + t
    den = F.col("n").cast("double") * F.col("__qn").cast("double")
    nonzero = (F.col("n") > 0) & (F.col("__qn") > 0)
    return j.select(
        *keys,
        "n",
        F.when(nonzero, ks_num.cast("double") / den)
        .otherwise(F.lit(0.0))
        .alias("ks"),
        F.when(nonzero, w1_num / den).otherwise(F.lit(0.0)).alias("w1"),
    )


def rolling_distinct_kmv(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    window_days: int = 7,
    k: int = 256,
    seed: str = "kmv",
) -> DataFrame:
    """Trailing-window distinct counts — "7-day rolling unique users
    per key" — WITHOUT rescanning the window per day: one KMV sketch
    per (key, day), then each day's sketch is exploded to the <=
    ``window_days`` anchor days it contributes to and merged. A direct
    ``COUNT(DISTINCT)`` per window re-reads every row window_days
    times (at 10^12 rows, a 7x scan bill); here raw rows are touched
    ONCE (the day-sketch distinct shuffle) and everything after
    operates on O(keys x days) k-long sketch rows. The explode factor
    is the constant ``window_days``, on sketches, never on data.

    Output per (keys, day) — only days on which the key actually has
    rows (a silent day emits no row; ``sequence_gaps`` owns holes):
    ``day`` (BIGINT, floor(epoch_seconds/86400)), ``sketch_size``
    (int), ``distinct_exact`` (BIGINT while the trailing union stayed
    below ``k``, NULL once saturated), ``distinct_est`` (double,
    always; == exact in the unsaturated regime) — the
    ``stream_cardinality`` census contract, windowed.

    Same KMV algebra as the epoch monitor (union of k-smallest is the
    k-smallest of the union), so per-day sketch rows persisted at
    ingest answer ANY trailing window after the fact — re-merge with a
    different ``window_days`` without touching raw data."""
    keys = list(key_cols)
    missing = [
        c for c in keys + [ts_col, value_col] if c not in df.columns
    ]
    if missing:
        raise ValueError(
            f"rolling_distinct_kmv: frame lacks columns {missing}"
        )
    if int(window_days) < 1:
        raise ValueError(
            f"rolling_distinct_kmv: window_days must be >= 1, got "
            f"{window_days}"
        )
    clash = [
        c
        for c in ("__day", "__anchor", "__kmv", "__kmv_k", "__kmv_seed")
        if c in df.columns
    ]
    if clash:
        raise ValueError(
            f"rolling_distinct_kmv: input columns {clash} collide with "
            "internal working names — rename them"
        )
    w = int(window_days)
    dtype = dict(df.dtypes)[ts_col]
    c = F.col(ts_col)
    sec = (
        F.unix_micros(c.cast("timestamp_ltz")) / F.lit(1000000.0)
        if dtype.startswith("timestamp")
        else c.cast("double")
    )
    base = df.where(c.isNotNull()).withColumn(
        "__day", F.floor(sec / F.lit(86400.0)).cast("long")
    )
    day_sketch = kmv_partition_sketch(
        base, value_col, keys + ["__day"], k=k, seed=seed
    )
    contributed = day_sketch.select(
        *keys,
        F.explode(
            F.sequence(F.col("__day"), F.col("__day") + F.lit(w - 1))
        ).alias("__anchor"),
        "__kmv",
        "__kmv_k",
        "__kmv_seed",
    )
    merged = kmv_merge(contributed, keys + ["__anchor"])
    # only anchors where the key actually has rows that day: a sketch
    # contributing FORWARD must not invent activity on silent days
    active = day_sketch.select(*keys, F.col("__day").alias("__anchor"))
    out = kmv_estimate(
        _nullsafe_equi_join_sketch(merged, active, keys + ["__anchor"])
    )
    return out.select(
        *keys,
        F.col("__anchor").alias("day"),
        "sketch_size",
        F.when(
            F.col("sketch_size") < F.col("__kmv_k"),
            F.col("sketch_size").cast("long"),
        ).alias("distinct_exact"),
        "distinct_est",
    )


def _nullsafe_equi_join_sketch(
    left: DataFrame, right: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Null-safe inner semi-join keeping the left frame's columns —
    NULL key values are ordinary values here (a NULL key's rolling
    count is as real as any other's), the temporal module's `<=>`
    discipline."""
    cond = None
    r = right
    for c in cols:
        r = r.withColumnRenamed(c, f"__r_{c}")
    for c in cols:
        t = left[c].eqNullSafe(r[f"__r_{c}"])
        cond = t if cond is None else (cond & t)
    # left_semi never duplicates left rows, so no dedup of the probe side
    return left.join(r, cond, "left_semi")


def column_checksums(
    df: DataFrame,
    cols: Sequence[str],
    id_cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-COLUMN content checksums — the localization step after
    :func:`checksum_diff` says a partition moved: one more O(groups x
    columns) frame pins WHICH column changed, so the incremental
    re-validation can rerun just that column's profile/checks instead
    of the partition's whole bundle. Each lane hashes (id columns,
    value) per row, so a value MOVING between rows of the same column
    is visible, not just multiset changes; all four lanes and their
    algebra are exactly :func:`table_checksum`'s, which means
    :func:`checksum_diff` consumes this output unchanged with
    ``group_cols=[*groups, "column"]``.

    One scan for ALL columns: each row renders every column's
    (id, value) md5 in a single projection, melts via ``stack`` into
    (column, lanes) rows — a narrow map — and ONE groupBy aggregates
    every (group, column) cell. Same exact-rendering type fence as
    table_checksum (floats/timestamps must be cast to exact forms
    first), same 10^12-row lane-overflow headroom."""
    keys = list(group_cols)
    ids = list(id_cols)
    cs = list(cols)
    if not cs:
        raise ValueError("column_checksums: cols must be non-empty")
    if not ids:
        raise ValueError(
            "column_checksums: id_cols must be non-empty — without row "
            "identity a value moving between rows is invisible"
        )
    dt = dict(df.dtypes)
    for c in cs + ids + keys:
        if c not in df.columns:
            raise ValueError(f"column_checksums: column {c!r} missing")
    bad = [
        (c, dt[c])
        for c in cs + ids
        if not (dt[c] in _CHECKSUM_EXACT or dt[c].startswith("varchar")
                or dt[c].startswith("char"))
    ]
    if bad:
        raise ValueError(
            "column_checksums: columns with engine-dependent string "
            f"rendering {bad} — cast to an exact form first (timestamp "
            "-> unix_micros(ts), double -> CAST(x*10^k AS LONG))"
        )
    if "column" in keys or "column" in ids:
        raise ValueError(
            "column_checksums: 'column' is the output melt name — "
            "rename the input column"
        )
    proj = list(keys)
    stack_args = []
    for i, c in enumerate(cs):
        h = row_fingerprint(ids + [c])
        proj.append(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias(f"__lo{i}")
        )
        proj.append(
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias(f"__hi{i}")
        )
        proj.append(
            (
                F.conv(F.substring(h, 17, 8), 16, 10).cast("long")
                % F.lit(1048576)
            ).alias(f"__md{i}")
        )
        stack_args.append(f"'{c}', __lo{i}, __hi{i}, __md{i}")
    melted = df.select(*proj).select(
        *keys,
        F.expr(
            f"stack({len(cs)}, {', '.join(stack_args)}) "
            "AS (column, __lo, __hi, __md)"
        ),
    )
    return melted.groupBy(*keys, "column").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(__lo)").alias("xor_lo"),
        F.expr("bit_xor(__hi)").alias("xor_hi"),
        F.sum("__md").alias("sum_mod"),
    )
