"""Single-pass distributed column profiling.

The reference profiles one column at a time with ~6-8 Spark actions per
column over cached data (reference: spark/spark_field_analyzer.py:39-53,
107-123 — null-count job, count job, distinct job, min/max job, two
example jobs, then a sample collect for pattern detection). At 10^12
rows that is O(columns) full scans.

This engine fuses EVERYTHING into:

  JOB 1: one ``df.agg(...)`` computing, for every column at once:
         count, null-count, distinct (exact or HLL), numeric
         min/max/mean/stddev, string length bounds and prefix/suffix
         probes. All of these are DeclarativeAggregates → partial
         (map-side) aggregation + one final reduce; a single scan
         regardless of column count, fully inside whole-stage codegen.

  JOB 2: one melted ``groupBy(col, val)`` pass producing top-k frequent
         values and exact distinct counts for all columns together (one
         shuffle total, vs one groupBy job per column in the
         reference). It also carries the 17 named-pattern match counts
         of the melted string columns: each regex runs once per
         distinct value, weighted by its count, instead of once per
         row.

A string column the melt does not carry (a high-cardinality one in
``"auto"`` mode) gets the per-row 17-regex sweep as one column-pruned
aggregate after JOB 1; when no melt runs at all, that sweep rides JOB 1.
Per-partition profiles (north rule) reuse JOB 1 with ``groupBy(keys)``,
and ``fused_stats_frame`` is JOB 1 with the per-row sweep.
"""

from __future__ import annotations

import datetime
import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandera_forge_spark.checks import quote_ident, sql_ident, sql_literal
from pandera_forge_spark.patterns import (
    NAMED_PATTERNS,
    PREFIX_SUFFIX_PROBE,
    pattern_ratio_exprs,
    pick_pattern,
)
from pandera_forge_spark.schema import ColumnProfile

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
ORDERED_EXTRA = (T.DateType, T.TimestampType, T.TimestampNTZType)

# Reference constants we preserve exactly.
ISIN_MAX_DISTINCT = 10  # collect ALL values when distinct <= 10 (field_analyzer.py:70)
TOP_K_EXAMPLES = 5  # else top-5 by frequency (field_analyzer.py:74, num_samples=5)


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, NUMERIC_TYPES)


def _is_string(dt: T.DataType) -> bool:
    return isinstance(dt, (T.StringType, T.VarcharType, T.CharType))


def _is_simple(dt: T.DataType) -> bool:
    """Types that can be melted to string for the shared top-k pass."""
    return not isinstance(dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))


def stat_exprs(
    df: DataFrame,
    columns: Sequence[str],
    exact_distinct: bool,
    detect_patterns: bool,
) -> list:
    """Build the fused aggregate-expression list for JOB 1: one
    ``F.expr`` over SQL text per aggregate (3 py4j round trips each;
    the same aggregate built node by node with the Column API cost
    ~10x that — see the checks module docstring)."""
    exprs = [F.expr("count(1) AS __total__")]
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    for c in columns:
        dt = dtypes[c]
        col = sql_ident(c)
        aggs = [(f"sum(CAST({col} IS NULL AS BIGINT))", "nulls")]
        if _is_simple(dt):
            d = f"count(DISTINCT {col})" if exact_distinct else f"approx_count_distinct({col})"
            aggs.append((d, "distinct"))
        if _is_numeric(dt):
            aggs += [
                (f"min({col})", "min"),
                (f"max({col})", "max"),
                (f"avg({col})", "mean"),
                (f"stddev({col})", "stddev"),
            ]
        elif isinstance(dt, ORDERED_EXTRA):
            aggs += [(f"min({col})", "min"), (f"max({col})", "max")]
        if _is_string(dt):
            s = f"CAST({col} AS STRING)"
            aggs += [(f"min(length({s}))", "minlen"), (f"max(length({s}))", "maxlen")]
            # prefix/suffix probes: if all non-null values share their
            # first (last) 3 chars, that substring IS the common
            # prefix/suffix (reference: pattern_detector.py:115-128).
            # min==max detects "exactly one distinct value" WITHOUT a
            # countDistinct — every countDistinct in a multi-distinct
            # agg adds an Expand group (row blow-up × #distinct-aggs
            # before partial agg), which measured 3-6x slower here.
            pre = f"substring({s}, 1, {PREFIX_SUFFIX_PROBE})"
            suf = f"substring({s}, -{PREFIX_SUFFIX_PROBE}, {PREFIX_SUFFIX_PROBE})"
            aggs += [
                (f"min({pre})", "pre_min"),
                (f"max({pre})", "pre_max"),
                (f"min({suf})", "suf_min"),
                (f"max({suf})", "suf_max"),
            ]
        exprs += [F.expr(f"{a} AS {quote_ident(f'{c}__{k}')}") for a, k in aggs]
        if detect_patterns and _is_string(dt):
            exprs += pattern_ratio_exprs(c)
    return exprs


def pattern_stat_exprs(df: DataFrame, columns: Sequence[str]) -> list:
    """Just the 17-regex pattern-ratio aggregates for the string columns
    of ``columns`` — split out of ``stat_exprs`` so the regex sweep can
    run over a bounded sample while the exact stats scan full data."""
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    exprs: list = []
    for c in columns:
        if _is_string(dtypes[c]):
            exprs += pattern_ratio_exprs(c)
    return exprs


PATTERN_SAMPLE_SEED = 42


def pattern_sweep_frame(
    df: DataFrame,
    columns: Sequence[str],
    total: int,
    pattern_sample: Optional[int] = None,
) -> DataFrame:
    """The per-row 17-regex sweep over the string columns of
    ``columns`` as one single-row aggregate (``pattern_stat_exprs``).
    The scan reads only those columns. With ``pattern_sample`` set and
    ``total`` rows above it, the sweep runs over a seeded Bernoulli
    sample of ~``pattern_sample`` rows instead."""
    s = df
    if pattern_sample is not None and total > pattern_sample:
        s = df.sample(False, pattern_sample / total, seed=PATTERN_SAMPLE_SEED)
    return s.agg(*pattern_stat_exprs(df, columns))


def fused_stats_frame(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    detect_patterns: bool = True,
    pattern_sample: Optional[int] = None,
) -> DataFrame:
    """The single-row stats frame of ``stat_exprs`` over every column,
    as an uncollected DataFrame (benchmarks, remote collection). It
    carries the per-row pattern sweep itself; ``profile_table`` moves
    that sweep onto the melt instead.

    With ``pattern_sample`` set, the 17-regex sweep — the single most
    expensive part of full-table profiling (rows x string-columns x 17
    regex evaluations for a statistic that only has to clear the 0.9
    threshold) — runs over a seeded Bernoulli sample of ~that many rows
    instead of the full table, cross-joined onto the full-scan exact
    stats (both are 1-row aggregates). This mirrors the reference's own
    behavior: it pattern-detects on a 10k-row sample
    (reference: spark/spark_generator.py:124-139), never the corpus."""
    columns = list(columns or df.columns)
    if detect_patterns and pattern_sample:
        base = df.agg(*stat_exprs(df, columns, False, False))
        dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
        if not any(_is_string(dtypes[c]) for c in columns):
            return base
        # count-star: parquet metadata, no row scan
        return base.crossJoin(pattern_sweep_frame(df, columns, df.count(), pattern_sample))
    return df.agg(*stat_exprs(df, columns, False, detect_patterns))


def _cast_back(value: Optional[str], dt: T.DataType):
    """Recover a typed example from its melted string form."""
    if value is None:
        return None
    try:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(value)
        if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            return float(value)
        if isinstance(dt, T.BooleanType):
            return value == "true"
        if isinstance(dt, T.DateType):
            return datetime.date.fromisoformat(value)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return datetime.datetime.fromisoformat(value)
    except ValueError:
        return value
    return value


def top_values(
    df: DataFrame,
    columns: Sequence[str],
    k: int = ISIN_MAX_DISTINCT,
) -> dict[str, list[tuple[str, int]]]:
    """JOB 2 — top-k frequent non-null values for many columns in ONE
    shuffle: melt to (col, val) pairs, groupBy, rank.

    Tie-break is deterministic: count desc, value asc (pandas
    ``value_counts`` tie order is appearance order — nondeterministic
    under distribution, so we define this total order; SURVEY.md §7
    "hard parts" #4).
    """
    tops, _, _ = top_values_and_distinct(df, columns, k)
    return tops


TOPK_SALT_BUCKETS = 64


def top_values_and_distinct(
    df: DataFrame,
    columns: Sequence[str],
    k: int = ISIN_MAX_DISTINCT,
    pattern_cols: Sequence[str] = (),
) -> tuple[dict[str, list[tuple[str, int]]], dict[str, int], dict[str, Optional[float]]]:
    """Shared melted pass producing top-k frequent values, the EXACT
    distinct count per column and the named-pattern ratios of the
    string columns in ``pattern_cols``, in one action.

    The ratios come keyed ``{col}__pat__{name}`` like the per-row sweep's
    aggregates, each ``Σ count·[val RLIKE rx] / Σ count`` over the
    column's distinct values: a sum of 0/1 matches is exact, so the
    quotient is the same double as the per-row ``avg``. A column with
    no non-null value gets NULL ratios, as ``avg`` gives.

    Scale design (a high-cardinality column like ``doc_id`` has ~all
    table rows as distinct values, so nothing may ever partition by
    ``col`` alone over the full distinct set):

    - top-k is TWO-PHASE over salted buckets: within each
      (col, salt-of-value) group, sort the bucket's (count desc, val
      asc) pairs and keep <=k — any global top-k value is top-k in its
      bucket, so the final merge of <= SALT*k survivors per column is
      exact. The same grouped pass counts each bucket's distinct
      values; the final per-col agg sums them. Ties break (count desc,
      val asc) at both levels — a total, deterministic order.
    - everything is ONE aggregation tree (melt -> (col,val) count ->
      (col,salt) partial top-k -> (col) merge): a single scan and a
      single action, every level partial-aggregatable, no windows (a
      window over ``col`` alone would funnel a high-cardinality
      column's entire distinct set through one task) and no self-join
      that would recompute the melt.

    This also means exact uniqueness never pays the Expand penalty of a
    fused multi-column ``countDistinct`` (one Expand group per distinct
    aggregate, multiplying input rows before partial agg — measured
    3-6x slower on wide tables).

    Sizing at warehouse scale: per-bucket state is
    O(distinct_per_col / TOPK_SALT_BUCKETS) structs held transiently
    for the sort; raise TOPK_SALT_BUCKETS proportionally to expected
    cardinality (or profile near-unique columns with the HLL path only
    — top-k of an almost-unique column is meaningless anyway).
    """
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    cols = [c for c in columns if _is_simple(dtypes[c])]
    pattern_cols = [c for c in pattern_cols if c in cols and _is_string(dtypes[c])]
    ratios: dict[str, Optional[float]] = {
        f"{c}__pat__{name}": None for c in pattern_cols for name in NAMED_PATTERNS
    }
    if not cols:
        return {}, {}, ratios
    final = topk_frame(df, cols, k, pattern_cols)
    out: dict[str, list[tuple[str, int]]] = {c: [] for c in cols}
    distinct: dict[str, int] = {c: 0 for c in cols}
    for row in final.collect():
        c = row["col"]
        distinct[c] = row["n_distinct"]
        out[c] = [(e["val"], -e["negcnt"]) for e in row["topk"]]
        if c in pattern_cols:
            nonnull = float(row["nonnull"])
            for name in NAMED_PATTERNS:
                ratios[f"{c}__pat__{name}"] = float(row[f"__pat__{name}"]) / nonnull
    return out, distinct, ratios


def topk_frame(
    df: DataFrame,
    cols: Sequence[str],
    k: int = ISIN_MAX_DISTINCT,
    pattern_cols: Sequence[str] = (),
) -> DataFrame:
    """The uncollected aggregation tree behind
    ``top_values_and_distinct``: one row per column with
    ``(col, n_distinct, topk: array<struct<negcnt,val>>, nonnull)``
    and, when ``pattern_cols`` is given, one ``__pat__{name}`` match
    count per named pattern (NULL for columns not in ``pattern_cols``).
    The regexes run in the salted partial aggregate, so once per
    distinct ``(col, val)``, never per row. Exposed so the engine path
    itself can be oracle-anchored and benchmarked as a DataFrame, not
    just via its collected dict form."""
    pairs = df.select(
        F.expr(
            "explode(array("
            + ", ".join(
                f"struct({sql_literal(c)} AS col, CAST({sql_ident(c)} AS STRING) AS val)"
                for c in cols
            )
            + ")) AS p"
        )
    ).select("p.col", "p.val")
    counts = pairs.where("val IS NOT NULL").groupBy("col", "val").count()
    pats: dict[str, str] = {}
    if pattern_cols:
        is_str = f"col IN ({', '.join(sql_literal(c) for c in pattern_cols)})"
        pats = {
            f"__pat__{name}": f"CASE WHEN {is_str} THEN "
            f"IF(val RLIKE {sql_literal('(?i)' + rx)}, `count`, 0) END"
            for name, rx in NAMED_PATTERNS.items()
        }

    # struct sorts field-wise ascending, so (-count, val) == count
    # desc, val asc
    partial = counts.groupBy(
        F.col("col"), F.expr(f"pmod(xxhash64(val), {TOPK_SALT_BUCKETS}) AS __salt")
    ).agg(
        F.expr("count(1) AS nd"),
        F.expr(
            "slice(array_sort(collect_list(struct(-`count` AS negcnt, val AS val))), "
            f"1, {int(k)}) AS cand"
        ),
        F.expr("sum(`count`) AS nonnull"),
        *[F.expr(f"sum({e}) AS {a}") for a, e in pats.items()],
    )
    return partial.groupBy("col").agg(
        F.expr("sum(nd) AS n_distinct"),
        F.expr(f"slice(array_sort(flatten(collect_list(cand))), 1, {int(k)}) AS topk"),
        F.expr("sum(nonnull) AS nonnull"),
        *[F.expr(f"sum({a}) AS {a}") for a in pats],
    )


def _none_if_nan(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


AUTO_SMALL_DOMAIN = 1000  # melt/exact threshold in "auto" mode
AUTO_UNIQUE_CANDIDATE = 0.9  # hll/total ratio that triggers verification


def profile_table(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    exact_distinct="auto",
    detect_patterns: bool = True,
    with_examples: bool = True,
    pattern_sample: Optional[int] = None,
) -> dict[str, ColumnProfile]:
    """Profile all (or selected) columns of ``df``.

    ``exact_distinct`` modes:

    - ``"auto"`` (default — the 100 TB path): JOB 1 gives HLL
      estimates; only columns the HLL says are SMALL-domain
      (<= AUTO_SMALL_DOMAIN) go through the melted pass for exact
      distinct counts + examples — the isin/examples rules only care
      about those — and columns the HLL flags as uniqueness candidates
      (>= 90% of rows distinct, no nulls) are settled with an exact
      duplicate-EXISTENCE check (``validator.has_duplicate_keys``,
      early-exit limit(1)). A near-unique column thus never pushes its
      full distinct set through a shuffle: the melt volume is bounded
      by AUTO_SMALL_DOMAIN x columns, and the verify is a groupBy that
      short-circuits. High-cardinality non-candidates keep HLL counts
      (``distinct_is_exact=False``) and get no examples.
    - ``True``: melt EVERY column for exact distinct counts + examples
      (test/oracle scale; exact-parity with the reference's semantics
      including top-5 examples for high-cardinality columns).
    - ``False``: HLL only, no verification — fastest single-pass;
      ``is_unique`` is then never claimed (estimates don't prove it).

    JOB 1 itself ALWAYS uses HLL: fusing 20+ ``countDistinct``s into
    one agg makes Catalyst plan an Expand that multiplies every input
    row by the number of distinct aggregates before partial
    aggregation.

    Pattern ratios (``detect_patterns``) are taken where they are
    cheapest. A string column that goes through the melt gets its 17
    ratios from the melt's ``(col, val, count)`` rows, each regex run
    once per distinct value (``topk_frame``); the quotient is the same
    double the per-row ``avg`` gives. Only string columns the melt does
    not carry get the per-row sweep: in ``"auto"`` mode those whose HLL
    estimate is above AUTO_SMALL_DOMAIN, as one more aggregate after
    JOB 1 whose scan reads only them (``pattern_sweep_frame``); with
    ``exact_distinct=False, with_examples=False`` no melt runs, and the
    sweep rides JOB 1 for every string column.

    ``pattern_sample``: when set, the per-row sweep runs over a seeded
    Bernoulli sample of ~that many rows (a second, tiny aggregation
    job) instead of the full data — the 100 TB detection path,
    mirroring the reference's own 10k-row pattern sample
    (reference: spark/spark_generator.py:124-139). Exact stats always
    stay full-data; only the >=0.9-threshold DETECTION is sampled, and
    only for string columns the melt does not carry: melted columns
    get exact full-data ratios at no extra cost. Default None keeps
    full-data detection (oracle-exact parity).
    """
    columns = list(columns or df.columns)
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    simple = [c for c in columns if _is_simple(dtypes[c])]
    strings = [c for c in columns if _is_string(dtypes[c])] if detect_patterns else []
    auto = exact_distinct == "auto"
    melts = auto or bool(exact_distinct) or with_examples

    # without a melt the per-row sweep rides JOB 1's scan
    sweep_in_job1 = bool(strings) and not melts and pattern_sample is None
    row = df.agg(*stat_exprs(df, columns, False, sweep_in_job1)).collect()[0]
    stats = row.asDict()
    total = stats["__total__"]

    if auto:
        melted = [c for c in simple if (stats.get(f"{c}__distinct") or 0) <= AUTO_SMALL_DOMAIN]
    else:
        melted = simple if melts else []
    swept = [] if sweep_in_job1 else [c for c in strings if c not in melted]
    if swept:
        stats.update(pattern_sweep_frame(df, swept, total, pattern_sample).collect()[0].asDict())

    tops: dict = {}
    exact_counts: dict = {}
    verified: dict[str, bool] = {}
    if melted:
        # in auto mode the melt runs regardless of with_examples: it
        # promises EXACT distinct counts for small domains (the isin
        # rule depends on them); the tops are simply dropped from the
        # output when examples weren't asked for
        tops, counts, ratios = top_values_and_distinct(df, melted, pattern_cols=strings)
        stats.update(ratios)
        if auto or exact_distinct:
            exact_counts = counts
            for c, n in counts.items():
                stats[f"{c}__distinct"] = n
    if auto:
        from pandera_forge_spark.validator import has_duplicate_keys

        for c in simple:
            if c in exact_counts:
                continue
            hll = stats.get(f"{c}__distinct")
            nulls = stats.get(f"{c}__nulls") or 0
            if (
                hll is not None
                and total > 0
                and nulls == 0
                and hll >= AUTO_UNIQUE_CANDIDATE * total
            ):
                verified[c] = not has_duplicate_keys(df, [c])

    profiles: dict[str, ColumnProfile] = {}
    for c in columns:
        dt = dtypes[c]
        col_exact = exact_distinct is True or (auto and c in exact_counts)
        p = ColumnProfile(
            name=c,
            spark_type=dt.simpleString(),
            total_count=total,
            null_count=stats.get(f"{c}__nulls") or 0,
            distinct_count=stats.get(f"{c}__distinct"),
            distinct_is_exact=col_exact,
            unique_verified=verified.get(c),
            min_value=_none_if_nan(stats.get(f"{c}__min")),
            max_value=_none_if_nan(stats.get(f"{c}__max")),
            mean=_none_if_nan(stats.get(f"{c}__mean")),
            stddev=_none_if_nan(stats.get(f"{c}__stddev")),
            min_length=stats.get(f"{c}__minlen"),
            max_length=stats.get(f"{c}__maxlen"),
        )
        if _is_string(dt):
            non_null = total - p.null_count
            # prefix/suffix only when the column has more than one
            # distinct value (reference: pattern_detector.py:113-115)
            if non_null > 0 and (p.distinct_count or 0) > 1:
                pre_min, pre_max = stats.get(f"{c}__pre_min"), stats.get(f"{c}__pre_max")
                if pre_min is not None and pre_min == pre_max:
                    p.starts_with = pre_min
                suf_min, suf_max = stats.get(f"{c}__suf_min"), stats.get(f"{c}__suf_max")
                if suf_min is not None and suf_min == suf_max:
                    p.ends_with = suf_min
            if detect_patterns and non_null > 0:
                ratios = {
                    name: stats.get(f"{c}__pat__{name}") for name in NAMED_PATTERNS
                }
                hit = pick_pattern(ratios)
                if hit:
                    p.pattern_name, p.pattern = hit
        if with_examples and c in tops:
            vals = tops[c]
            dist = p.distinct_count if p.distinct_count is not None else len(vals)
            # all distinct values when <=10, else top-5 by frequency
            # (reference: field_analyzer.py:63-76)
            keep = vals if dist <= ISIN_MAX_DISTINCT else vals[:TOP_K_EXAMPLES]
            p.examples = [_cast_back(v, dt) for v, _ in keep]
        profiles[c] = p
    return profiles


def profile_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    columns: Optional[Sequence[str]] = None,
    exact_distinct: bool = False,
    detect_patterns: bool = False,
) -> DataFrame:
    """Per-partition profiles (north rule): the same fused stat
    expressions grouped by the partition key. Returns a DataFrame with
    one row per group — stays distributed, nothing is collected.

    Hash aggregation with map-side partial combine; AQE coalesces the
    post-shuffle partitions. Skewed partition keys are fine here because
    every stat is algebraic (partial-aggregatable).
    """
    columns = list(columns or [c for c in df.columns if c not in set(group_cols)])
    exprs = stat_exprs(df, columns, exact_distinct, detect_patterns)
    return df.groupBy(*[F.col(g) for g in group_cols]).agg(*exprs)


def bucket_expr(col, edges: Sequence[float]):
    """width_bucket-style bucket id for explicit ascending ``edges``:
    0 for x < edges[0], i for edges[i-1] <= x < edges[i], len(edges)
    for x >= edges[-1]. Pure column algebra (a sum of casts), so it
    compiles into whole-stage codegen and partial-aggregates."""
    b = F.lit(0)
    for e in edges:
        b = b + (col >= F.lit(e)).cast("int")
    return b


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations for the given numeric columns —
    the cross-column drift/sanity signal (a price column decorrelating
    from quantity is a pipeline bug even when both pass their
    univariate checks).

    ONE aggregation computing all C(n,2) corr() cells (each an
    algebraic moment aggregate, map-side combined — no per-pair scans,
    no MLlib assembler detour), then the 1-row result is exploded to
    long form (col_a, col_b, corr). Cost is a single scan regardless
    of pair count; n² expression cells are fine for the tens of
    numeric columns a real table has."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    # corr() itself raises DIVIDE_BY_ZERO under ANSI when a column is
    # constant; build it from covar_samp / (stddev·stddev) with
    # try_divide so degenerate pairs yield NULL instead of aborting
    # the whole profile job. Identical value elsewhere (both are the
    # sample Pearson estimator).
    exprs = []
    for a, b in pairs:
        ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
        exprs.append(
            F.try_divide(
                F.covar_samp(ca, cb), F.stddev_samp(ca) * F.stddev_samp(cb)
            ).alias(f"{a}__{b}")
        )
    row = df.agg(*exprs)
    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(F.col(f"{a}__{b}"), 6).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return row.select(F.explode(structs).alias("p")).select("p.*")


def entropy_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Shannon entropy (bits) of each column's value distribution —
    the cardinality-quality signal the plain distinct count misses: a
    column that is 99.9% one value and 0.1% long tail has high distinct
    count but near-zero entropy, which is how template boilerplate and
    collapsed upstream joins show up in a training corpus.

    One melt (explode of (column, value) structs, nulls excluded) into
    one ``groupBy(column, value).count`` shuffle for ALL columns, then
    an O(distinct)-row reduce using the single-pass identity
    ``H = log2(N) - Σ c·log2(c) / N`` — no per-column scans, no
    second pass for N. Output: (column, n_values, distinct_count,
    entropy)."""
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("m")
    ).select("m.*")
    counts = (
        melted.where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = counts.groupBy("column").agg(
        F.sum("cnt").alias("n_values"),
        F.count(F.lit(1)).alias("distinct_count"),
        F.round(
            F.log2(F.sum("cnt"))
            - F.sum(F.col("cnt") * F.log2("cnt")) / F.sum("cnt"),
            6,
        ).alias("entropy"),
    )
    # an entirely-null column produces NO melted rows, so without a
    # seed it would vanish from the output — the dead-extractor
    # pathology this profiler exists to surface. Left-join the column
    # list back in: such columns report n_values=0, distinct 0,
    # entropy NULL.
    seed = df.sparkSession.createDataFrame(
        [(c,) for c in cols], "`column` string"
    )
    return seed.join(agg, "column", "left").select(
        "column",
        F.coalesce(F.col("n_values"), F.lit(0)).alias("n_values"),
        F.coalesce(F.col("distinct_count"), F.lit(0)).alias("distinct_count"),
        F.col("entropy"),
    )


def null_correlation(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Co-missingness matrix: for every column pair, how often the two
    are null TOGETHER vs separately — nulls that travel in packs mean
    one upstream failure (a dropped join, a dead extractor), not
    independent noise, and per-column null-rate checks can't see that.

    ONE aggregation over all C(n,2) pairs (each cell three conditional
    counts — algebraic, map-side combined), exploded to long form
    (col_a, col_b, nulls_a, nulls_b, both_null, null_jaccard) where
    ``null_jaccard = both / (a + b - both)`` (NULL when no nulls at
    all)."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    exprs = [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"__n_{c}") for c in cols
    ]
    for a, b in pairs:
        exprs.append(
            F.count(
                F.when(F.col(a).isNull() & F.col(b).isNull(), 1)
            ).alias(f"__b_{a}__{b}")
        )
    row = df.agg(*exprs)
    structs = []
    for a, b in pairs:
        both = F.col(f"__b_{a}__{b}")
        na, nb = F.col(f"__n_{a}"), F.col(f"__n_{b}")
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                na.alias("nulls_a"),
                nb.alias("nulls_b"),
                both.alias("both_null"),
                F.round(
                    F.try_divide(both, (na + nb - both).cast("double")), 6
                ).alias("null_jaccard"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def quantile_profile(
    df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float] = (0.01, 0.25, 0.5, 0.75, 0.99),
    exact: bool = False,
    relative_error: float = 0.001,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile table for numeric columns, optionally per group —
    the distribution fingerprint drift baselines and SLA checks read.
    Output: (group_cols…, column, prob, value).

    One aggregation: each column contributes a single array-returning
    percentile cell (``approx_percentile`` = mergeable KLL-style
    sketch, the at-scale default; ``exact=True`` = interpolating exact
    percentile for oracle parity at test scale), then arrays are
    zipped with their probs and exploded to long form — O(cols·probs)
    result rows, never a second scan."""
    plist = [float(p) for p in probs]
    pcol = F.array(*[F.lit(p) for p in plist])
    aggs = []
    for c in cols:
        col = F.col(c).cast("double")
        if exact:
            aggs.append(F.percentile(col, pcol).alias(f"__q_{c}"))
        else:
            aggs.append(
                F.approx_percentile(
                    col, pcol, F.lit(int(1 / relative_error))
                ).alias(f"__q_{c}")
            )
    row = df.groupBy(*group_cols).agg(aggs[0], *aggs[1:])
    structs = []
    for c in cols:
        for i, p in enumerate(plist):
            structs.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(p).alias("prob"),
                    F.round(F.col(f"__q_{c}")[i], 6).alias("value"),
                )
            )
    return row.select(
        *group_cols, F.explode(F.array(*structs)).alias("p")
    ).select(*group_cols, "p.*")


def histogram(
    df: DataFrame, col, edges: Sequence[float], group_cols: Sequence[str] = ()
) -> DataFrame:
    """Histogram of an arbitrary numeric expression over explicit bin
    edges — the distribution summary a curation run publishes per
    corpus slice (token-length histograms size training buckets;
    per-partition histograms feed the PSI drift check).

    One hash aggregation keyed on (group_cols…, bucket): count + min +
    max per bin, all algebraic, map-side combined — the shuffle carries
    at most |groups|·(len(edges)+1) rows regardless of input size.
    Null inputs are dropped (no bucket). Bins follow ``bucket_expr``.
    """
    col = F.col(col) if isinstance(col, str) else col
    keys = [*group_cols, bucket_expr(col, edges).alias("bucket")]
    return (
        df.where(col.isNotNull())
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
        )
    )


# First-significant-digit probabilities under Benford's law,
# P(d) = log10(1 + 1/d) — computed ONCE in Python so the Spark plan
# and any SQL oracle embed bit-identical double literals.
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

# chi-square critical value at alpha=0.05 with 8 degrees of freedom
# (9 digit bins - 1) — the conventional conformance cut.
BENFORD_CHI2_CRIT = 15.507


def benford_profile(
    df: DataFrame, cols: Sequence[str], threshold: float = BENFORD_CHI2_CRIT
) -> DataFrame:
    """Benford's-law conformance per numeric column — the first-digit
    screen auditors run on financial columns and data engineers run on
    anything that should be organically generated: fabricated,
    truncated, or unit-mangled numerics flunk it loudly (and genuinely
    uniform synthetic data SHOULD flunk it — the chi² statistic is the
    signal either way).

    The first significant digit comes from ``regexp_extract(cast(x as
    string), '[1-9]')`` — string-based on purpose: both Spark and
    DuckDB print round-trip decimal reprs, and two round-trip reprs of
    the same double cannot differ in their leading significant digit,
    so the extraction is engine-exact without any log10/pow float
    hazard. Zeros and nulls carry no digit and drop out.

    One melt → one ``groupBy(column, digit)`` shuffle for ALL columns,
    then a 9-digit seed LEFT JOIN so absent digits contribute their
    full expected mass ``n·p_d`` to chi²; per-digit terms are
    quantized to integer micro-units before the final sum, so the
    statistic (and the conforms verdict at the threshold) is exact
    integer arithmetic — engine- and partitioning-independent. The
    reduce carries O(|cols| · 9) rows regardless of input size.

    Output: ``(column, n, chi2, conforms)``.
    """
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.regexp_extract(
                            F.col(c).cast("string"), "[1-9]", 0
                        ).alias("digit"),
                    )
                    for c in cols
                ]
            )
        ).alias("m")
    ).select("m.*")
    counts = (
        melted.where(F.col("digit") != "")
        .groupBy("column", "digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seed = df.sparkSession.createDataFrame(
        [(c, str(d)) for c in cols for d in range(1, 10)],
        "`column` string, digit string",
    )
    full = seed.join(counts, ["column", "digit"], "left").select(
        "column",
        "digit",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
    )
    # per-column n first (exact int), then the per-digit chi² term —
    # the n join-back is O(|cols|) rows, broadcast
    totals = full.groupBy("column").agg(F.sum("cnt").alias("n"))
    p = F.element_at(
        F.create_map(
            *[x for d in range(1, 10) for x in (F.lit(str(d)), F.lit(BENFORD_P[d]))]
        ),
        F.col("digit"),
    )
    expected = F.col("n") * p
    term_micro = F.floor(
        (F.col("cnt") - expected) * (F.col("cnt") - expected) / expected * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    per_digit = full.join(F.broadcast(totals), "column").where(F.col("n") > 0)
    scored = (
        per_digit.select("column", "n", term_micro.alias("__t"))
        .groupBy("column", "n")
        .agg(F.sum("__t").alias("__s"))
        .select(
            "column",
            "n",
            (F.col("__s") / F.lit(1000000.0)).alias("chi2"),
            (F.col("__s") <= F.lit(int(round(threshold * 1000000))))
            .alias("conforms"),
        )
    )
    # an entirely null/zero column has no digits at all (n=0, filtered
    # above to dodge the 0/0 expected) — seed it back so it reports
    # (n=0, chi2 NULL, conforms NULL) instead of vanishing, same
    # convention as entropy_profile
    col_seed = df.sparkSession.createDataFrame(
        [(c,) for c in cols], "`column` string"
    )
    return col_seed.join(scored, "column", "left").select(
        "column",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "chi2",
        "conforms",
    )


def cube_profile(
    df: DataFrame,
    dims: Sequence[str],
    metric_cols: Sequence[str],
    mode: str = "cube",
    distinct_cols: Sequence[str] = (),
) -> DataFrame:
    """Multi-dimensional quality profile in ONE pass: row count, per-
    metric null count and min/max for EVERY combination of the profile
    dimensions — the data-quality dashboard query ("rows and null rates
    by (source x lang), by source alone, by lang alone, and overall")
    that would otherwise be 2^d separate groupBy scans. The reference
    profiles one flat table with no dimensional breakdown at all
    (spark/spark_generator.py:76-79 loops columns, never groups); this
    is the north-rule per-partition profile generalized to the full
    lattice.

    ``mode='cube'`` materializes all 2^d grouping sets,
    ``mode='rollup'`` the d+1 hierarchical prefixes (drill-down paths
    like (year, month, day)). Each output row carries one
    ``<dim>_grouped`` flag per dimension (1 = the dimension is
    aggregated away in this cell) — REQUIRED to disambiguate a real
    NULL dimension value from the aggregated-away NULL, exactly the
    SQL GROUPING() function on both engines.

    ``distinct_cols`` opts into exact per-cell distinct counts — the
    one non-algebraic statistic here (Spark rewrites it as an expand +
    two-phase aggregate; still distributed, but it shuffles the
    distinct values where the base profile moves only partial-agg
    states). Leave it empty on the hot path.

    Scale: one scan; the Expand operator replicates each input row
    once per grouping set BEFORE partial aggregation (2^d x rows map
    output for cube — hence the d <= 6 fence; rollup is only d+1), and
    every statistic is algebraic, so each task emits one state row per
    populated cell and the exchange carries O(cells), never O(rows).
    A skewed dimension value is leveled by the same map-side combine
    as any hash aggregate."""
    dims = list(dims)
    metrics = list(metric_cols)
    if not dims:
        raise ValueError("dims must be non-empty")
    if mode not in ("cube", "rollup"):
        raise ValueError(f"mode must be 'cube' or 'rollup', got {mode!r}")
    if mode == "cube" and len(dims) > 6:
        raise ValueError(
            f"cube over {len(dims)} dims materializes 2^{len(dims)} "
            "grouping sets and replicates every input row that many "
            "times before aggregation — profile fewer dims at once or "
            "use mode='rollup' (d+1 sets)"
        )
    generated = [f"{d}_grouped" for d in dims] + ["rows"]
    for m in metrics:
        generated += [f"{m}_nulls", f"{m}_min", f"{m}_max"]
    for c in distinct_cols:
        generated.append(f"{c}_distinct")
    clash = [c for c in generated if c in df.columns]
    if clash:
        raise ValueError(
            f"cube_profile output names {clash} collide with input "
            "columns — rename them"
        )
    aggs = [F.grouping(d).cast("int").alias(f"{d}_grouped") for d in dims]
    aggs.append(F.count(F.lit(1)).alias("rows"))
    for m in metrics:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(m))).alias(f"{m}_nulls"))
        aggs.append(F.min(F.col(m)).alias(f"{m}_min"))
        aggs.append(F.max(F.col(m)).alias(f"{m}_max"))
    for c in distinct_cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}_distinct"))
    grouped = df.cube(*dims) if mode == "cube" else df.rollup(*dims)
    return grouped.agg(*aggs)


def _count_if(cond) -> "F.Column":
    """``SUM(CASE WHEN cond THEN 1 ELSE 0 END)`` — the fused-aggregate
    conditional counter shared by the census-style profilers (NULL
    conditions count as 0, matching SQL CASE)."""
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))


def _joint_marginals(
    df: DataFrame, col_a: str, col_b: str, include_nulls: bool
) -> DataFrame:
    """Shared association kernel: the populated joint cells of
    ``(col_a, col_b)`` with both marginals and the total attached —
    ``(__a, __b, __cab, __ca, __cb, __n)``. One ``groupBy(a, b)``
    shuffle over raw rows (map-side combined); marginals derive FROM
    the joint under RENAMED keys (same-name refs across a self-derived
    frame resolve to one attribute) and re-attach as broadcasts; the
    total is a 1-row broadcast stats frame (an unpartitioned window
    would drag every cell of a high-cardinality pair into one task).
    Backs :func:`mutual_information` and :func:`association_pairs`."""
    base = df.select(
        F.col(col_a).cast("string").alias("__a"),
        F.col(col_b).cast("string").alias("__b"),
    )
    if not include_nulls:
        base = base.where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    joint = base.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__cab"))
    ma = joint.groupBy(F.col("__a").alias("__ka")).agg(
        F.sum("__cab").alias("__ca")
    )
    mb = joint.groupBy(F.col("__b").alias("__kb")).agg(
        F.sum("__cab").alias("__cb")
    )
    nrow = joint.agg(F.sum("__cab").alias("__n"))
    return (
        joint.join(F.broadcast(ma), F.col("__a").eqNullSafe(F.col("__ka")))
        .drop("__ka")
        .join(F.broadcast(mb), F.col("__b").eqNullSafe(F.col("__kb")))
        .drop("__kb")
        .crossJoin(F.broadcast(nrow))
    )


def mutual_information(
    df: DataFrame,
    cols: Sequence[str],
    include_nulls: bool = True,
) -> DataFrame:
    """Pairwise mutual information (nats) between categorical columns —
    the association measure the profiler family is missing between
    ``correlation_matrix`` (numeric-linear) and ``null_correlation``
    (missingness): MI catches ANY dependence between discrete columns
    (a lang column that is a pure function of source, a redundant
    pre-joined attribute, a leaking label), which is exactly what
    functional-dependency discovery (``fd_source_lang``) screens for
    with a harder yes/no — MI grades the strength.

    One row per unordered column pair: ``(col_a, col_b, n, cells,
    mi_micro, mi_nats)`` where ``cells`` is the populated joint-cell
    count. ``include_nulls=True`` (default) treats NULL as a real
    category on both axes (co-missingness is dependence too);
    ``False`` drops rows where either side is NULL — n then differs
    per pair.

    Engine-exact: each joint cell's term ``(c_ab/n) * (ln c_ab + ln n
    - ln c_a - ln c_b)`` is quantized to MICRO-NAT longs before the
    cross-cell sum (floor(x*1e6 + 0.5) — the lm_score discipline), so
    the total is an order-independent integer and replays bit-identically;
    ``mi_nats = mi_micro / 1e6``. The log-sum form never materializes
    ``n * c_ab`` (which would overflow BIGINT at 10^12 rows).

    Scale: per pair, ONE ``groupBy(a, b)`` shuffle over the joint cells
    (map-side combine reduces each task to its populated cells);
    marginals and the final reduce run over the O(cells) counts frame,
    never the raw rows. Pairs are independent jobs — profile the
    suspicious pairs, not all m²."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("mutual_information needs at least two columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    outs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            a, b = cols[i], cols[j]
            cells = _joint_marginals(df, a, b, include_nulls)
            n = F.col("__n")
            term = (F.col("__cab").cast("double") / n.cast("double")) * (
                F.log(F.col("__cab").cast("double"))
                + F.log(n.cast("double"))
                - F.log(F.col("__ca").cast("double"))
                - F.log(F.col("__cb").cast("double"))
            )
            per_cell = cells.select(
                F.col("__cab"),
                F.floor(term * F.lit(1000000.0) + F.lit(0.5))
                .cast("long")
                .alias("__tq"),
            )
            outs.append(
                per_cell.agg(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.coalesce(F.sum("__cab"), F.lit(0)).alias("n"),
                    F.count(F.lit(1)).alias("cells"),
                    # coalesce: a pair with zero surviving rows (all
                    # NULL under include_nulls=False) is MI 0, not NULL
                    F.coalesce(
                        F.sum("__tq"), F.lit(0).cast("long")
                    ).alias("mi_micro"),
                ).select(
                    "col_a",
                    "col_b",
                    "n",
                    "cells",
                    "mi_micro",
                    (F.col("mi_micro").cast("double") / F.lit(1000000.0)).alias(
                        "mi_nats"
                    ),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def concentration_profile(
    df: DataFrame,
    key_col: str,
    top_ks: Sequence[int] = (1, 10, 100),
    eager: bool = True,
) -> DataFrame:
    """Key-concentration audit: what share of rows the top-k keys own,
    plus the exact Gini coefficient of the rows-per-key distribution —
    the "is this corpus 40% one domain" check a curation pipeline runs
    before `per_domain_cap` decides its cap, and the inequality measure
    that a drifting crawler frontier moves long before any per-key
    top-k list changes.

    Output is long-form, one row per metric: ``(metric, k, n_rows,
    n_keys, covered_rows, value_micro, value)`` — a ``topk_share`` row
    per requested k (``covered_rows`` = rows owned by the top-k keys,
    ties at the boundary broken by key ASC NULLS FIRST so the cut is
    total-ordered) and one ``gini`` row (k/covered_rows NULL). NULL is
    a real key (un-attributed rows concentrate too).

    Engine-exact: every aggregate is an integer; the only float ops are
    one division (or the Gini rational) over two exact integers followed
    by the shared floor(x*1e6+0.5) micro-quantization, so ``value_micro``
    replays bit-identically. Gini comes from the frequency-of-frequencies
    identity: with ``f_v`` keys having exactly ``v`` rows and ``start_v``
    keys having fewer, the ascending rank-weighted sum is
    ``S = sum_v v*(f_v*start_v + f_v*(f_v+1)/2)`` and
    ``G = (2S - (n_keys+1)*n_rows) / (n_keys*n_rows)``.

    Scale: ONE groupBy(key) shuffle over raw rows (map-side combined);
    everything downstream runs on the O(distinct keys) counts frame —
    top-k cuts are sort-limit (per-partition top-k, no global sort) and
    the Gini window orders the frequency-of-frequencies frame, whose
    size is the number of DISTINCT COUNT VALUES (Zipf corpora: a few
    thousand rows even at 10^12 docs), not the key count. The S terms
    are summed as decimal(38,0) — exact past BIGINT's ceiling, since
    ``v*f_v*start_v`` can reach ~1e28 at 10^12 rows — then converted to
    double once.

    ``eager=True`` (default) persists the counts frame, materializes
    the result via an eager localCheckpoint, and unpersists — the
    metric branches (totals, each top-k cut, the Gini sum) all reuse
    ONE groupBy instead of each rescanning raw rows. ``eager=False``
    returns the lazy plan (plan inspection / caller-managed caching)."""
    from pyspark.sql import Window

    top_ks = [int(k) for k in top_ks]
    if not top_ks or any(k <= 0 for k in top_ks):
        raise ValueError("top_ks must be positive ints")
    if key_col not in df.columns:
        raise ValueError(f"column not in frame: {key_col}")

    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    if eager:
        counts = counts.persist()
    try:
        totals = counts.agg(
            F.coalesce(F.sum("__c"), F.lit(0)).alias("__n_rows"),
            F.count(F.lit(1)).alias("__n_keys"),
        )

        def _quant(expr):
            return F.floor(expr * F.lit(1000000.0) + F.lit(0.5)).cast("long")

        outs = []
        for k in top_ks:
            top = (
                counts.orderBy(F.col("__c").desc(), F.col("__k").asc())
                .limit(k)
                .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__covered"))
            )
            share = F.col("__covered").cast("double") / F.col(
                "__n_rows"
            ).cast("double")
            outs.append(
                top.crossJoin(F.broadcast(totals)).select(
                    F.lit("topk_share").alias("metric"),
                    F.lit(k).alias("k"),
                    F.col("__n_rows").alias("n_rows"),
                    F.col("__n_keys").alias("n_keys"),
                    F.col("__covered").alias("covered_rows"),
                    _quant(share).alias("value_micro"),
                    (_quant(share).cast("double") / F.lit(1000000.0)).alias(
                        "value"
                    ),
                )
            )

        freq = counts.groupBy(F.col("__c").alias("__v")).agg(
            F.count(F.lit(1)).alias("__f")
        )
        w = (
            Window.orderBy(F.col("__v").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        dec = "decimal(38,0)"
        terms = freq.withColumn(
            "__start", F.coalesce(F.sum("__f").over(w), F.lit(0))
        ).select(
            (
                F.col("__v").cast(dec)
                * (
                    F.col("__f").cast(dec) * F.col("__start").cast(dec)
                    + (
                        F.col("__f").cast(dec)
                        * (F.col("__f").cast(dec) + F.lit(1).cast(dec))
                        / F.lit(2).cast(dec)
                    ).cast(dec)
                )
            ).alias("__term")
        )
        s = terms.agg(
            F.coalesce(F.sum("__term"), F.lit(0).cast(dec)).alias("__s")
        )
        gini = (
            F.lit(2.0) * F.col("__s").cast("double")
            - (F.col("__n_keys") + F.lit(1)).cast("double")
            * F.col("__n_rows").cast("double")
        ) / (
            F.col("__n_keys").cast("double") * F.col("__n_rows").cast("double")
        )
        outs.append(
            s.crossJoin(F.broadcast(totals)).select(
                F.lit("gini").alias("metric"),
                F.lit(None).cast("int").alias("k"),
                F.col("__n_rows").alias("n_rows"),
                F.col("__n_keys").alias("n_keys"),
                F.lit(None).cast("long").alias("covered_rows"),
                _quant(gini).alias("value_micro"),
                (_quant(gini).cast("double") / F.lit(1000000.0)).alias(
                    "value"
                ),
            )
        )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        if eager:
            # materialize before unpersist so callers get computed rows
            out = out.localCheckpoint(eager=True)
    finally:
        if eager:
            counts.unpersist()
    return out


def association_pairs(
    df: DataFrame,
    col_a: str,
    col_b: str,
    min_support: int = 2,
    top_n: int = 20,
    include_nulls: bool = True,
) -> DataFrame:
    """Value-level association (lift) between two categorical columns —
    the drill-down companion of :func:`mutual_information`: MI says the
    columns are dependent, this names WHICH value pairs drive it
    (``lift = P(a,b) / (P(a)·P(b))``; lift 8 on (source, lang) means
    docs from that source are 8× as likely to be that language as
    independence predicts — a crawl-routing artifact, a mislabeled
    feed, a leaking join).

    One row per surviving cell: ``(val_a, val_b, n_ab, n_a, n_b, n,
    lift_micro, lift)``, cells with ``n_ab < min_support`` dropped
    (singleton cells always have inflated lift), then the ``top_n``
    by lift — ties broken (lift_micro DESC, val_a ASC NULLS FIRST,
    val_b ASC NULLS FIRST) so the cut is total-ordered and replays
    exactly. ``include_nulls`` as in :func:`mutual_information`.

    Engine-exact: lift is computed as ``(n_ab·n) / (n_a·n_b)`` in
    doubles (each product ≤ 1e24 at 10^12 rows — exact-integer inputs,
    deterministic IEEE ops in a fixed order) and micro-quantized with
    the shared floor(x·1e6+0.5) kernel; ``lift = lift_micro / 1e6``.

    Scale: identical to :func:`mutual_information` — ONE
    ``groupBy(a, b)`` shuffle over raw rows (map-side combined),
    marginals/total derived from the O(cells) frame and broadcast
    back, and the top-n cut is a sort-limit over the support-filtered
    cells, never a global sort."""
    for c in (col_a, col_b):
        if c not in df.columns:
            raise ValueError(f"column not in frame: {c}")
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    # shared kernel with mutual_information; the support filter runs on
    # the assembled cells frame, AFTER the marginal sums (marginals
    # must count filtered-out singleton cells too)
    cells = _joint_marginals(df, col_a, col_b, include_nulls).where(
        F.col("__cab") >= F.lit(int(min_support))
    )
    lift = (
        F.col("__cab").cast("double") * F.col("__n").cast("double")
    ) / (F.col("__ca").cast("double") * F.col("__cb").cast("double"))
    out = cells.select(
        F.col("__a").alias("val_a"),
        F.col("__b").alias("val_b"),
        F.col("__cab").alias("n_ab"),
        F.col("__ca").alias("n_a"),
        F.col("__cb").alias("n_b"),
        F.col("__n").alias("n"),
        F.floor(lift * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("lift_micro"),
    ).withColumn(
        "lift", F.col("lift_micro").cast("double") / F.lit(1000000.0)
    )
    return out.orderBy(
        F.col("lift_micro").desc(),
        F.col("val_a").asc_nulls_first(),
        F.col("val_b").asc_nulls_first(),
    ).limit(int(top_n))


def string_hygiene_report(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Dirty-string census — the pre-tokenization hygiene audit: per
    column, how many values carry leading/trailing spaces (``trim``
    semantics: the space character only — a leading tab counts as
    control, not untrimmed; Spark and ANSI TRIM agree), are
    empty, are whitespace-only, contain control characters, collapse
    under double-space removal, or leave ASCII. These are the defects
    that silently split tokens, break exact-dedup keys (`" x" != "x"`),
    and poison groupBy cardinalities — cheap to count BEFORE a
    trillion-row shuffle keys on them.

    One long-form row per column: ``(column, n_rows, n_nonnull,
    n_untrimmed, n_empty, n_ws_only, n_control, n_multispace,
    n_nonascii)``. Every metric is an exact integer
    ``SUM(CASE WHEN ...)`` so the report replays bit-identically.

    Scale: ALL columns census in ONE fused aggregate — a single scan,
    map-side partial aggregation, no shuffle of raw rows (the exchange
    carries one partial state per task), fully whole-stage-codegen
    (`rlike`/`contains`/`trim` are JVM expressions, no UDF)."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")

    _cnt = _count_if

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            _cnt(s.isNotNull()).alias(f"{c}__nonnull"),
            _cnt(s != F.trim(s)).alias(f"{c}__untrimmed"),
            _cnt(s == F.lit("")).alias(f"{c}__empty"),
            _cnt((s != F.lit("")) & (F.trim(s) == F.lit(""))).alias(
                f"{c}__ws_only"
            ),
            _cnt(s.rlike(r"[\x00-\x1F\x7F]")).alias(f"{c}__control"),
            _cnt(s.contains(F.lit("  "))).alias(f"{c}__multispace"),
            _cnt(s.rlike(r"[^\x00-\x7F]")).alias(f"{c}__nonascii"),
        ]
    wide = df.agg(*aggs)
    # melt the 1-row wide frame via explode(array(structs)) — a union of
    # per-column selects would re-run the aggregate (and rescan raw
    # rows) once per column; this consumes the wide row exactly once
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{c}__nonnull").alias("n_nonnull"),
            F.col(f"{c}__untrimmed").alias("n_untrimmed"),
            F.col(f"{c}__empty").alias("n_empty"),
            F.col(f"{c}__ws_only").alias("n_ws_only"),
            F.col(f"{c}__control").alias("n_control"),
            F.col(f"{c}__multispace").alias("n_multispace"),
            F.col(f"{c}__nonascii").alias("n_nonascii"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )


_INT_BOUNDS = (
    ("tinyint", -128, 127),
    ("smallint", -32768, 32767),
    ("int", -2147483648, 2147483647),
    ("bigint", -9223372036854775808, 9223372036854775807),
)
_TWO_P53 = 9007199254740992.0


def type_headroom_report(
    df: DataFrame, cols: Optional[Sequence[str]] = None
) -> DataFrame:
    """Narrowest-safe-type audit — the storage/shuffle-width counterpart
    of schema inference: for every numeric column, how much headroom the
    declared type wastes and the narrowest type the observed data fits.
    A bigint column whose values fit int halves its bytes in every
    shuffle, sort and cache at 10^12 rows; a double column that is
    secretly integer-valued (TPC-H quantity) can drop to tinyint.

    One row per column: ``(column, dtype, n_rows, n_nonnull, n_nan,
    n_inf, n_non_integer, min_value, max_value, suggested_type)``.
    Integer columns suggest the narrowest signed type whose bounds hold
    the observed [min, max]. Float/double columns suggest an integer
    type ONLY when every value is finite and integer-exact (checked
    via ``fmod(v, 1) != 0`` — never ``floor`` cast, which overflows
    long for large doubles) AND |bound| ≤ 2^53 (past that a double
    cannot certify integer exactness); otherwise they stay ``double``.
    Empty / all-NULL columns keep their declared type (no evidence to
    narrow on). ``min_value``/``max_value`` emit as doubles for a
    uniform long-form schema — the narrowing decisions compare the
    NATIVE aggregates, so a bigint at the int64 edge classifies
    exactly even though its report rendering rounds.

    Scale: ALL columns in ONE fused aggregate (min/max/conditional
    counts — algebraic, map-side combined; a single scan, no shuffle
    of raw rows), melted via explode(array(structs)) on the 1-row
    result."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    if cols is None:
        cols = [c for c, dt in dtypes.items() if _is_numeric(dt)]
    else:
        cols = list(cols)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"columns not in frame: {missing}")
        bad = [c for c in cols if not _is_numeric(dtypes[c])]
        if bad:
            raise ValueError(f"not numeric columns: {bad}")
    if not cols:
        raise ValueError("no numeric columns to audit")

    _cnt = _count_if

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        v = F.col(c)
        is_float = isinstance(dtypes[c], (T.FloatType, T.DoubleType))
        aggs += [
            _cnt(v.isNotNull()).alias(f"{c}__nonnull"),
            F.min(v).alias(f"{c}__min"),
            F.max(v).alias(f"{c}__max"),
        ]
        if is_float:
            d = v.cast("double")
            inf = F.lit(float("inf"))
            finite = ~F.isnan(d) & (d != inf) & (d != -inf)
            aggs += [
                _cnt(F.isnan(d)).alias(f"{c}__nan"),
                _cnt((d == inf) | (d == -inf)).alias(f"{c}__inf"),
                _cnt(finite & ((d % F.lit(1.0)) != F.lit(0.0))).alias(
                    f"{c}__nonint"
                ),
            ]
        else:
            aggs += [
                F.lit(0).cast("long").alias(f"{c}__nan"),
                F.lit(0).cast("long").alias(f"{c}__inf"),
                F.lit(0).cast("long").alias(f"{c}__nonint"),
            ]
    wide = df.agg(*aggs)

    structs = []
    for c in cols:
        dt = dtypes[c]
        dtype_str = dt.simpleString()
        is_float = isinstance(dt, (T.FloatType, T.DoubleType))
        mn, mx = F.col(f"{c}__min"), F.col(f"{c}__max")
        nonnull = F.col(f"{c}__nonnull")
        if is_float:
            clean = (
                (nonnull > 0)
                & (F.col(f"{c}__nan") == 0)
                & (F.col(f"{c}__inf") == 0)
                & (F.col(f"{c}__nonint") == 0)
            )
            # fallback is the DECLARED type: a float column that cannot
            # narrow must stay 'float', not widen to 'double' (and an
            # all-NULL column keeps its type — no evidence to narrow)
            sug = F.lit(dtype_str)
            # build the cascade innermost-first: bigint certifiable only
            # within +-2^53, else stay as declared
            sug = F.when(
                clean
                & (mn >= F.lit(-_TWO_P53))
                & (mx <= F.lit(_TWO_P53)),
                F.lit("bigint"),
            ).otherwise(sug)
            for name, lo, hi in reversed(_INT_BOUNDS[:-1]):
                sug = F.when(
                    clean
                    & (mn >= F.lit(float(lo)))
                    & (mx <= F.lit(float(hi))),
                    F.lit(name),
                ).otherwise(sug)
        elif isinstance(dt, T.DecimalType):
            sug = F.lit(dtype_str)
        else:
            sug = F.lit(dtype_str)
            for name, lo, hi in reversed(_INT_BOUNDS):
                sug = F.when(
                    (nonnull > 0) & (mn >= F.lit(lo)) & (mx <= F.lit(hi)),
                    F.lit(name),
                ).otherwise(sug)
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtype_str).alias("dtype"),
                F.col("n_rows").alias("n_rows"),
                nonnull.alias("n_nonnull"),
                F.col(f"{c}__nan").alias("n_nan"),
                F.col(f"{c}__inf").alias("n_inf"),
                F.col(f"{c}__nonint").alias("n_non_integer"),
                mn.cast("double").alias("min_value"),
                mx.cast("double").alias("max_value"),
                sug.alias("suggested_type"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )


def timestamp_hygiene_report(
    df: DataFrame,
    cols: Sequence[str],
    as_of: str,
) -> DataFrame:
    """Dirty-timestamp census — the temporal sibling of
    :func:`string_hygiene_report`: per timestamp column, how many
    values are NULL, in the FUTURE of ``as_of`` (clock skew, wrong
    unit, wrong century), before 1980 (epoch-adjacent parse garbage),
    exactly the Unix epoch (the classic failed-parse default), at
    midnight (a DATE cast to timestamp — real event times are almost
    never 00:00:00.000000, so a midnight-heavy column lost its time
    component upstream), or past the 32-bit rollover
    (2038-01-19 03:14:07 — a signed-int32 seconds counter wrapped
    somewhere). These are the defects that silently wreck watermarks,
    as-of joins, sessionization and retention windows — cheap to
    count BEFORE a trillion-row pipeline keys time logic on them.
    Overlaps are counted independently (the epoch IS a midnight and
    IS pre-1980); the report is a census, not a partition.

    ``as_of`` is REQUIRED and explicit ("YYYY-MM-DD[ HH:MM:SS]"):
    an implicit now() would make the report unreproducible — the
    engine-wide determinism discipline (no rand(), no now()); pass
    the pipeline's logical run date.

    One long-form row per column: ``(column, n_rows, n_null,
    n_future, n_pre_1980, n_epoch_zero, n_midnight, n_past_2038,
    min_ts, max_ts)`` — every count an exact integer ``SUM(CASE)``.

    Scale: ALL columns census in ONE fused aggregate — single scan,
    map-side partial aggregation, the exchange carries one partial
    state per task; ``date_trunc``/comparisons are JVM expressions,
    no UDF. Date-typed columns are rejected (every DATE is midnight
    by construction — cast deliberately if that census is wanted).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("timestamp_hygiene_report: cols must be non-empty")
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"timestamp_hygiene_report: columns not in frame: {missing}")
    bad = [c for c in cols if not dtypes[c].startswith("timestamp")]
    if bad:
        raise ValueError(
            f"timestamp_hygiene_report: non-timestamp columns {bad} "
            "(DATE columns are all-midnight by construction — cast "
            "explicitly if you mean it)"
        )
    if not isinstance(as_of, str) or not as_of.strip():
        raise ValueError(
            "timestamp_hygiene_report: as_of is required (explicit logical "
            "run date — an implicit now() would be unreproducible)"
        )

    ref = F.to_timestamp(F.lit(as_of))
    epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    y1980 = F.to_timestamp(F.lit("1980-01-01 00:00:00"))
    roll = F.to_timestamp(F.lit("2038-01-19 03:14:07"))

    _cnt = _count_if
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        t = F.col(c)
        aggs += [
            _cnt(t.isNull()).alias(f"{c}__null"),
            _cnt(t > ref).alias(f"{c}__future"),
            _cnt(t < y1980).alias(f"{c}__pre1980"),
            _cnt(t == epoch).alias(f"{c}__epoch0"),
            _cnt(F.date_trunc("day", t) == t).alias(f"{c}__midnight"),
            _cnt(t > roll).alias(f"{c}__past2038"),
            F.min(t).alias(f"{c}__min"),
            F.max(t).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{c}__null").alias("n_null"),
            F.col(f"{c}__future").alias("n_future"),
            F.col(f"{c}__pre1980").alias("n_pre_1980"),
            F.col(f"{c}__epoch0").alias("n_epoch_zero"),
            F.col(f"{c}__midnight").alias("n_midnight"),
            F.col(f"{c}__past2038").alias("n_past_2038"),
            F.col(f"{c}__min").alias("min_ts"),
            F.col(f"{c}__max").alias("max_ts"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )


def null_pattern_census(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Missingness-fingerprint census — which COMBINATIONS of columns
    go missing together, with counts and shares. `null_correlation`
    scores pairs; this is the row-level view that separates MCAR noise
    (many small scattered patterns) from structural missingness (one
    fat pattern = a joined source that didn't match, a form version
    that lacked the field, an ETL branch that nulls a whole column
    group). The fat patterns are the actionable ones: each is a cohort
    to repair, backfill, or route around — and the census is the
    cheapest possible triage BEFORE imputation logic keys on the wrong
    mechanism.

    Returns one row per observed pattern: ``(null_cols, n_null_cols,
    n_rows, share)`` — ``null_cols`` the comma-joined names of the
    columns that are NULL (in ``cols`` order; ``''`` for complete
    rows, which are a pattern too), ``share`` one raw IEEE division of
    exact longs.

    Scale: ONE projection + ONE groupBy whose cardinality is bounded
    by min(rows, 2^k) — real tables produce a handful of patterns, and
    ``k <= 24`` is fenced so the worst case stays bounded. The total
    for ``share`` rides a 1-row broadcast over the (tiny) pattern
    frame, never a rescan of the input. Map-side partial aggregation
    collapses each task to its distinct patterns before the exchange.
    No UDFs, no windows, no collect.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("null_pattern_census: cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"null_pattern_census: columns not in frame: {missing}")
    if len(cols) > 24:
        raise ValueError(
            "null_pattern_census: censusing more than 24 columns risks a "
            f"2^k-pattern explosion (got {len(cols)}); census in groups"
        )
    flags = [F.col(c).isNull() for c in cols]
    pat = F.concat_ws(
        ",", *[F.when(fl, F.lit(c)) for c, fl in zip(cols, flags)]
    ).alias("null_cols")
    n_null = None
    for fl in flags:
        t = fl.cast("int")
        n_null = t if n_null is None else n_null + t
    g = (
        df.select(pat, n_null.alias("n_null_cols"))
        .groupBy("null_cols", "n_null_cols")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = g.agg(F.sum("n_rows").alias("__tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "null_cols",
        "n_null_cols",
        "n_rows",
        (F.col("n_rows") / F.col("__tot")).alias("share"),
    )


def duplicate_column_report(
    df: DataFrame, cols: Optional[Sequence[str]] = None
) -> DataFrame:
    """Redundant-column census — which columns carry the SAME value on
    every row. Wide warehouse tables accrete copies: a renamed legacy
    column kept "for compatibility", a join that duplicated its key,
    an ETL branch that materialized the same derivation twice. Each
    copy costs a full column of storage and scan I/O at 10^12 rows and
    silently double-weights features downstream; this census finds
    them in ONE scan, before a human eyeballs k columns pairwise.

    Compares every SAME-DTYPE pair among ``cols`` (default: all
    columns) row-wise with null-safe equality on the RAW values — no
    string rendering, so the counts are engine-exact (a cross-dtype
    pair is by definition not a duplicate column; a widened copy is
    `type_headroom_report`'s finding, not this one's). Returns one row
    per pair: ``(col_a, col_b, dtype, n_rows, n_diff, diff_share,
    identical)`` — ``n_diff`` the exact count of rows where the two
    differ (NULL == NULL counts as equal), ``diff_share`` one raw IEEE
    division, ``identical`` true iff ``n_diff = 0``. Near-copies
    (``diff_share`` ~ 0) are the "same column plus a backfill bug"
    smell worth a look too.

    Scale: ALL pairs count in ONE fused aggregate — a single scan, no
    shuffle of raw rows (the exchange carries one partial state per
    task), every comparison a JVM expression inside whole-stage
    codegen. k columns make k(k-1)/2 counters; ``k <= 40`` is fenced
    (780 longs of aggregate state) — census wider tables in dtype
    groups. Zero same-dtype pairs return an EMPTY frame with the
    stable schema, not an error.
    """
    cs = list(cols) if cols is not None else list(df.columns)
    if not cs:
        raise ValueError("duplicate_column_report: cols must be non-empty")
    missing = [c for c in cs if c not in df.columns]
    if missing:
        raise ValueError(
            f"duplicate_column_report: columns not in frame: {missing}"
        )
    if len(set(cs)) != len(cs):
        raise ValueError("duplicate_column_report: duplicate names in cols")
    if len(cs) > 40:
        raise ValueError(
            "duplicate_column_report: censusing more than 40 columns means "
            f"{len(cs) * (len(cs) - 1) // 2} pair counters in one aggregate "
            f"(got {len(cs)} columns); census in dtype groups"
        )
    dt = dict(df.dtypes)
    pairs = [
        (a, b)
        for i, a in enumerate(cs)
        for b in cs[i + 1 :]
        if dt[a] == dt[b]
    ]
    out_schema = (
        "col_a string, col_b string, dtype string, n_rows bigint, "
        "n_diff bigint, diff_share double, identical boolean"
    )
    if not pairs:
        return df.sparkSession.createDataFrame([], out_schema)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, (a, b) in enumerate(pairs):
        aggs.append(
            _count_if(~F.col(a).eqNullSafe(F.col(b))).alias(f"__d_{i}")
        )
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.lit(dt[a]).alias("dtype"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"__d_{i}").alias("n_diff"),
            F.when(
                F.col("n_rows") > 0,
                F.col(f"__d_{i}") / F.col("n_rows"),
            )
            .otherwise(F.lit(0.0))
            .alias("diff_share"),
            (F.col(f"__d_{i}") == 0).alias("identical"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )


def shape_census(
    df: DataFrame, col: str, collapse_runs: bool = True
) -> DataFrame:
    """Inductive string-FORMAT census — the OpenRefine/Trifacta shape
    view: every value maps to its character-class skeleton (uppercase
    → ``A``, lowercase → ``a``, digit → ``9``, non-ASCII → ``U``,
    punctuation/space kept verbatim), optionally with runs collapsed
    (``Clerk#000000382`` → ``Aa#9``), and the census counts rows per
    shape. Where `pattern_ratios` asks "how many values match these 17
    KNOWN formats", this asks the inductive question a profiler needs
    first: "how many formats does this column HAVE" — the classic
    constraint-induction view ("99.97% share one shape; the 14
    stragglers are the dirty rows") and the fastest tripwire for a
    mixed-source column.

    Returns ``(shape, n_rows, share, example)`` — ``example`` the
    MINIMUM raw value of the shape (binary-collation min: exact and
    engine-stable, not "first seen"), ``share`` one raw IEEE division.
    NULLs are excluded (they have no shape; `null_pattern_census`
    owns them). String-typed columns only — the shape of a rendered
    float is an engine artifact, not a data property.

    Scale: one projection (a fixed chain of JVM ``regexp_replace``,
    whole-stage-codegen, no UDF) + one groupBy whose cardinality is
    the number of distinct shapes; the share total is one
    single-partition window over the CENSUS frame (O(shapes) rows —
    the example column blocks the ReusedExchange trick the null
    census uses), never a rescan of the input. A census with millions
    of shapes is the column telling you it has no format — use
    ``collapse_runs=True`` (the default) there.
    """
    if col not in df.columns:
        raise ValueError(f"shape_census: column {col!r} not in frame")
    dt = dict(df.dtypes)[col]
    if not (dt == "string" or dt.startswith("varchar") or dt.startswith("char")):
        raise ValueError(
            f"shape_census: column {col!r} is {dt} — shapes of rendered "
            "non-strings are engine artifacts; cast deliberately first"
        )
    s = F.col(col)
    # ASCII classes first, the non-ASCII -> 'U' map LAST: 'U' is itself
    # an uppercase letter, so mapping it earlier would hand it to the
    # [A-Z] pass and silently merge the non-ASCII class into 'A'
    shape = F.regexp_replace(s, "[A-Z]", "A")
    shape = F.regexp_replace(shape, "[a-z]", "a")
    shape = F.regexp_replace(shape, "[0-9]", "9")
    shape = F.regexp_replace(shape, r"[^\x00-\x7F]", "U")
    if collapse_runs:
        for ch in ("A", "a", "9", "U"):
            shape = F.regexp_replace(shape, ch + "+", ch)
    from pyspark.sql import Window

    g = (
        df.where(s.isNotNull())
        .select(shape.alias("shape"), s.alias("__v"))
        .groupBy("shape")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__v").alias("example"),
        )
    )
    tot = F.sum("n_rows").over(Window.partitionBy())
    return g.select(
        "shape",
        "n_rows",
        (F.col("n_rows") / tot).alias("share"),
        "example",
    )


def json_health_report(df: DataFrame, col: str) -> DataFrame:
    """Semi-structured hygiene census for a JSON-string column (the
    ``props``-style payload every event table carries): one row with
    ``(n_rows, n_null, n_invalid, n_valid, n_objects, n_arrays,
    n_scalars)`` — the triage BEFORE any pipeline keys on
    ``get_json_object`` paths, because a malformed payload doesn't
    error downstream, it silently NULLs every extraction. Validity is
    the JVM parser's own verdict (``get_json_object(s, '$')``), which
    classifies exactly like DuckDB's ``json_valid`` (probed corner by
    corner: bare ``null``/``true``/numbers are VALID scalars; ``''``,
    whitespace, truncated objects are invalid) — so the census
    replays engine-for-engine. Object/array split via
    ``json_object_keys``/``json_array_length`` NULL-ness, both JVM
    expressions.

    Scale: one fused conditional-sum aggregate — single scan,
    map-side partials, no UDF."""
    if col not in df.columns:
        raise ValueError(f"json_health_report: column {col!r} not in frame")
    s = F.col(col).cast("string")
    valid = F.get_json_object(s, "$").isNotNull()
    is_obj = F.json_object_keys(s).isNotNull()
    is_arr = F.json_array_length(s).isNotNull()
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _count_if(s.isNull()).alias("n_null"),
        _count_if(s.isNotNull() & ~valid).alias("n_invalid"),
        _count_if(valid).alias("n_valid"),
        _count_if(is_obj).alias("n_objects"),
        _count_if(is_arr).alias("n_arrays"),
        _count_if(valid & ~is_obj & ~is_arr).alias("n_scalars"),
    )


def json_key_census(
    df: DataFrame, col: str, n_objects: Optional[int] = None
) -> DataFrame:
    """Top-level key census of a JSON-string column — the schema a
    semi-structured payload ACTUALLY has, counted: one row per key
    with ``(key, n_present, share)``, ``share`` the fraction of JSON
    OBJECTS carrying the key (one raw IEEE division). '``user_id``
    present in 99.2% of payloads, ``usr_id`` in 0.8%' is a schema
    bug found in one scan; keys trending toward 0 are deprecations
    actually landing.

    ``share``'s denominator: pass ``n_objects`` (from
    `json_health_report`, the usual companion pass) and the census is
    ONE scan; omit it and a second aggregate branch counts objects —
    physically a rescan of the column, acceptable at test scale and
    said out loud here for 10^12-row callers. Non-object rows carry
    no keys and are excluded by construction.

    Scale: explode of the (small) per-row key arrays + one groupBy of
    cardinality O(distinct keys); JVM ``json_object_keys``, no UDF."""
    if col not in df.columns:
        raise ValueError(f"json_key_census: column {col!r} not in frame")
    if n_objects is not None and n_objects < 1:
        raise ValueError(
            f"json_key_census: n_objects must be >= 1, got {n_objects}"
        )
    s = F.col(col).cast("string")
    keys = (
        df.select(F.json_object_keys(s).alias("__ks"))
        .where(F.col("__ks").isNotNull())
    )
    g = (
        keys.select(F.explode("__ks").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_present"))
    )
    if n_objects is not None:
        tot = F.lit(int(n_objects)).cast("long")
        return g.select(
            "key", "n_present", (F.col("n_present") / tot).alias("share")
        )
    tot_df = keys.agg(F.count(F.lit(1)).alias("__tot"))
    return g.crossJoin(F.broadcast(tot_df)).select(
        "key",
        "n_present",
        (F.col("n_present") / F.col("__tot")).alias("share"),
    )


def script_mixing_report(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Homoglyph / script-mixing census — the spoofing lens the
    byte-level `string_hygiene_report` can't see: a Cyrillic 'а'
    (U+0430) inside a Latin word renders identically to 'a' but
    breaks every equality join, dedup key and domain allowlist it
    touches, and mixed-script tokens are the signature of phishing
    URLs, spam display-names and adversarial UGC. Per column, exact
    counts of values containing Latin letters, Cyrillic, Greek,
    MIXED script (Latin AND Cyrillic-or-Greek — the actionable row),
    zero-width characters (U+200B–U+200D, U+FEFF: invisible dedup
    poison), and bidi control characters (U+202A–U+202E,
    U+2066–U+2069: display-order spoofing).

    Counts are value-level (``rlike`` containment), exact integers
    from ONE fused SUM(CASE) aggregate melted long — the
    `string_hygiene_report` plan shape: single scan, map-side
    partials, JVM regex only (`\\x{hhhh}` class syntax chosen because
    Java regex and RE2 both accept it, so the DuckDB oracle replays
    the same patterns verbatim). Latin here is ASCII A–Z/a–z;
    extended-Latin diacritics are not "mixing" (a French name is not
    a spoof), and that scoping is deliberate."""
    cols = list(cols)
    if not cols:
        raise ValueError("script_mixing_report: cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"script_mixing_report: columns not in frame: {missing}"
        )
    lat = "[A-Za-z]"
    cyr = r"[\x{0400}-\x{04FF}]"
    grk = r"[\x{0370}-\x{03FF}]"
    zw = r"[\x{200B}-\x{200D}\x{FEFF}]"
    bidi = r"[\x{202A}-\x{202E}\x{2066}-\x{2069}]"
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        s = F.col(c).cast("string")
        has_lat = s.rlike(lat)
        has_cyr = s.rlike(cyr)
        has_grk = s.rlike(grk)
        aggs += [
            _count_if(s.isNotNull()).alias(f"{c}__nonnull"),
            _count_if(has_lat).alias(f"{c}__latin"),
            _count_if(has_cyr).alias(f"{c}__cyrillic"),
            _count_if(has_grk).alias(f"{c}__greek"),
            _count_if(has_lat & (has_cyr | has_grk)).alias(f"{c}__mixed"),
            _count_if(s.rlike(zw)).alias(f"{c}__zero_width"),
            _count_if(s.rlike(bidi)).alias(f"{c}__bidi"),
        ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{c}__nonnull").alias("n_nonnull"),
            F.col(f"{c}__latin").alias("n_latin"),
            F.col(f"{c}__cyrillic").alias("n_cyrillic"),
            F.col(f"{c}__greek").alias("n_greek"),
            F.col(f"{c}__mixed").alias("n_mixed_script"),
            F.col(f"{c}__zero_width").alias("n_zero_width"),
            F.col(f"{c}__bidi").alias("n_bidi"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )


def unit_shift_census(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    shift_threshold: int = 3,
    min_rows: int = 20,
) -> DataFrame:
    """Unit-mixup detector: does one source report the SAME quantity
    in different units? A feed that switches from seconds to
    milliseconds (or dollars to cents) passes every range check wide
    enough to hold both and poisons every aggregate — the classic
    silent x1000. Distribution drift sees "something moved"; this
    census answers the specific question with the specific evidence:
    each group's dominant DECADE (integer log10 of |value|) against
    the whole table's, flagged when they differ by
    ``shift_threshold``+ orders of magnitude.

    The decade is computed EXACTLY — no log(): |v| >= 1 maps to
    ``length(string(floor(|v|))) - 1`` (pure integer/string algebra,
    engine-identical); |v| < 1 (including 0) buckets to decade -1
    (sub-unit values share one bucket: a 10^-3 shift DOWN still
    surfaces because the dominant decade lands at -1 while the table
    sits at 2). Values beyond int64 raise IN-BAND rather than wrap.

    Output per group: n_rows, ``dominant_decade``, ``dominant_n``
    (exact longs; ties break to the SMALLER decade via min_by on
    (-count, decade) struct order), ``table_decade``, and
    ``unit_suspect``. Groups under ``min_rows`` emit no verdict.

    Scale shape: one (group, decade) count groupBy — map-side
    partial, O(groups x ~20) rows — then a per-group min_by election
    and a 1-row broadcast of the table's own election. No window over
    raw rows, no UDF, no second scan (the table election reuses the
    same census frame)."""
    keys = list(group_cols)
    if not keys:
        raise ValueError("unit_shift_census: group_cols must be non-empty")
    if int(shift_threshold) < 1:
        raise ValueError(
            f"unit_shift_census: shift_threshold must be >= 1, got {shift_threshold}"
        )
    missing = [c for c in keys + [value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"unit_shift_census: frame lacks columns {missing}")
    reserved = ["__dec", "__n", "__cnt"]
    clash = [c for c in reserved if c in df.columns]
    if clash:
        raise ValueError(
            f"unit_shift_census: input columns {clash} collide with "
            "internal working names — rename them"
        )
    v = F.abs(F.col(value_col).cast("double"))
    too_big = v >= 9.2233720368547758e18
    decade = (
        F.when(v.isNull(), F.lit(None).cast("int"))
        .when(
            F.isnan(v) | too_big,
            F.raise_error(
                F.concat(
                    F.lit("unit_shift_census: NaN or beyond-int64 value in "),
                    F.lit(value_col),
                    F.lit(" (value "),
                    F.col(value_col).cast("string"),
                    F.lit(")"),
                )
            ).cast("int"),
        )
        .when(v < 1.0, F.lit(-1))
        .otherwise(
            (
                F.length(F.floor(v).cast("long").cast("string")) - F.lit(1)
            ).cast("int")
        )
    )
    census = (
        df.withColumn("__dec", decade)
        .where(F.col("__dec").isNotNull())
        .groupBy(*keys, "__dec")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # election: most-frequent decade, ties to the smaller decade
    elect = F.min_by(
        F.col("__dec"), F.struct((-F.col("__cnt")).alias("a"), F.col("__dec").alias("b"))
    )
    per_group = census.groupBy(*keys).agg(
        F.sum("__cnt").alias("n_rows"),
        elect.alias("dominant_decade"),
        F.max_by(F.col("__cnt"), F.struct((F.col("__cnt")).alias("a"), (-F.col("__dec")).alias("b"))).alias(
            "dominant_n"
        ),
    )
    table = F.broadcast(
        census.groupBy("__dec")
        .agg(F.sum("__cnt").alias("__n"))
        .agg(
            F.min_by(
                F.col("__dec"),
                F.struct((-F.col("__n")).alias("a"), F.col("__dec").alias("b")),
            ).alias("table_decade")
        )
    )
    return (
        per_group.where(F.col("n_rows") >= int(min_rows))
        .crossJoin(table)
        .select(
            *keys,
            "n_rows",
            "dominant_decade",
            "dominant_n",
            "table_decade",
            (
                F.abs(F.col("dominant_decade") - F.col("table_decade"))
                >= F.lit(int(shift_threshold))
            ).alias("unit_suspect"),
        )
    )


def last_digit_census(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    scale: int = 1,
    chi2_millis: int = 16919,
    min_rows: int = 50,
) -> DataFrame:
    """Last-digit uniformity — the OTHER end of the Benford screen:
    first digits of organic data follow Benford, LAST digits are
    uniform. Hand-entered, rounded, or fabricated values flunk
    uniformity loudly (humans over-pick 0 and 5; re-priced catalogs
    end in 9; a sensor quantized to 0.25 cycles four digits), so a
    group that rejects uniformity is a "these numbers were made, not
    measured" lead the range checks can never produce.

    The digit is ``floor(|v| * scale) % 10`` (``scale=100`` audits
    cents, 1 audits integer units) — exact IEEE multiply + floor +
    integer mod. Pearson chi-square against uniform(10) reduces to
    pure integers: chi2 = (10*S - n^2)/n with S = sum of squared
    digit counts, so the verdict ``(10*S - n^2) * 1000 >
    chi2_millis * n`` is an exact cross-multiplication (DECIMAL(38)
    products — no overflow past 10^12 rows, no IEEE anywhere).
    Default threshold 16.919 = 95th percentile at 9 dof.

    Output per group: ``n_rows`` and ``sum_sq`` (S) — the two exact
    longs any replay recomputes the statistic from at ANY scale —
    plus ``top_digit`` / ``top_digit_n`` (ties to the smaller digit)
    and ``uniform_rejected``; the 10*S - n^2 cross products live only
    inside the DECIMAL comparison, so no output column can wrap.
    Groups under ``min_rows`` emit nothing (chi-square needs expected
    counts >= 5).

    Scale shape: ONE (group, digit) count groupBy — map-side partial,
    10 rows per group — then one tiny per-group fold. No window, no
    join, no UDF."""
    keys = list(group_cols)
    if not keys:
        raise ValueError("last_digit_census: group_cols must be non-empty")
    if int(scale) < 1:
        raise ValueError(f"last_digit_census: scale must be >= 1, got {scale}")
    if int(chi2_millis) < 1:
        raise ValueError(
            f"last_digit_census: chi2_millis must be >= 1, got {chi2_millis}"
        )
    if int(min_rows) < 10:
        raise ValueError(
            f"last_digit_census: min_rows must be >= 10, got {min_rows}"
        )
    missing = [c for c in keys + [value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"last_digit_census: frame lacks columns {missing}")
    clash = [c for c in ["__dig", "__cnt"] if c in df.columns]
    if clash:
        raise ValueError(
            f"last_digit_census: input columns {clash} collide with "
            "internal working names — rename them"
        )
    v = F.abs(F.col(value_col).cast("double")) * F.lit(float(int(scale)))
    too_big = v >= 9.2233720368547758e18
    digit = (
        F.when(F.col(value_col).isNull(), F.lit(None).cast("int"))
        .when(
            F.isnan(v) | too_big,
            F.raise_error(
                F.concat(
                    F.lit("last_digit_census: NaN or beyond-int64 value in "),
                    F.lit(value_col),
                    F.lit(" (value "),
                    F.col(value_col).cast("string"),
                    F.lit(")"),
                )
            ).cast("int"),
        )
        .otherwise(F.pmod(F.floor(v).cast("long"), F.lit(10)).cast("int"))
    )
    census = (
        df.withColumn("__dig", digit)
        .where(F.col("__dig").isNotNull())
        .groupBy(*keys, "__dig")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    dec = "decimal(19,0)"
    per_group = census.groupBy(*keys).agg(
        F.sum("__cnt").alias("n_rows"),
        F.sum(F.col("__cnt") * F.col("__cnt")).alias("sum_sq"),
        F.min_by(
            F.col("__dig"),
            F.struct((-F.col("__cnt")).alias("a"), F.col("__dig").alias("b")),
        ).alias("top_digit"),
        F.max("__cnt").alias("top_digit_n"),
    )
    chi2_num = (
        F.lit(10).cast(dec) * F.col("sum_sq").cast(dec)
        - F.col("n_rows").cast(dec) * F.col("n_rows").cast(dec)
    )
    rejected = chi2_num * F.lit(1000).cast(dec) > F.lit(
        int(chi2_millis)
    ).cast(dec) * F.col("n_rows").cast(dec)
    return (
        per_group.where(F.col("n_rows") >= int(min_rows))
        .select(
            *keys,
            "n_rows",
            "sum_sq",
            "top_digit",
            "top_digit_n",
            rejected.alias("uniform_rejected"),
        )
    )


def cell_coverage(
    df: DataFrame,
    dims: Sequence[str],
    min_rows: int = 1,
    include_covered: bool = False,
    max_cells: int = 1_000_000,
) -> DataFrame:
    """Representation-gap census over a dimension grid: which
    combinations of the dims' OBSERVED values are missing or
    under-filled? A corpus can pass every per-column check while
    containing zero (lang=de, source=forums) documents — per-column
    marginals can't see joint holes, and a sampler downstream will
    faithfully reproduce the hole into the training mix. The grid is
    the cross product of each dimension's own observed values, so the
    census needs no external spec and never invents values the data
    doesn't contain (a truly absent VALUE is a per-column finding,
    not a cell finding).

    Output per gap cell: the dims, ``n_rows`` (0 for missing),
    ``status`` in (``missing``, ``under`` — present but below
    ``min_rows``); ``include_covered=True`` emits ``ok`` cells too.
    NULL is a first-class dimension value (a (NULL, api) hole is
    still a hole).

    Scale shape: the raw table is scanned ONCE into the per-cell
    count frame, which is PERSISTED (it is O(observed cells) — KB-MB)
    and reused for the per-dimension value lists, the grid fence and
    the final null-safe left join. The grid is the cross product of
    the dims' observed value lists — O(prod of cardinalities) rows,
    the GRID, not the data — and ``max_cells`` (default 1e6) fences
    the blow-up LOUDLY before any cross join is planned. The caller
    may ``.unpersist()`` the result's lineage when done; the cached
    frame is cell-sized, not data-sized."""
    ds = list(dims)
    if len(ds) < 2:
        raise ValueError("cell_coverage: need at least 2 dims")
    if int(min_rows) < 1:
        raise ValueError(
            f"cell_coverage: min_rows must be >= 1, got {min_rows}"
        )
    missing = [c for c in ds if c not in df.columns]
    if missing:
        raise ValueError(f"cell_coverage: frame lacks columns {missing}")
    counts = df.groupBy(*ds).agg(F.count(F.lit(1)).alias("n_rows")).persist()
    cards = counts.agg(
        *[F.count_distinct(F.col(c)).alias(c) for c in ds],
        *[
            F.max(F.col(c).isNull().cast("int")).alias(f"__null_{c}")
            for c in ds
        ],
    ).collect()[0]
    n_cells = 1
    for c in ds:
        n_cells *= int(cards[c]) + int(cards[f"__null_{c}"])
    if n_cells > int(max_cells):
        counts.unpersist()
        raise ValueError(
            f"cell_coverage: grid of {n_cells} cells exceeds max_cells="
            f"{max_cells} — reduce dims or raise the fence deliberately"
        )
    # grid columns get fresh names: the grid DERIVES from counts, so a
    # join on same-named attributes would be an ambiguous self-join
    grid = None
    for c in ds:
        vals = counts.select(F.col(c).alias(f"__g_{c}")).distinct()
        grid = vals if grid is None else grid.crossJoin(vals)
    joined = grid.join(
        counts,
        [
            F.col(f"__g_{c}").eqNullSafe(F.col(c))
            for c in ds
        ],
        "left",
    ).select(
        *[F.col(f"__g_{c}").alias(c) for c in ds],
        F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
    )
    status = (
        F.when(F.col("n_rows") == 0, F.lit("missing"))
        .when(F.col("n_rows") < int(min_rows), F.lit("under"))
        .otherwise(F.lit("ok"))
    )
    out = joined.select(*ds, "n_rows", status.alias("status"))
    if not include_covered:
        out = out.where(F.col("status") != "ok")
    return out


def infer_json_schema(df: DataFrame, col: str) -> str:
    """Recursive schema inference for a JSON-string column — the
    semi-structured analogue of ``inference.infer_schema``: ONE
    distributed aggregate (``schema_of_variant_agg`` over
    ``try_parse_json``, JVM-side with partial merge — a single scan no
    matter the table size) merges every row's structure into the
    widest common shape, and the result returns as a Spark DDL string
    ready for ``from_json``. ``json_key_census`` counts the TOP-LEVEL
    keys; this recovers the full nested tree with TYPES — objects
    become STRUCT, arrays ARRAY<...>, and keys whose type genuinely
    conflicts across rows (``1`` here, ``"one"`` there) come back
    VARIANT rather than silently stringified, which is itself a
    finding (``schema_of_variant`` per row locates the offenders).

    Unparseable payloads and NULLs contribute nothing
    (``try_parse_json`` nulls them — census them first with
    ``json_health_report``); a column with no parseable object at all
    yields ``VARIANT``, returned as-is for the caller to treat as "no
    schema". The OBJECT<> spelling the aggregate emits is rewritten to
    the STRUCT<> spelling ``from_json`` parses (a field NAME containing
    the literal token ``OBJECT<`` would be corrupted by this rewrite —
    said out loud, not defended)."""
    if col not in df.columns:
        raise ValueError(f"infer_json_schema: column {col!r} not in frame")
    row = df.agg(
        F.schema_of_variant_agg(
            F.try_parse_json(F.col(col).cast("string"))
        ).alias("__ddl")
    ).collect()[0]
    return str(row["__ddl"]).replace("OBJECT<", "STRUCT<")


def apply_json_schema(
    df: DataFrame,
    col: str,
    ddl: Optional[str] = None,
    out_col: str = "parsed",
) -> DataFrame:
    """Materialize a JSON-string column as a TYPED struct column using
    an inferred (or caller-supplied) DDL — the infer-then-apply pair
    that turns ``props``-style payloads into real columns Catalyst can
    prune and push down on. ``ddl=None`` runs
    :func:`infer_json_schema` first (one extra aggregate scan, said
    out loud — pass the DDL explicitly on a 10^12-row table after
    inferring it once, or infer on a sample). Rows that don't conform
    parse to NULL fields, never errors — the census operators exist to
    count those BEFORE this step. Pure JVM ``from_json``; no UDF."""
    if col not in df.columns:
        raise ValueError(f"apply_json_schema: column {col!r} not in frame")
    if out_col in df.columns:
        raise ValueError(
            f"apply_json_schema: output column {out_col!r} already exists"
        )
    if ddl is None:
        ddl = infer_json_schema(df, col)
    if not ddl.strip().upper().startswith("STRUCT<"):
        # VOID (nothing parseable), a scalar type (the corpus is bare
        # numbers/strings), or VARIANT (irreconcilable top levels)
        raise ValueError(
            "apply_json_schema: no object structure was inferred "
            f"(got {ddl!r}) — nothing to apply"
        )
    return df.withColumn(
        out_col, F.from_json(F.col(col).cast("string"), ddl)
    )


def unseen_mass(
    df: DataFrame,
    cols: Sequence[str],
    max_unseen: float = 0.0001,
    min_rows: int = 100,
) -> DataFrame:
    """Good–Turing screen for the reference's enum rule: "distinct <=
    10 => emit an isin check" (``ISIN_MAX_DISTINCT``, reference
    field_analyzer.py:70) freezes today's value set into a constraint
    with no idea how likely TOMORROW's batch is to contain a value
    never seen — which is exactly what the Good–Turing estimator
    quantifies (public material, Good 1953; the missing-mass bound of
    McAllester–Schapire): the probability that the next draw is a new
    value is ~``n1/N``, the frequency of frequency-one values. A
    column whose every value repeats thousands of times earns its isin
    check; a column with singletons does not, NO MATTER how few
    distinct values it shows today.

    Output, one row per column: ``column, n_rows, n_distinct, n_once
    (hapaxes), gt_unseen (n1/N, one IEEE division), verdict`` —
    ``enum_safe`` (gt_unseen <= max_unseen and support met),
    ``enum_risky``, or ``low_support`` (n_rows < min_rows; with 50
    rows even an honest enum can't prove itself). NULLs are excluded
    (nullability is its own check family).

    Scale shape: one melt projection (the shared top-k idiom) into ONE
    (column, value) groupBy, then an O(distinct) second aggregate per
    column — two shuffles, the second on a frame that is
    value-census-sized, not data-sized. No UDF."""
    cols = list(cols)
    if not cols:
        raise ValueError("unseen_mass: cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unseen_mass: frame lacks columns {missing}")
    dtypes = dict(df.dtypes)
    bad = [c for c in cols if not _is_simple(df.schema[c].dataType)]
    if bad:
        raise ValueError(
            f"unseen_mass: nested/binary columns {bad} cannot be "
            "value-censused — project them first"
        )
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    counts = (
        melted.where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per = counts.groupBy("column").agg(
        F.coalesce(F.sum("__c"), F.lit(0).cast("long")).alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 1, 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_once"),
    )
    gt = F.when(
        F.col("n_rows") > 0,
        F.col("n_once").cast("double") / F.col("n_rows").cast("double"),
    )
    verdict = (
        F.when(F.col("n_rows") < int(min_rows), F.lit("low_support"))
        .when(
            F.col("n_once").cast("double")
            <= float(max_unseen) * F.col("n_rows").cast("double"),
            F.lit("enum_safe"),
        )
        .otherwise(F.lit("enum_risky"))
    )
    return per.select(
        "column",
        "n_rows",
        "n_distinct",
        "n_once",
        gt.alias("gt_unseen"),
        verdict.alias("verdict"),
    )


# --------------------------------------------------- hill tail index

def hill_tail_index(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    k: int = 100,
    n_salts: int = 64,
) -> DataFrame:
    """Hill estimator of the power-law tail index (public: Hill 1975):
    per group, over the top-``k`` order statistics x_(1) >= ... and
    the reference x_(k+1),

        hill  = (1/k) · Σ_{i<=k} ln(x_(i) / x_(k+1))
        alpha = 1 / hill

    Doc-length and frequency distributions in web corpora are heavy-
    tailed; alpha is the honest "how heavy" number. alpha drifting
    DOWN means the tail is fattening (a scraper started swallowing
    concatenated dumps — packing and batch-size plans break); alpha
    exploding UP means the tail was clipped (someone truncated, and
    long-document coverage silently died). Summary stats built from
    means/stds miss both.

    Scale shape — the order statistics come from a SALTED two-phase
    top-k, never a per-group global sort: phase 1 ranks within
    (group, xxhash64(id) % n_salts) cells — each task sorts a
    1/n_salts shard and keeps k+1 rows; phase 2 ranks the surviving
    n_salts·(k+1) candidate rows per group. Exact by the same
    argument as the salted frequency top-k: every true global top-k+1
    row survives its own cell. Only positive values participate (ln);
    ties break by id. Groups with fewer than k+1 positive rows report
    NULL hill/alpha, loudly, next to their n_pos.

    Output per group: ``group_cols..., n_pos, x_ref, hill, alpha``
    (hill/alpha raw — callers round; ln sums follow the corr_lineitem
    ROUND-6 comparison convention).
    """
    if int(k) < 1:
        raise ValueError(f"hill_tail_index: k must be >= 1, got {k}")
    if int(n_salts) < 1:
        raise ValueError(f"hill_tail_index: n_salts must be >= 1, got {n_salts}")
    for c in (value_col, id_col, *group_cols):
        if c not in df.columns:
            raise ValueError(f"hill_tail_index: column {c!r} missing")
    if not group_cols:
        raise ValueError("hill_tail_index: group_cols must be non-empty")
    for __c in ("__salt", "__rk1", "__rk"):
        if __c in df.columns:
            raise ValueError(
                f"hill_tail_index: input column {__c!r} collides with an "
                "internal working name — rename it"
            )
    from pyspark.sql import Window

    kk = int(k)
    pos = df.where(F.col(value_col) > 0)
    counts = pos.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_pos")
    )
    salted = pos.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(n_salts)))
    )
    w1 = Window.partitionBy(
        *[F.col(c) for c in group_cols], F.col("__salt")
    ).orderBy(F.col(value_col).desc(), F.col(id_col).asc())
    cand = (
        salted.withColumn("__rk1", F.row_number().over(w1))
        .where(F.col("__rk1") <= kk + 1)
        .drop("__rk1", "__salt")
    )
    w2 = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col(value_col).desc(), F.col(id_col).asc()
    )
    tops = cand.withColumn("__rk", F.row_number().over(w2)).where(
        F.col("__rk") <= kk + 1
    )
    est = tops.groupBy(*group_cols).agg(
        F.max(
            F.when(F.col("__rk") == kk + 1, F.col(value_col))
        ).alias("x_ref"),
        F.sum(
            F.when(F.col("__rk") <= kk, F.log(F.col(value_col).cast("double")))
        ).alias("__sum_ln"),
    )
    hill = F.when(
        F.col("x_ref").isNotNull(),
        F.col("__sum_ln") / F.lit(float(kk))
        - F.log(F.col("x_ref").cast("double")),
    )
    return (
        counts.join(est, list(group_cols), "left")
        .select(
            *group_cols,
            "n_pos",
            "x_ref",
            hill.alias("hill"),
            F.when(hill > 0, F.lit(1.0) / hill).alias("alpha"),
        )
    )


# ------------------------------------------------ trimmed/winsorized

def robust_stats(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Rank-based trimmed and winsorized means per group: drop (trim
    mean) or clamp (winsorize) the k = floor(n·trim) most extreme
    rows on each side, by RANK — not by an interpolated percentile
    threshold, so the cut is exact integer arithmetic with no
    interpolation parity hazard, and ties/duplicated values behave
    deterministically (rank breaks ties by ``id_col``). The mean a
    dashboard should alert on: one fat-fingered 1e12 row moves the
    plain mean off the chart and moves these not at all, without the
    median's total blindness to the distribution body.

    Scale shape: one window rank per group (the same per-group sort
    any ranked read pays), one groupBy fold. The clamp values are the
    kept-range boundary rows (ranks k+1 and n-k), picked up with
    conditional aggregates in the SAME fold — no second pass, no
    join. Groups where 2k >= n (nothing survives the trim) report
    NULL means loudly.

    Output per group: ``group_cols..., n, k_trim, lo, hi,
    trimmed_mean, winsorized_mean`` (means are float sums over kept
    rows — callers round at 6, the corr_lineitem convention).
    """
    if not (0.0 <= float(trim) < 0.5):
        raise ValueError(f"robust_stats: trim must be in [0, 0.5), got {trim}")
    for c in (value_col, id_col, *group_cols):
        if c not in df.columns:
            raise ValueError(f"robust_stats: column {c!r} missing")
    if not group_cols:
        raise ValueError("robust_stats: group_cols must be non-empty")
    for __c in ("__rk", "__n"):
        if __c in df.columns:
            raise ValueError(
                f"robust_stats: input column {__c!r} collides with an "
                "internal working name — rename it"
            )
    from pyspark.sql import Window

    t = float(trim)
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    wsz = Window.partitionBy(*[F.col(c) for c in group_cols])
    ranked = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wsz))
    )
    k = F.floor(F.col("__n").cast("double") * F.lit(t)).cast("long")
    kept = (F.col("__rk") > k) & (F.col("__rk") <= F.col("__n") - k)
    v = F.col(value_col).cast("double")
    agg = ranked.groupBy(*group_cols).agg(
        F.max("__n").cast("long").alias("n"),
        F.max(k).cast("long").alias("k_trim"),
        F.max(F.when(F.col("__rk") == k + 1, v)).alias("lo"),
        F.max(F.when(F.col("__rk") == F.col("__n") - k, v)).alias("hi"),
        F.sum(F.when(kept, v)).alias("__sum_kept"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("__n_kept"),
        F.sum(F.when(F.col("__rk") <= k, 1).otherwise(0))
        .cast("long")
        .alias("__n_lo"),
        F.sum(F.when(F.col("__rk") > F.col("__n") - k, 1).otherwise(0))
        .cast("long")
        .alias("__n_hi"),
    )
    tm = F.when(
        F.col("__n_kept") > 0,
        F.col("__sum_kept") / F.col("__n_kept").cast("double"),
    )
    wm = F.when(
        F.col("__n_kept") > 0,
        (
            F.col("__sum_kept")
            + F.col("lo") * F.col("__n_lo").cast("double")
            + F.col("hi") * F.col("__n_hi").cast("double")
        )
        / F.col("n").cast("double"),
    )
    return agg.select(
        *group_cols,
        "n",
        "k_trim",
        "lo",
        "hi",
        tm.alias("trimmed_mean"),
        wm.alias("winsorized_mean"),
    )


# ------------------------------------------------- bootstrap CIs

def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: Sequence[str] = (),
    n_boot: int = 50,
    level: float = 0.9,
    salt: str = "boot",
) -> DataFrame:
    """Deterministic Bayesian-bootstrap confidence interval for the
    per-group mean (public: Rubin 1981): replica b reweights every
    row by an Exp(1) draw ``w = -ln(u)`` — u from the md5 of
    ``salt#b#id``, the same engine-replayable uniform every sampler
    in operators/sampling.py uses — and the CI is the nearest-rank
    spread of the ``n_boot`` weighted means. Error bars for any
    data-quality dashboard number WITHOUT distributional assumptions,
    reproducible bit-for-bit across clusters and runs; a different
    ``salt`` draws an independent bootstrap.

    Scale shape, said out loud: the replica explode multiplies the
    frame by ``n_boot`` — one narrow map plus a (group × n_boot)
    hash-groupBy whose shuffle carries n_boot× the input rows. Run it
    on the aggregate you care about or a seeded sample, not on 10^12
    raw rows; per-group replica ranking is an n_boot-sized window.

    Output per group: ``group_cols..., n_rows, mean, ci_lo, ci_hi``
    (float sums — callers round at 6, the corr_lineitem convention).
    """
    if int(n_boot) < 2:
        raise ValueError(f"bootstrap_ci: n_boot must be >= 2, got {n_boot}")
    if not (0.0 < float(level) < 1.0):
        raise ValueError(f"bootstrap_ci: level must be in (0, 1), got {level}")
    for c in (value_col, id_col, *group_cols):
        if c not in df.columns:
            raise ValueError(f"bootstrap_ci: column {c!r} missing")
    from pyspark.sql import Window

    B = int(n_boot)
    k_out = int(math.floor((1.0 - float(level)) / 2.0 * B))
    klo, khi = k_out + 1, B - k_out
    base = df.where(F.col(value_col).isNotNull())
    stats = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.avg(F.col(value_col).cast("double")).alias("mean"),
    )
    rep = base.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("__v"),
        F.col(id_col).cast("string").alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__b"),
    )
    key_hex = F.md5(
        F.concat(
            F.lit(f"{salt}#"),
            F.col("__b").cast("string"),
            F.lit("#"),
            F.col("__id"),
        )
    )
    u = (
        F.conv(F.substring(key_hex, 1, 8), 16, 10).cast("double") + 1.0
    ) / float((1 << 32) + 1)
    w = -F.log(u)
    means = (
        rep.withColumn("__w", w)
        .groupBy(*group_cols, "__b")
        .agg(
            (F.sum(F.col("__w") * F.col("__v")) / F.sum("__w")).alias("__m")
        )
    )
    wr = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("__m").asc(), F.col("__b").asc()
    )
    picked = (
        means.withColumn("__rk", F.row_number().over(wr))
        .groupBy(*group_cols)
        .agg(
            F.max(F.when(F.col("__rk") == klo, F.col("__m"))).alias("ci_lo"),
            F.max(F.when(F.col("__rk") == khi, F.col("__m"))).alias("ci_hi"),
        )
    )
    if group_cols:
        return stats.join(picked, list(group_cols)).select(
            *group_cols, "n_rows", "mean", "ci_lo", "ci_hi"
        )
    return stats.crossJoin(picked).select("n_rows", "mean", "ci_lo", "ci_hi")


# ---------------------------------------------------- spearman matrix

def spearman_matrix(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Spearman rank-correlation matrix (average-rank tie handling,
    the textbook definition) — the robust companion to
    :func:`correlation_matrix`: Pearson answers "linear on the raw
    scale", Spearman answers "monotone at all", and the GAP between
    them is itself a finding (heavy tails or a few fat-finger rows
    masquerading as correlation).

    Distributed ranks without a global sort: per column, the VALUE
    CENSUS (hash groupBy → one row per distinct value) gets exclusive
    cumulative offsets via an ordered window over the census — a
    distinct-values-sized sort, not a corpus-sized one (for real
    measure columns that census is small; for near-unique columns use
    the bucketed two-phase pattern instead) — and every row's average
    rank = offset + (tie_count+1)/2 rides back on a value join. Ranks
    are exact binary halves; the Pearson moments over them follow the
    corr_lineitem ROUND-6 convention.

    Rows with a NULL in ANY of ``cols`` are dropped (listwise — every
    cell sees the same n, so the matrix is internally consistent; the
    per-cell n is emitted so nobody has to trust that silently).

    Output: one row per unordered pair: ``col_a, col_b, n, spearman``.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("spearman_matrix: need at least 2 columns")
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"spearman_matrix: column {c!r} missing")
    from pyspark.sql import Window

    base = df.select(*cols).na.drop(subset=cols)
    ranked = base
    for c in cols:
        census = base.groupBy(F.col(c).alias("__v")).agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        wc = Window.orderBy(F.col("__v").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        offs = census.withColumn(
            "__cum", F.sum("__cnt").over(wc)
        ).select(
            F.col("__v").alias(c),
            (
                (F.col("__cum") - F.col("__cnt")).cast("double")
                + (F.col("__cnt").cast("double") + 1.0) / 2.0
            ).alias(f"__r_{c}"),
        )
        ranked = ranked.join(offs, c)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, a in enumerate(cols):
        ra = F.col(f"__r_{a}")
        aggs.append(F.sum(ra).alias(f"__s_{a}"))
        aggs.append(F.sum(ra * ra).alias(f"__ss_{a}"))
        for b in cols[i + 1:]:
            aggs.append(F.sum(ra * F.col(f"__r_{b}")).alias(f"__p_{a}_{b}"))
    mo = ranked.agg(*aggs)
    outs = []
    n = F.col("n").cast("double")
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            cov = n * F.col(f"__p_{a}_{b}") - F.col(f"__s_{a}") * F.col(f"__s_{b}")
            va = n * F.col(f"__ss_{a}") - F.col(f"__s_{a}") * F.col(f"__s_{a}")
            vb = n * F.col(f"__ss_{b}") - F.col(f"__s_{b}") * F.col(f"__s_{b}")
            outs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("n").alias("n"),
                    F.when(
                        (va > 0) & (vb > 0), cov / F.sqrt(va * vb)
                    ).alias("spearman"),
                )
            )
    return mo.select(
        F.explode(F.array(*outs)).alias("__cell")
    ).select("__cell.col_a", "__cell.col_b", "__cell.n", "__cell.spearman")


# ------------------------------------------------------ chao1 richness

def chao1_estimate(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Chao1 species-richness estimator (public: Chao 1984,
    bias-corrected form): from the value census's singleton and
    doubleton counts,

        chao1 = V + F1·(F1−1) / (2·(F2+1))

    — a lower-bound estimate of how many DISTINCT values exist in the
    population the sample came from, seen or not. The companion to
    the Good-Turing unseen-MASS screen (``unseen_mass``): that one
    says how much probability lives on unseen values, this one says
    how many unseen values there are — the "is this id/vocab space
    bigger than my crawl" question that decides whether an isin-check
    or a fixed vocab table is safe to emit.

    Exact integer census arithmetic with a single final division;
    everything cross-engine deterministic. One hash groupBy for the
    census, one census-sized fold per group.

    Output per group: ``group_cols..., n_rows, v_obs, f1, f2,
    chao1``.
    """
    if value_col not in df.columns:
        raise ValueError(f"chao1_estimate: column {value_col!r} missing")
    for c in group_cols:
        if c not in df.columns:
            raise ValueError(f"chao1_estimate: group column {c!r} missing")
    gcols = [F.col(c) for c in group_cols]
    census = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*gcols, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = census.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.sum("__c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("v_obs"),
        F.sum((F.col("__c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("f2"),
    )
    chao = F.col("v_obs").cast("double") + (
        F.col("f1").cast("double") * (F.col("f1") - 1).cast("double")
    ) / (F.lit(2.0) * (F.col("f2") + 1).cast("double"))
    return agg.select(
        *[F.col(c) for c in group_cols],
        "n_rows",
        "v_obs",
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        chao.alias("chao1"),
    )


# ---------------------------------------------------- jackknife SE

def jackknife_ratio(
    df: DataFrame,
    numerator,
    denominator,
    fold_col,
) -> DataFrame:
    """Delete-one-fold jackknife standard error for a RATIO metric
    (public: Quenouille/Tukey): any rate or mean of the form
    ``Σ num / Σ den`` gets an honest SE from the spread of its
    leave-one-fold-out re-estimates,

        SE² = (k−1)/k · Σ_f (r_(−f) − r̄)²

    over the k folds (days, partitions, shards — whatever
    ``fold_col`` names). The cheap companion to bootstrap_ci: no
    replica explode, just ONE groupBy to per-fold sums and a
    folds-sized pass — error bars on a dashboard rate for the price
    of the aggregation you already ran. Ratio estimators are biased
    and nonlinear, which is exactly the case where the naive binomial
    SE lies and the jackknife does not.

    Exact per-fold integer/float sums; the leave-one-out ratios and
    moments are computed on the FOLDS-sized frame (one 1-row
    broadcast of the totals). Folds with zero denominator are
    excluded from the leave-out set (their removal does not move the
    estimate), counted in ``n_zero_folds``. NULL SE when fewer than
    2 usable folds.

    Output (single row): ``n_folds, n_zero_folds, ratio, se``.
    """
    sums = df.groupBy(fold_col.alias("__f")).agg(
        F.sum(numerator.cast("double")).alias("__sn"),
        F.sum(denominator.cast("double")).alias("__sd"),
    )
    tot = sums.agg(
        F.sum("__sn").alias("__tn"), F.sum("__sd").alias("__td")
    )
    loo = sums.crossJoin(F.broadcast(tot)).withColumn(
        "__r",
        F.when(
            (F.col("__sd") != 0) & ((F.col("__td") - F.col("__sd")) != 0),
            (F.col("__tn") - F.col("__sn"))
            / (F.col("__td") - F.col("__sd")),
        ),
    )
    mo = loo.agg(
        F.count(F.lit(1)).cast("long").alias("__k_all"),
        F.sum((F.col("__sd") == 0).cast("long")).alias("n_zero_folds"),
        F.count(F.col("__r")).cast("long").alias("__k"),
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__srr"),
        F.max("__tn").alias("__tn"),
        F.max("__td").alias("__td"),
    )
    k = F.col("__k").cast("double")
    var = (k - 1) / k * (F.col("__srr") - F.col("__sr") * F.col("__sr") / k)
    return mo.select(
        F.col("__k_all").alias("n_folds"),
        "n_zero_folds",
        F.when(F.col("__td") != 0, F.col("__tn") / F.col("__td")).alias(
            "ratio"
        ),
        F.when((F.col("__k") >= 2) & (var >= 0), F.sqrt(var)).alias("se"),
    )


# ------------------------------------------------ benford second digit

import math as _math

BENFORD2_P = {
    d: sum(_math.log10(1 + 1.0 / (10 * k + d)) for k in range(1, 10))
    for d in range(10)
}
BENFORD2_CHI2_CRIT = 16.919  # chi^2, 9 dof, alpha = 0.05 (public table)


def benford2_profile(
    df: DataFrame, cols: Sequence[str], threshold: float = BENFORD2_CHI2_CRIT
) -> DataFrame:
    """Benford SECOND-digit conformance — the standard escalation of
    the first-digit screen (public forensic-accounting practice): a
    fabricator who learned to fake first digits almost never fakes
    the much flatter second-digit law
    ``P2(d) = Σ_{k=1..9} log10(1 + 1/(10k+d))``, and rounding /
    price-point artifacts (.99 endings, 5-step grids) light up here
    while leaving first digits clean.

    The second significant digit comes from the round-trip string:
    strip non-digits, strip leading zeros, take the 2nd character —
    exponent digits in scientific reprs always FOLLOW the
    significand, so the sequence's 2nd digit is the significand's
    2nd digit on both engines, with no log10/pow float hazard (the
    benford_profile argument, one digit deeper). Values with a
    one-digit integer repr get their true 0 ("3.0" → "30"); zeros
    and NULLs drop.

    Same exactness discipline as benford_profile: 10-digit seed LEFT
    JOIN so absent digits contribute full expected mass, per-digit
    chi² terms quantized to integer micro-units before the sum — the
    statistic and the verdict are engine- and partitioning-exact.

    Output: ``(column, n, chi2, conforms)``.
    """
    digits_of = lambda c: F.regexp_replace(  # noqa: E731
        F.regexp_replace(F.col(c).cast("string"), "[^0-9]", ""),
        "^0+",
        "",
    )
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.substring(digits_of(c), 2, 1).alias("digit"),
                    )
                    for c in cols
                ]
            )
        ).alias("m")
    ).select("m.*")
    counts = (
        melted.where(F.col("digit") != "")
        .groupBy("column", "digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seed = df.sparkSession.createDataFrame(
        [(c, str(d)) for c in cols for d in range(10)],
        "`column` string, digit string",
    )
    full = seed.join(counts, ["column", "digit"], "left").select(
        "column",
        "digit",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
    )
    totals = full.groupBy("column").agg(F.sum("cnt").alias("n"))
    p = F.element_at(
        F.create_map(
            *[
                x
                for d in range(10)
                for x in (F.lit(str(d)), F.lit(BENFORD2_P[d]))
            ]
        ),
        F.col("digit"),
    )
    expected = F.col("n") * p
    term_micro = F.floor(
        (F.col("cnt") - expected) * (F.col("cnt") - expected)
        / expected
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    per_digit = full.join(F.broadcast(totals), "column").where(F.col("n") > 0)
    scored = (
        per_digit.select("column", "n", term_micro.alias("__t"))
        .groupBy("column", "n")
        .agg(F.sum("__t").alias("__s"))
        .select(
            "column",
            "n",
            (F.col("__s") / F.lit(1000000.0)).alias("chi2"),
            (F.col("__s") <= F.lit(int(round(threshold * 1000000)))).alias(
                "conforms"
            ),
        )
    )
    col_seed = df.sparkSession.createDataFrame(
        [(c,) for c in cols], "`column` string"
    )
    return col_seed.join(scored, "column", "left").select(
        "column",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "chi2",
        "conforms",
    )
