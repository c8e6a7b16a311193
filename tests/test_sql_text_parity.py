"""Bit parity of the SQL-text profiler and drift expressions with the
Column-API code they replaced.

The profiler's fused aggregate and top-k tree and the drift family's
binned aggregates and PSI / KS / grid-W1 statistics are SQL text parsed
by one ``F.expr`` each. The Column-API forms below are the previous
implementation, kept here only as the oracle: with them swapped in,
``profile_table``, ``baseline_summary``, ``drift_verdicts`` and
``wasserstein_by_partition`` must return exactly the same values
(compared by ``repr``, so every float bit and every NaN counts) and the
same schema."""

import dataclasses
import datetime as dt
import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import pandera_forge_spark.drift as drift
import pandera_forge_spark.profiler as profiler
from pandera_forge_spark.patterns import NAMED_PATTERNS, PREFIX_SUFFIX_PROBE, match_ratio_expr

# ----------------------------------------------- Column-API reference


def _stat_exprs_ref(df, columns, exact_distinct, detect_patterns):
    exprs = [F.count(F.lit(1)).alias("__total__")]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in columns:
        t = dtypes[c]
        col = F.col(c)
        exprs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        if profiler._is_simple(t):
            d = F.countDistinct(col) if exact_distinct else F.approx_count_distinct(col)
            exprs.append(d.alias(f"{c}__distinct"))
        if profiler._is_numeric(t):
            exprs += [
                F.min(col).alias(f"{c}__min"),
                F.max(col).alias(f"{c}__max"),
                F.avg(col).alias(f"{c}__mean"),
                F.stddev(col).alias(f"{c}__stddev"),
            ]
        elif isinstance(t, profiler.ORDERED_EXTRA):
            exprs += [F.min(col).alias(f"{c}__min"), F.max(col).alias(f"{c}__max")]
        if profiler._is_string(t):
            s = col.cast("string")
            pre = F.substring(s, 1, PREFIX_SUFFIX_PROBE)
            suf = F.substring(s, -PREFIX_SUFFIX_PROBE, PREFIX_SUFFIX_PROBE)
            exprs += [
                F.min(F.length(s)).alias(f"{c}__minlen"),
                F.max(F.length(s)).alias(f"{c}__maxlen"),
                F.min(pre).alias(f"{c}__pre_min"),
                F.max(pre).alias(f"{c}__pre_max"),
                F.min(suf).alias(f"{c}__suf_min"),
                F.max(suf).alias(f"{c}__suf_max"),
            ]
            if detect_patterns:
                exprs += [
                    match_ratio_expr(col, rx).alias(f"{c}__pat__{name}")
                    for name, rx in NAMED_PATTERNS.items()
                ]
    return exprs


def _topk_frame_ref(df, cols, k=profiler.ISIN_MAX_DISTINCT, pattern_cols=()):
    assert not pattern_cols  # the reference melt carries no pattern counts
    pairs = df.select(
        F.explode(
            F.array(
                *[F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("val")) for c in cols]
            )
        ).alias("p")
    ).select("p.col", "p.val")
    counts = pairs.where(F.col("val").isNotNull()).groupBy("col", "val").count()
    entry = F.struct((-F.col("count")).alias("negcnt"), F.col("val").alias("val"))
    salt = F.pmod(F.xxhash64("val"), F.lit(profiler.TOPK_SALT_BUCKETS))
    partial = counts.groupBy(F.col("col"), salt.alias("__salt")).agg(
        F.count(F.lit(1)).alias("nd"),
        F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("cand"),
    )
    return partial.groupBy("col").agg(
        F.sum("nd").alias("n_distinct"),
        F.slice(F.array_sort(F.flatten(F.collect_list("cand"))), 1, k).alias("topk"),
    )


def _quantile_edges_ref(df, col, bins=drift.DEFAULT_BINS):
    probs = [i / bins for i in range(1, bins)]
    row = df.agg(F.percentile_approx(F.col(col), F.lit(probs), F.lit(10000)).alias("q")).collect()[0]
    return [float(v) for v in row["q"]]


def _bins_ref(c, edges, prefix="__bin_"):
    out, lo = [], None
    for i, e in enumerate(list(edges) + [None]):
        if lo is None and e is not None:
            ind = c <= F.lit(e)
        elif e is not None:
            ind = (c > F.lit(lo)) & (c <= F.lit(e))
        else:
            ind = c > F.lit(lo)
        out.append(F.sum(ind.cast("long")).alias(f"{prefix}{i}"))
        lo = e
    return out


def _bin_exprs_ref(col, edges, count="__n", prefix="__bin_"):
    c = F.col(col)
    nn = c.isNotNull()
    head = [] if count is None else [F.sum(nn.cast("long")).alias(count)]
    return head + _bins_ref(F.when(nn, c), edges, prefix)


def _drift_verdicts_ref(df, col, partition_cols, baseline, psi_threshold=0.2, ks_threshold=0.1):
    g = df.groupBy(*partition_cols).agg(*_bin_exprs_ref(col, baseline["edges"]))
    n = F.greatest(F.col("__n"), F.lit(1)).cast("double")
    psi = None
    for i, q in enumerate(baseline["props"]):
        p = F.greatest(F.col(f"__bin_{i}") / n, F.lit(drift.EPS))
        term = (p - F.lit(q)) * (F.log(p) - F.log(F.lit(q)))
        psi = term if psi is None else psi + term
    ks = acc = None
    for i, qc in enumerate(baseline["cdf"]):
        acc = F.col(f"__bin_{i}") / n if acc is None else acc + F.col(f"__bin_{i}") / n
        gap = F.abs(acc - F.lit(qc))
        ks = gap if ks is None else F.greatest(ks, gap)
    d = g.select(*partition_cols, F.col("__n").alias("n"), psi.alias("psi"), ks.alias("ks"))
    return d.withColumn(
        "drifted", (F.col("psi") >= F.lit(psi_threshold)) | (F.col("ks") >= F.lit(ks_threshold))
    )


def _wasserstein_ref(df, col, partition_cols, baseline):
    edges = [float(e) for e in baseline["edges"]]
    n_base = int(baseline["n"])
    g = df.groupBy(*partition_cols).agg(*_bin_exprs_ref(col, edges))
    terms = cum = None
    cumq = 0
    for i in range(len(edges) - 1):
        b = F.col(f"__bin_{i}")
        cum = b if cum is None else cum + b
        cumq += int(baseline["counts"][i])
        num = F.abs(cum * F.lit(n_base) - F.lit(cumq) * F.col("__n")).cast("double")
        t = num * F.lit(float(edges[i + 1] - edges[i]))
        terms = t if terms is None else terms + t
    w1 = F.when(
        F.col("__n") > 0, terms / (F.col("__n").cast("double") * F.lit(float(n_base)))
    ).otherwise(F.lit(0.0))
    return g.select(*partition_cols, F.col("__n").alias("n"), w1.alias("w1"))


# ------------------------------------------------------------ inputs


@pytest.fixture(scope="module")
def frame(spark):
    """Nulls, NaN, ±Inf, -0.0, decimals, dates, timestamps, pattern-ish
    strings with quotes and backslashes, and column names that need
    quoting."""
    specials = [None, float("nan"), float("inf"), float("-inf"), -0.0, 0.0]
    words = ["a@b.co", "x'y", "back\\slash", "${env:HOME}", "12345", "ABC", "", None]
    rows = []
    for i in range(400):
        v = specials[i] if i < len(specials) else math.sin(i) * 1000 + (i % 7) * 13.5
        rows.append(
            (
                f"p{i % 3}",
                v,
                i % 11 if i % 13 else None,
                Decimal(i % 17) / Decimal(4),
                dt.date(2024, 1, 1) + dt.timedelta(days=i % 40),
                dt.datetime(2024, 1, 1) + dt.timedelta(minutes=37 * i),
                words[i % len(words)],
                f"id-{i:05d}" if i % 5 else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "p string, `x val` double, n int, d decimal(10,2), day date, ts timestamp, "
        "`it's` string, code string",
    )


def _same(got, want):
    assert repr(got) == repr(want)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr), df.schema


# ------------------------------------------------------------- tests


@pytest.mark.parametrize("exact", ["auto", True])
def test_profile_table_bit_identical(frame, monkeypatch, exact):
    """The reference profiles without patterns through the old trees,
    then detects patterns per row: the old fused aggregate's ratios and
    ``pick_pattern``, for every string column with a non-null value."""
    got = profiler.profile_table(frame, exact_distinct=exact)
    monkeypatch.setattr(profiler, "stat_exprs", _stat_exprs_ref)
    monkeypatch.setattr(profiler, "topk_frame", _topk_frame_ref)
    want = profiler.profile_table(frame, exact_distinct=exact, detect_patterns=False)
    stats = frame.agg(*_stat_exprs_ref(frame, frame.columns, False, True)).collect()[0]
    for c, p in want.items():
        if p.spark_type == "string" and p.null_count < p.total_count:
            hit = profiler.pick_pattern({n: stats[f"{c}__pat__{n}"] for n in NAMED_PATTERNS})
            if hit:
                p.pattern_name, p.pattern = hit
    assert any(p.pattern_name for p in want.values())
    assert list(got) == list(want)
    for c in want:
        _same(dataclasses.asdict(got[c]), dataclasses.asdict(want[c]))


def test_profile_by_group_bit_identical(frame):
    cols = ["x val", "n", "d", "day", "it's"]
    got = profiler.profile_by_group(frame, ["p"], cols, detect_patterns=True)
    want = frame.groupBy("p").agg(*_stat_exprs_ref(frame, cols, False, True))
    _same(_rows(got), _rows(want))


@pytest.mark.parametrize("edges", [None, [-500.0, 0.0, 250.5, 900.0]])
def test_baseline_summary_bit_identical(frame, monkeypatch, edges):
    got = drift.baseline_summary(frame, "x val", bins=10, edges=edges)
    monkeypatch.setattr(drift, "_bin_exprs", _bin_exprs_ref)
    monkeypatch.setattr(drift, "quantile_edges", _quantile_edges_ref)
    _same(got, drift.baseline_summary(frame, "x val", bins=10, edges=edges))


def test_drift_verdicts_and_wasserstein_bit_identical(frame):
    base = drift.baseline_summary(frame.where("n IS NOT NULL"), "x val", bins=10)
    got = drift.drift_verdicts(frame, "x val", ["p"], base, 0.01, 0.05)
    want = _drift_verdicts_ref(frame, "x val", ["p"], base, 0.01, 0.05)
    _same(_rows(got), _rows(want))
    assert any(r["drifted"] for r in got.collect())
    got = drift.wasserstein_by_partition(frame, "x val", ["p", "n"], base)
    _same(_rows(got), _rows(_wasserstein_ref(frame, "x val", ["p", "n"], base)))
