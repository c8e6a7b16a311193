"""Profiler integration tests on a real SparkSession (the reference only
ever tests Spark with mocks — SURVEY.md §5)."""

import datetime

import pytest
from pyspark.sql import functions as F

from pandera_forge_spark.profiler import profile_by_group, profile_table


def _df(spark):
    rows = [
        (1, "user1@example.com", 25, True, datetime.datetime(2023, 1, 1)),
        (2, "user2@test.org", 30, False, datetime.datetime(2023, 1, 2)),
        (3, "user3@demo.net", 35, True, datetime.datetime(2023, 1, 3)),
        (4, "user4@site.io", 40, True, datetime.datetime(2023, 1, 4)),
    ]
    return spark.createDataFrame(
        rows, "customer_id long, email string, age long, is_active boolean, signup_date timestamp"
    )


def test_flagship_customers(spark):
    """The reference README's canonical example (FIXTURES.md F2)."""
    p = profile_table(_df(spark))

    cid = p["customer_id"]
    assert cid.total_count == 4
    assert cid.null_count == 0
    assert cid.distinct_count == 4
    assert cid.is_unique and not cid.is_nullable
    assert cid.min_value == 1 and cid.max_value == 4
    assert sorted(cid.examples) == [1, 2, 3, 4]

    em = p["email"]
    assert em.is_unique
    assert em.pattern_name == "email"
    assert em.min_length == len("user4@site.io")
    assert em.starts_with == "use"

    act = p["is_active"]
    assert act.distinct_count == 2
    assert set(act.examples) == {True, False}

    sd = p["signup_date"]
    assert sd.is_unique
    assert sd.min_value == datetime.datetime(2023, 1, 1)


def test_nulls_and_uniqueness(spark):
    # null kills uniqueness even when non-null values are distinct
    # (reference: field_analyzer.py:34-38)
    df = spark.createDataFrame([(1,), (2,), (None,)], "x long")
    p = profile_table(df)["x"]
    assert p.null_count == 1
    assert p.distinct_count == 2
    assert not p.is_unique
    assert p.is_nullable


def test_all_null_column(spark):
    df = spark.createDataFrame([(None,), (None,)], "s string")
    p = profile_table(df)["s"]
    assert p.null_count == 2
    assert p.distinct_count == 0
    assert p.examples == []
    assert p.pattern_name is None
    assert p.min_length is None


def test_examples_threshold(spark):
    # 11 distinct -> top-5 only; <=10 -> all values
    df11 = spark.range(1, 12).select(F.col("id").alias("v"))
    p = profile_table(df11)["v"]
    assert p.distinct_count == 11
    assert len(p.examples) == 5

    df3 = spark.createDataFrame([(1,), (1,), (2,), (3,)], "v long")
    p3 = profile_table(df3)["v"]
    assert p3.distinct_count == 3
    assert p3.examples[0] == 1  # most frequent first
    assert sorted(p3.examples) == [1, 2, 3]


def test_topk_tiebreak_deterministic(spark):
    # equal counts -> value ascending
    df = spark.createDataFrame([(c,) for c in "fedcba" * 2], "v string")
    p = profile_table(df)["v"]
    assert p.examples == list("abcdef")


def test_prefix_suffix(spark):
    df = spark.createDataFrame(
        [("PREFIX_value1",), ("PREFIX_value2",), ("PREFIX_other",)], "s string"
    )
    p = profile_table(df)["s"]
    assert p.starts_with == "PRE"

    df2 = spark.createDataFrame([("value1_SUFFIX",), ("value2_SUFFIX",)], "s string")
    assert profile_table(df2)["s"].ends_with == "FIX"

    # single distinct value -> no prefix/suffix constraint
    # (reference: pattern_detector.py:113-115)
    df3 = spark.createDataFrame([("SAME",), ("SAME",)], "s string")
    p3 = profile_table(df3)["s"]
    assert p3.starts_with is None and p3.ends_with is None


def test_pattern_with_nulls(spark):
    df = spark.createDataFrame(
        [("a@b.co",), (None,), ("c@d.org",), (None,)], "s string"
    )
    assert profile_table(df)["s"].pattern_name == "email"


def test_approx_mode(spark):
    df = spark.range(1000).select(F.col("id").alias("v"))
    p = profile_table(df, exact_distinct=False, with_examples=False)["v"]
    assert not p.distinct_is_exact
    assert 900 <= p.distinct_count <= 1100


def test_profile_by_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("b", None)], "g string, v long"
    )
    out = profile_by_group(df, ["g"], ["v"]).orderBy("g").collect()
    assert out[0]["__total__"] == 2 and out[0]["v__min"] == 1 and out[0]["v__max"] == 2
    assert out[1]["v__nulls"] == 1 and out[1]["v__max"] == 10


def test_complex_types_skipped_in_distinct(spark):
    df = spark.createDataFrame([([1, 2],), ([3],)], "arr array<int>")
    p = profile_table(df)["arr"]
    assert p.distinct_count is None
    assert p.null_count == 0
    assert p.spark_type == "array<int>"


def test_auto_mode_candidate_then_verify(spark):
    """'auto' never melts a high-cardinality column: HLL screens,
    an exact duplicate-existence probe settles uniqueness."""
    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("uid"),                      # unique candidate -> verified True
        F.when(F.col("id") == 17, F.lit(16)).otherwise(F.col("id")).alias("dup1"),
        # one duplicated value, still ~n distinct      -> verified False
        (F.col("id") % 7).alias("small"),              # small domain -> exact melt
        (F.col("id") % 3000).alias("mid"),             # big domain, not near-unique
    )
    p = profile_table(df, exact_distinct="auto", detect_patterns=False)

    assert p["uid"].unique_verified is True and p["uid"].is_unique
    assert not p["uid"].distinct_is_exact  # HLL estimate kept, no melt

    assert p["dup1"].unique_verified is False and not p["dup1"].is_unique

    assert p["small"].distinct_is_exact and p["small"].distinct_count == 7
    assert sorted(p["small"].examples) == list(range(7))

    assert not p["mid"].distinct_is_exact
    assert p["mid"].unique_verified is None and not p["mid"].is_unique
    assert p["mid"].examples == []


def test_pattern_sample_mode(spark):
    """Sampled pattern detection (the 100 TB path) reaches the same
    verdicts as the full scan on a clearly-patterned fixture, and the
    exact stats are untouched by the sampling."""
    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        F.col("id"),
        F.concat(F.lit("user"), F.col("id"), F.lit("@example.com")).alias("email"),
        F.concat(F.lit("id-"), F.col("id")).alias("slug"),
    )
    full = profile_table(df, detect_patterns=True)
    sampled = profile_table(df, detect_patterns=True, pattern_sample=500)
    for c in ("email", "slug"):
        assert sampled[c].pattern_name == full[c].pattern_name
        assert sampled[c].total_count == 5000
        assert sampled[c].distinct_count == full[c].distinct_count
    assert sampled["email"].pattern_name == "email"


def test_fused_stats_frame_sampled(spark):
    from pyspark.sql import functions as F

    from pandera_forge_spark.profiler import fused_stats_frame

    df = spark.range(2000).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id"), F.lit("@x.io")).alias("s")
    )
    row = fused_stats_frame(df, pattern_sample=200).collect()[0]
    assert row["__total__"] == 2000
    assert row["s__pat__email"] >= 0.9


def _pattern_frame(spark):
    """String columns for every pattern-ratio path: NULLs, empty
    strings, mixed case (the patterns run with ``(?i)``: upper-case
    UUIDs and slugs only match that way), an all-NULL column, and two
    columns at the auto-mode melt fence: ``d1000`` has exactly
    AUTO_SMALL_DOMAIN distinct values and an HLL estimate (997) at or
    below it, ``d1001`` one value more and an estimate (1081) above
    it."""
    mixed = ["Ab-Cd", "ef-GH", "", None, "x-1", "A@B.co", "Ab-Cd"]
    uuids = [f"{i:08X}-ABCD-4EF0-9A1B-{i * 7919:012X}" for i in range(20)]
    rows = [
        (
            i,
            mixed[i % len(mixed)],
            uuids[i % 20] if i % 9 else None,
            None,
            f"Row-{i % 1000}",
            f"K-{i % 1001}",
            f"User{i}@Example.COM" if i % 50 else "",
        )
        for i in range(2400)
    ]
    return spark.createDataFrame(
        rows,
        "n long, mixed string, uuid string, allnull string, d1000 string, "
        "d1001 string, uniq string",
    )


PATTERN_MODES = {
    "auto": dict(exact_distinct="auto"),
    "exact": dict(exact_distinct=True),
    "hll-examples": dict(exact_distinct=False),
    "hll-no-examples": dict(exact_distinct=False, with_examples=False),
    "auto-sampled": dict(exact_distinct="auto", pattern_sample=600),
    "exact-sampled": dict(exact_distinct=True, pattern_sample=600),
    "hll-no-examples-sampled": dict(exact_distinct=False, with_examples=False, pattern_sample=600),
}


@pytest.mark.parametrize("mode", list(PATTERN_MODES))
def test_pattern_ratios_match_per_row_sweep(spark, monkeypatch, mode):
    """Every mode's pattern ratios, and the pattern picked from them,
    are bit for bit (by ``repr``) the per-row ``pattern_stat_exprs``
    ratios: full data for melted columns, the seeded sample for the
    others when ``pattern_sample`` is set."""
    import pandera_forge_spark.profiler as profiler
    from pandera_forge_spark.patterns import NAMED_PATTERNS, pick_pattern

    kw = PATTERN_MODES[mode]
    df = _pattern_frame(spark)
    strings = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    seen = []
    real = profiler.pick_pattern
    monkeypatch.setattr(profiler, "pick_pattern", lambda r: seen.append(r) or real(r))
    got = profiler.profile_table(df, **kw)
    monkeypatch.undo()

    if kw["exact_distinct"] == "auto":
        melted = {c for c in strings if got[c].distinct_is_exact}
        assert "d1000" in melted and "d1001" not in melted and "uniq" not in melted
        assert got["d1000"].distinct_count == profiler.AUTO_SMALL_DOMAIN
    elif kw["exact_distinct"] or kw.get("with_examples", True):
        melted = set(strings)
    else:
        melted = set()
    per_row = df.agg(*profiler.pattern_stat_exprs(df, strings)).collect()[0].asDict()
    sampled = per_row
    if "pattern_sample" in kw:
        frac = kw["pattern_sample"] / df.count()
        s = df.sample(False, frac, seed=profiler.PATTERN_SAMPLE_SEED)
        sampled = s.agg(*profiler.pattern_stat_exprs(df, strings)).collect()[0].asDict()

    checked = [c for c in strings if got[c].null_count < got[c].total_count]
    assert "allnull" not in checked and len(seen) == len(checked)
    assert got["allnull"].pattern_name is None
    for c, ratios in zip(checked, seen):
        ref = per_row if c in melted else sampled
        want = {name: ref[f"{c}__pat__{name}"] for name in NAMED_PATTERNS}
        assert repr(ratios) == repr(want), c
        hit = pick_pattern(want) or (None, None)
        assert (got[c].pattern_name, got[c].pattern) == hit, c
    picked = {c: got[c].pattern_name for c in checked}
    if "pattern_sample" not in kw:
        assert picked == {
            "mixed": None, "uuid": "uuid", "d1000": "slug", "d1001": "slug", "uniq": "email"
        }


def test_histogram_buckets(spark):
    from pyspark.sql import functions as F

    from pandera_forge_spark.profiler import histogram

    df = spark.createDataFrame(
        [("a", 5), ("a", 15), ("a", 25), ("b", 10), ("b", None)],
        "g string, v int",
    )
    rows = histogram(df, F.col("v"), [10.0, 20.0], group_cols=["g"]).collect()
    got = {(r["g"], r["bucket"]): (r["n"], r["lo"], r["hi"]) for r in rows}
    # edges [10,20): bucket 0 = <10, 1 = [10,20), 2 = >=20; nulls dropped
    assert got[("a", 0)] == (1, 5, 5)
    assert got[("a", 1)] == (1, 15, 15)
    assert got[("a", 2)] == (1, 25, 25)
    assert got[("b", 1)] == (1, 10, 10)
    assert len(got) == 4


def test_correlation_matrix(spark):
    from pandera_forge_spark.profiler import correlation_matrix

    rows = [(float(i), 2.0 * i + 1, float(-i), 3.0) for i in range(20)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["a", "b", "c"]).collect()
    }
    assert got[("a", "b")] == 1.0    # perfectly linear
    assert got[("a", "c")] == -1.0   # anti-correlated
    assert got[("b", "c")] == -1.0
    # constant column -> corr undefined (null), not an error
    withd = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["a", "d"]).collect()
    }
    assert withd[("a", "d")] is None


def test_entropy_profile(spark):
    from pandera_forge_spark.profiler import entropy_profile

    rows = (
        [("a", "x")] * 8           # uniform-ish col1, constant col2... see below
        + [("b", "x")] * 8
        + [("c", None)] * 4
    )
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    got = {r["column"]: r for r in entropy_profile(df, ["c1", "c2"]).collect()}
    # c1: 8/20 a, 8/20 b, 4/20 c
    import math
    p = [8 / 20, 8 / 20, 4 / 20]
    want = round(-sum(x * math.log2(x) for x in p), 6)
    assert got["c1"]["entropy"] == want
    assert got["c1"]["distinct_count"] == 3 and got["c1"]["n_values"] == 20
    # c2: constant among non-nulls -> zero entropy; nulls excluded
    assert got["c2"]["entropy"] == 0.0 and got["c2"]["n_values"] == 16


def test_null_correlation(spark):
    from pandera_forge_spark.profiler import null_correlation

    rows = []
    for i in range(40):
        a = None if i % 4 == 0 else i          # 10 nulls
        b = None if i % 4 == 0 or i == 1 else i  # same 10 + 1 extra
        c = i  # never null
        rows.append((a, b, c))
    df = spark.createDataFrame(rows, "a int, b int, c int")
    got = {
        (r["col_a"], r["col_b"]): r
        for r in null_correlation(df, ["a", "b", "c"]).collect()
    }
    ab = got[("a", "b")]
    assert (ab["nulls_a"], ab["nulls_b"], ab["both_null"]) == (10, 11, 10)
    assert ab["null_jaccard"] == round(10 / 11, 6)
    ac = got[("a", "c")]
    assert ac["both_null"] == 0 and ac["null_jaccard"] == 0.0
    assert len(got) == 3


def test_quantile_profile_exact_and_grouped(spark):
    from pandera_forge_spark.profiler import quantile_profile

    df = spark.createDataFrame(
        [(g, float(v)) for g in ("x", "y") for v in range(1, 101)],
        "g string, v double",
    )
    got = {
        (r["column"], r["prob"]): r["value"]
        for r in quantile_profile(df, ["v"], [0.5], exact=True).collect()
    }
    assert got[("v", 0.5)] == 50.5  # 1..100 twice -> median 50.5
    grouped = {
        (r["g"], r["prob"]): r["value"]
        for r in quantile_profile(
            df, ["v"], [0.25, 0.5], exact=True, group_cols=["g"]
        ).collect()
    }
    assert grouped[("x", 0.5)] == 50.5 and grouped[("y", 0.25)] == 25.75
    # approx mode lands within the error bound
    approx = {
        (r["column"], r["prob"]): r["value"]
        for r in quantile_profile(df, ["v"], [0.5], exact=False).collect()
    }
    assert abs(approx[("v", 0.5)] - 50.5) <= 1.5


# ---------------------------------------------------------- Benford

def _benford_local(values, threshold=15.507):
    """Pure-Python reference of profiler.benford_profile for one
    column, same micro-unit quantization."""
    import math

    digits = []
    for v in values:
        if v is None:
            continue
        import re

        m = re.search(r"[1-9]", str(v))
        if m:
            digits.append(m.group(0))
    n = len(digits)
    if n == 0:
        return (0, None, None)
    s = 0
    for d in range(1, 10):
        p = math.log10(1.0 + 1.0 / d)
        cnt = digits.count(str(d))
        s += math.floor((cnt - n * p) ** 2 / (n * p) * 1000000.0 + 0.5)
    return (n, s / 1000000.0, s <= round(threshold * 1000000))


def test_benford_profile_reference_and_verdicts(spark):
    from pandera_forge_spark.profiler import benford_profile

    # powers of 2: the classic Benford-conforming sequence
    pows = [float(2**k) for k in range(200)]
    # all values share first digit 1: maximally non-conforming
    ones = [1000.0 + i for i in range(200)]
    rows = [(pows[i], ones[i], None) for i in range(200)]
    df = spark.createDataFrame(rows, "benfordish double, flat double, empty double")
    got = {
        r["column"]: (r["n"], r["chi2"], r["conforms"])
        for r in benford_profile(df, ["benfordish", "flat", "empty"]).collect()
    }
    assert got["benfordish"] == _benford_local(pows)
    assert got["flat"] == _benford_local(ones)
    assert got["benfordish"][2] is True
    assert got["flat"][2] is False
    # entirely-null column is reported, not dropped
    assert got["empty"] == (0, None, None)


def test_benford_zero_values_have_no_digit(spark):
    from pandera_forge_spark.profiler import benford_profile

    df = spark.createDataFrame(
        [(0.0,), (0.0,), (123.0,)], "x double"
    )
    row = benford_profile(df, ["x"]).collect()[0]
    assert row["n"] == 1  # only 123.0 carries a significant digit


def test_benford_plan_udf_free(spark):
    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.profiler import benford_profile

    df = spark.createDataFrame([(1.5,)], "x double")
    assert not has_python_udf(benford_profile(df, ["x"]))


# -------------------------------------------------------- unit_shift_census


def test_unit_shift_census_flags_the_ms_feed(spark):
    from pandera_forge_spark.profiler import unit_shift_census

    rows = []
    # three feeds report latency in seconds (~ decade 1..2)
    for src in ("a", "b", "c"):
        for i in range(40):
            rows.append((src, float(20 + (i % 60))))
    # feed 'd' reports the same quantity in MILLISECONDS
    for i in range(40):
        rows.append(("d", float((20 + (i % 60)) * 1000)))
    df = spark.createDataFrame(rows, "src string, v double")
    got = {r["src"]: r for r in unit_shift_census(df, "v", ["src"]).collect()}
    assert got["d"]["unit_suspect"] and got["d"]["dominant_decade"] == 4
    for src in ("a", "b", "c"):
        assert not got[src]["unit_suspect"]
        assert got[src]["dominant_decade"] == 1
        assert got[src]["table_decade"] == 1
    assert got["d"]["dominant_n"] == 40


def test_unit_shift_census_exact_decades_and_ties(spark):
    from pandera_forge_spark.profiler import unit_shift_census

    # decade boundaries are string-exact, not log-float: 9.99 -> 0,
    # 10.0 -> 1, 0.5/0.0 -> -1; a 10-10 tie elects the SMALLER decade
    rows = (
        [("g", 9.99)] * 10
        + [("g", 10.0)] * 10
        + [("g", 0.5), ("g", 0.0)]
    )
    df = spark.createDataFrame(rows, "src string, v double")
    r = unit_shift_census(df, "v", ["src"], min_rows=5).first()
    assert r["dominant_decade"] == 0 and r["dominant_n"] == 10
    assert r["n_rows"] == 22


def test_unit_shift_census_fences(spark):
    import pytest

    from pandera_forge_spark.profiler import unit_shift_census

    nan = spark.createDataFrame(
        [("g", float("nan"))] * 25, "src string, v double"
    )
    with pytest.raises(Exception, match="NaN or beyond"):
        unit_shift_census(nan, "v", ["src"]).collect()
    huge = spark.createDataFrame(
        [("g", 1e19)] * 25, "src string, v double"
    )
    with pytest.raises(Exception, match="NaN or beyond"):
        unit_shift_census(huge, "v", ["src"]).collect()
    ok = spark.createDataFrame([("g", 1.0)], "src string, v double")
    with pytest.raises(ValueError, match="group_cols"):
        unit_shift_census(ok, "v", [])
    with pytest.raises(ValueError, match="shift_threshold"):
        unit_shift_census(ok, "v", ["src"], shift_threshold=0)
    with pytest.raises(ValueError, match="lacks"):
        unit_shift_census(ok, "nope", ["src"])
    # min_rows gate
    assert unit_shift_census(ok, "v", ["src"], min_rows=5).count() == 0


def test_unit_shift_census_plan(spark):
    from pandera_forge_spark.plans.inspect import executed_plan, has_python_udf
    from pandera_forge_spark.profiler import unit_shift_census

    df = spark.createDataFrame(
        [("s%d" % (i % 3), float(i + 1)) for i in range(90)],
        "src string, v double",
    )
    out = unit_shift_census(df, "v", ["src"])
    assert not has_python_udf(out)
    plan = executed_plan(out)
    assert "Window" not in plan, plan


# -------------------------------------------------------- last_digit_census


def test_last_digit_census_fabricated_vs_organic(spark):
    import random

    from pandera_forge_spark.profiler import last_digit_census

    rng = random.Random(5)
    rows = []
    # organic: last digits uniform
    for _ in range(600):
        rows.append(("organic", float(rng.randrange(1, 100000))))
    # fabricated: a human picked round numbers — 0 and 5 dominate
    for _ in range(600):
        rows.append(("priced", float(rng.randrange(1, 10000) * 10 + rng.choice([0, 0, 0, 5, 5, 9]))))
    df = spark.createDataFrame(rows, "src string, v double")
    got = {r["src"]: r for r in last_digit_census(df, "v", ["src"]).collect()}
    assert got["priced"]["uniform_rejected"]
    assert got["priced"]["top_digit"] == 0
    assert not got["organic"]["uniform_rejected"]
    # exact replay of the integer statistic
    from collections import Counter

    for src in ("organic", "priced"):
        cnt = Counter(int(abs(v)) % 10 for s, v in rows if s == src)
        n = sum(cnt.values())
        ss = sum(c * c for c in cnt.values())
        assert got[src]["n_rows"] == n and got[src]["sum_sq"] == ss
        assert got[src]["uniform_rejected"] == (
            (10 * ss - n * n) * 1000 > 16919 * n
        )


def test_last_digit_census_scale_and_fences(spark):
    import pytest

    from pandera_forge_spark.profiler import last_digit_census

    # scale=100 audits cents: 12.34 -> digit 4; 12.30 -> 0
    rows = [("g", 12.34)] * 30 + [("g", 56.78)] * 30
    df = spark.createDataFrame(rows, "src string, v double")
    r = last_digit_census(df, "v", ["src"], scale=100, min_rows=10).first()
    assert r["n_rows"] == 60 and r["sum_sq"] == 30 * 30 * 2
    assert r["top_digit"] == 4  # tie 30-30 between digits 4 and 8
    ok = spark.createDataFrame([("g", 1.0)], "src string, v double")
    with pytest.raises(ValueError, match="group_cols"):
        last_digit_census(ok, "v", [])
    with pytest.raises(ValueError, match="scale"):
        last_digit_census(ok, "v", ["src"], scale=0)
    with pytest.raises(ValueError, match="min_rows"):
        last_digit_census(ok, "v", ["src"], min_rows=5)
    with pytest.raises(ValueError, match="lacks"):
        last_digit_census(ok, "nope", ["src"])
    nan = spark.createDataFrame([("g", float("nan"))] * 60, "src string, v double")
    with pytest.raises(Exception, match="NaN or beyond"):
        last_digit_census(nan, "v", ["src"]).collect()
    # min_rows gate drops small groups silently
    assert last_digit_census(ok, "v", ["src"], min_rows=10).count() == 0


def test_last_digit_census_plan(spark):
    from pandera_forge_spark.plans.inspect import executed_plan, has_python_udf
    from pandera_forge_spark.profiler import last_digit_census

    df = spark.createDataFrame(
        [("s%d" % (i % 2), float(i)) for i in range(200)],
        "src string, v double",
    )
    out = last_digit_census(df, "v", ["src"])
    assert not has_python_udf(out)
    plan = executed_plan(out)
    assert "Window" not in plan and "Join" not in plan, plan


# ------------------------------------------------------------ cell_coverage


def test_cell_coverage_finds_joint_holes(spark):
    from pandera_forge_spark.profiler import cell_coverage

    rows = (
        [("en", "web")] * 30
        + [("en", "forum")] * 3
        + [("de", "web")] * 25
        + [(None, "web")] * 8
        # (de, forum), (None, forum) never occur
    )
    df = spark.createDataFrame(rows, "lang string, src string")
    got = {
        (r["lang"], r["src"]): r
        for r in cell_coverage(df, ["lang", "src"], min_rows=5).collect()
    }
    assert got[("de", "forum")]["status"] == "missing"
    assert got[("de", "forum")]["n_rows"] == 0
    assert got[(None, "forum")]["status"] == "missing"  # NULL is a value
    assert got[("en", "forum")]["status"] == "under"
    assert got[("en", "forum")]["n_rows"] == 3
    assert ("en", "web") not in got  # covered cells dropped by default
    full = {
        (r["lang"], r["src"]): r["status"]
        for r in cell_coverage(
            df, ["lang", "src"], min_rows=5, include_covered=True
        ).collect()
    }
    assert len(full) == 6 and full[("en", "web")] == "ok"


def test_cell_coverage_fence_and_contracts(spark):
    import pytest

    from pandera_forge_spark.profiler import cell_coverage

    df = spark.createDataFrame(
        [(str(i), str(i % 40)) for i in range(200)], "a string, b string"
    )
    with pytest.raises(ValueError, match="exceeds max_cells"):
        cell_coverage(df, ["a", "b"], max_cells=100)
    with pytest.raises(ValueError, match="at least 2"):
        cell_coverage(df, ["a"])
    with pytest.raises(ValueError, match="min_rows"):
        cell_coverage(df, ["a", "b"], min_rows=0)
    with pytest.raises(ValueError, match="lacks"):
        cell_coverage(df, ["a", "nope"])


def test_cell_coverage_three_dims_udf_free(spark):
    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.profiler import cell_coverage

    rows = [("en", "web", "txt")] * 5 + [("de", "api", "img")] * 5
    df = spark.createDataFrame(rows, "a string, b string, c string")
    out = cell_coverage(df, ["a", "b", "c"], include_covered=True)
    # 2*2*2 grid, 2 covered, 6 missing
    assert out.count() == 8
    assert out.where(out.status == "missing").count() == 6
    assert not has_python_udf(out)


# ----------------------------------------------- seasonal_volume_anomalies


def _svc_rows():
    """30 days of hourly-ish events for one source with a hard weekly
    cycle: weekdays ~100 rows/day, weekends ~20 — plus day 17 (a
    Wednesday-phase day) starved to 30, which raw per-key MAD would
    bury inside the weekday/weekend spread but phase-adjusted MAD must
    flag; and day 20 (a weekend phase) starved to 4."""
    rows = []
    for day in range(30):
        phase = day % 7
        n = 20 if phase in (5, 6) else 100
        if day == 17:
            n = 30
        if day == 20:
            n = 4
        for i in range(n):
            rows.append(("web", day * 86400.0 + i * 60.0))
    return rows


def test_seasonal_volume_flags_phase_relative_outage(spark):
    from pandera_forge_spark.validator import (
        seasonal_volume_anomalies,
        volume_anomalies,
    )

    df = spark.createDataFrame(_svc_rows(), "src string, ts double")
    got = seasonal_volume_anomalies(
        df, "ts", ["src"], c=3, min_per_phase=3, min_buckets=14
    ).collect()
    flagged_days = sorted(r["bucket_start"] // 86400 for r in got)
    assert 17 in flagged_days and 20 in flagged_days
    # healthy weekends must NOT be flagged (raw MAD would flag them or
    # the starved weekday, depending on the mix — the point of phasing)
    healthy_weekends = {d for d in range(30) if d % 7 in (5, 6)} - {20}
    assert not (set(flagged_days) & healthy_weekends)
    for r in got:
        assert r["phase"] == (r["bucket_start"] // 86400) % 7


def test_seasonal_volume_python_replay(spark):
    from collections import defaultdict

    from pandera_forge_spark.validator import seasonal_volume_anomalies

    df = spark.createDataFrame(_svc_rows(), "src string, ts double")
    got = {
        r["bucket_start"]: (r["resid2_micro"], r["dev4_micro"], r["mad8_micro"])
        for r in seasonal_volume_anomalies(df, "ts", ["src"], c=3).collect()
    }
    # replay: counts -> phase med2 -> resid2 -> center med2 -> d4 -> mad8
    day_n = defaultdict(int)
    for _, ts in _svc_rows():
        day_n[int(ts // 86400)] += 1
    vm = {d: n * 1000000 for d, n in day_n.items()}

    def med2(vals):
        s = sorted(vals)
        n = len(s)
        return s[(n + 1) // 2 - 1] + s[n // 2]

    by_phase = defaultdict(list)
    for d, v in vm.items():
        by_phase[d % 7].append(v)
    pmed = {p: med2(vs) for p, vs in by_phase.items() if len(vs) >= 3}
    r2 = {d: 2 * v - pmed[d % 7] for d, v in vm.items() if d % 7 in pmed}
    cmed2 = med2(list(r2.values()))
    d4 = {d: abs(2 * v - cmed2) for d, v in r2.items()}
    mad8 = med2(list(d4.values()))
    expect = {
        d * 86400: (r2[d], d4[d], mad8)
        for d in r2
        if 2 * d4[d] > 3 * mad8
    }
    assert got == expect


def test_seasonal_volume_contracts(spark):
    import pytest

    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.validator import seasonal_volume_anomalies

    df = spark.createDataFrame(_svc_rows(), "src string, ts double")
    assert not has_python_udf(
        seasonal_volume_anomalies(df, "ts", ["src"])
    )
    with pytest.raises(ValueError, match="non-empty"):
        seasonal_volume_anomalies(df, "ts", [])
    with pytest.raises(ValueError, match="period_buckets"):
        seasonal_volume_anomalies(df, "ts", ["src"], period_buckets=1)
    with pytest.raises(ValueError, match="lacks columns"):
        seasonal_volume_anomalies(df, "nope", ["src"])
    # sparse phases (min_per_phase unmet) produce no verdicts at all
    tiny = spark.createDataFrame(_svc_rows()[:300], "src string, ts double")
    assert (
        seasonal_volume_anomalies(
            tiny, "ts", ["src"], min_per_phase=5, min_buckets=14
        ).count()
        == 0
    )


# ------------------------------------------------ infer/apply json schema


def test_infer_json_schema_recursive_types(spark):
    from pandera_forge_spark.profiler import apply_json_schema, infer_json_schema

    df = spark.createDataFrame(
        [
            ('{"a": 1, "b": {"c": "x", "d": [1, 2]}}',),
            ('{"a": 2, "b": {"c": "y"}, "e": true}',),
            ("not json",),
            (None,),
        ],
        "s string",
    )
    ddl = infer_json_schema(df, "s")
    assert ddl == "STRUCT<a: BIGINT, b: STRUCT<c: STRING, d: ARRAY<BIGINT>>, e: BOOLEAN>"
    typed = apply_json_schema(df, "s", ddl).select("parsed.*")
    rows = typed.orderBy(F.col("a").asc_nulls_last()).collect()
    assert rows[0]["a"] == 1 and rows[0]["b"]["d"] == [1, 2]
    assert rows[1]["e"] is True and rows[1]["b"]["c"] == "y"
    assert rows[2]["a"] is None  # unparseable -> all-NULL fields


def test_infer_json_schema_conflicts_go_variant(spark):
    from pandera_forge_spark.profiler import infer_json_schema

    df = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": "one"}',)], "s string"
    )
    assert infer_json_schema(df, "s") == "STRUCT<k: VARIANT>"


def test_apply_json_schema_contracts(spark):
    import pytest

    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.profiler import apply_json_schema, infer_json_schema

    df = spark.createDataFrame([('{"k": 1}',)], "s string")
    assert not has_python_udf(apply_json_schema(df, "s"))
    with pytest.raises(ValueError, match="not in frame"):
        infer_json_schema(df, "nope")
    with pytest.raises(ValueError, match="already exists"):
        apply_json_schema(df.withColumn("parsed", F.lit(1)), "s")
    with pytest.raises(ValueError, match="no object structure"):
        junk = spark.createDataFrame([("nope",), (None,)], "s string")
        apply_json_schema(junk, "s")


# ------------------------------------------------------------- unseen_mass


def test_unseen_mass_separates_enum_from_idlike(spark):
    from pandera_forge_spark.profiler import unseen_mass

    rows = []
    for i in range(300):
        rows.append((
            ["A", "B", "C"][i % 3],          # honest enum: no hapaxes
            f"sess-{i}",                      # id-like: all hapaxes
            "X" if i else "RARE",             # one hapax in 300
            None if i % 2 else "Y",           # nulls excluded
        ))
    df = spark.createDataFrame(rows, "enum string, sid string, near string, half string")
    got = {r["column"]: r for r in unseen_mass(
        df, ["enum", "sid", "near", "half"], max_unseen=0.01
    ).collect()}
    assert got["enum"]["verdict"] == "enum_safe"
    assert got["enum"]["n_once"] == 0 and got["enum"]["gt_unseen"] == 0.0
    assert got["sid"]["verdict"] == "enum_risky"
    assert got["sid"]["gt_unseen"] == 1.0
    # 1 hapax / 300 rows = 0.0033 > 0.01? no -> safe at 0.01
    assert got["near"]["n_once"] == 1
    assert got["near"]["verdict"] == "enum_safe"
    assert got["half"]["n_rows"] == 150  # nulls dropped
    # distinct<=10 would call sid-free enum on 3 values; the point is
    # the ESTIMATOR gates it, so tighten the threshold and near flips
    tight = {r["column"]: r["verdict"] for r in unseen_mass(
        df, ["near"], max_unseen=0.001
    ).collect()}
    assert tight["near"] == "enum_risky"


def test_unseen_mass_low_support_and_contracts(spark):
    import pytest

    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.profiler import unseen_mass

    small = spark.createDataFrame([("a",)] * 10, "c string")
    assert unseen_mass(small, ["c"]).collect()[0]["verdict"] == "low_support"
    assert not has_python_udf(unseen_mass(small, ["c"]))
    with pytest.raises(ValueError, match="non-empty"):
        unseen_mass(small, [])
    with pytest.raises(ValueError, match="lacks columns"):
        unseen_mass(small, ["nope"])
    nested = spark.createDataFrame([([1],)], "xs array<long>")
    with pytest.raises(ValueError, match="nested"):
        unseen_mass(nested, ["xs"])


# -------------------------------------------------------- rate_control_chart


def test_rate_control_chart_flags_scaled_by_n(spark):
    import math

    from pandera_forge_spark.validator import rate_control_chart

    rows = []
    # 10 batches of 1000 at ~2% violations; batch 7 at 5%; a small
    # batch (40 rows) at 5% that must stay ok (wide limits at small n)
    for b in range(10):
        bad = 50 if b == 7 else 20
        for i in range(1000):
            rows.append((f"b{b}", i < bad))
    for i in range(40):
        rows.append(("tiny", i < 2))
    df = spark.createDataFrame(rows, "batch string, viol boolean")
    got = {
        r["batch"]: r
        for r in rate_control_chart(df, "viol", ["batch"]).collect()
    }
    assert got["b7"]["status"] == "high"
    assert "tiny" not in got or got["tiny"]["status"] == "ok"
    assert set(got) == {"b7"}  # healthy batches suppressed by default
    # replay the limits
    tn, tk = 10 * 1000 + 40, 9 * 20 + 50 + 2
    p = tk / tn
    ucl = min(p + 3.0 * math.sqrt(p * (1.0 - p) / 1000.0), 1.0)
    assert got["b7"]["ucl"] == ucl and got["b7"]["rate"] == 0.05
    full = {
        r["batch"]: r["status"]
        for r in rate_control_chart(
            df, "viol", ["batch"], include_ok=True
        ).collect()
    }
    assert full["b0"] == "ok" and full["b7"] == "high"


def test_rate_control_chart_low_and_contracts(spark):
    import pytest

    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.validator import rate_control_chart

    rows = []
    for b in range(6):
        bad = 0 if b == 0 else 100
        for i in range(1000):
            rows.append((f"b{b}", 1 if i < bad else 0))
    df = spark.createDataFrame(rows, "batch string, viol int")  # int verdicts
    got = {
        r["batch"]: r["status"]
        for r in rate_control_chart(df, "viol", ["batch"]).collect()
    }
    assert got["b0"] == "low"  # suspiciously clean is ALSO a finding
    small = spark.createDataFrame([("a", True)] * 10, "batch string, viol boolean")
    assert rate_control_chart(small, "viol", ["batch"]).collect()[0][
        "status"
    ] == "low_support"
    assert not has_python_udf(rate_control_chart(df, "viol", ["batch"]))
    with pytest.raises(ValueError, match="non-empty"):
        rate_control_chart(df, "viol", [])
    with pytest.raises(ValueError, match="sigma"):
        rate_control_chart(df, "viol", ["batch"], sigma=0)
    with pytest.raises(ValueError, match="lacks columns"):
        rate_control_chart(df, "nope", ["batch"])


# ----------------------------------------------------------------- fd_repairs


def test_fd_repairs_elects_majority_with_ties(spark):
    from pandera_forge_spark.validator import fd_repairs

    rows = (
        [("o1", "NL")] * 8 + [("o1", "nl")] * 2      # typo: 80% majority
        + [("o2", "DE")] * 5 + [("o2", "FR")] * 5     # 50/50 tie -> min value
        + [("o3", "US")] * 4                           # clean: no row
        + [("o4", "BE")] * 3 + [("o4", None)] * 2      # NULLs repairable
        + [("o5", None)] * 3                           # all-NULL: no row
    )
    df = spark.createDataFrame(rows, "order_id string, country string")
    got = {r["order_id"]: r for r in fd_repairs(df, ["order_id"], "country").collect()}
    assert set(got) == {"o1", "o2", "o4"}
    assert got["o1"]["majority_value"] == "NL"
    assert got["o1"]["majority_share"] == 0.8
    assert got["o1"]["n_repairs"] == 2
    assert got["o2"]["majority_value"] == "DE"  # tie -> smaller value
    assert got["o2"]["majority_share"] == 0.5
    assert got["o4"]["majority_value"] == "BE"
    assert got["o4"]["n_repairs"] == 2 and got["o4"]["n_rows"] == 5
    assert got["o4"]["majority_share"] == 1.0  # share over non-null votes
    # min_share suppresses the 50/50 dispute
    trusted = {r["order_id"] for r in fd_repairs(
        df, ["order_id"], "country", min_share=0.6
    ).collect()}
    assert trusted == {"o1", "o4"}


def test_fd_repairs_contracts(spark):
    import pytest

    from pandera_forge_spark.plans.inspect import has_python_udf
    from pandera_forge_spark.validator import fd_repairs

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    assert not has_python_udf(fd_repairs(df, ["k"], "v"))
    with pytest.raises(ValueError, match="non-empty"):
        fd_repairs(df, [], "v")
    with pytest.raises(ValueError, match="min_share"):
        fd_repairs(df, ["k"], "v", min_share=1.5)
    with pytest.raises(ValueError, match="lacks columns"):
        fd_repairs(df, ["k"], "nope")


def test_hill_tail_index_exact_pareto(spark):
    """Values x_i = 2^(i) for i=0..10 in one group: with k=4, the top
    ranks are 1024,512,256,128 and ref 64 -> every ln-ratio is a
    multiple of ln 2: hill = ln(2)·(4+3+2+1)/4 = 2.5·ln 2."""
    import math

    from pandera_forge_spark.profiler import hill_tail_index

    rows = [("g", i, float(2 ** i)) for i in range(11)]
    df = spark.createDataFrame(rows, "grp string, rid long, v double")
    r = hill_tail_index(df, "v", ["grp"], "rid", k=4).collect()[0]
    assert r.n_pos == 11 and r.x_ref == 64.0
    expect = math.log(2.0) * (4 + 3 + 2 + 1) / 4
    assert abs(r.hill - expect) < 1e-12
    assert abs(r.alpha - 1 / expect) < 1e-12


def test_hill_tail_index_salted_matches_unsalted_and_small_groups(spark):
    from pandera_forge_spark.profiler import hill_tail_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {tuple(r) for r in hill_tail_index(
        docs, "n_chars", ["lang"], "doc_id", k=20, n_salts=1
    ).collect()}
    b = {tuple(r) for r in hill_tail_index(
        docs, "n_chars", ["lang"], "doc_id", k=20, n_salts=64
    ).collect()}
    assert a == b and len(a) > 0
    # a group with fewer than k+1 positive rows reports NULLs loudly
    tiny = spark.createDataFrame(
        [("t", 1, 5.0), ("t", 2, 3.0), ("t", 3, -1.0)],
        "grp string, rid long, v double",
    )
    r = hill_tail_index(tiny, "v", ["grp"], "rid", k=5).collect()[0]
    assert r.n_pos == 2 and r.x_ref is None and r.hill is None


def test_hill_tail_index_validates_args(spark):
    import pytest

    from pandera_forge_spark.profiler import hill_tail_index

    df = spark.createDataFrame([("g", 1, 1.0)], "grp string, rid long, v double")
    with pytest.raises(ValueError, match="k must"):
        hill_tail_index(df, "v", ["grp"], "rid", k=0)
    with pytest.raises(ValueError, match="group_cols"):
        hill_tail_index(df, "v", [], "rid")
    with pytest.raises(ValueError, match="missing"):
        hill_tail_index(df, "ghost", ["grp"], "rid")


def test_robust_stats_hand_computed(spark):
    """[1..9, 1000] with trim 0.1: n=10, k=1 -> drop 1 and 1000, keep
    2..9: trimmed = 5.5; winsorize clamps to lo=2, hi=9:
    (44 + 2 + 9)/10 = 5.5."""
    from pandera_forge_spark.profiler import robust_stats

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)],
        "grp string, rid long, v double",
    )
    r = robust_stats(df, "v", ["grp"], "rid", trim=0.1).collect()[0]
    assert (r.n, r.k_trim, r.lo, r.hi) == (10, 1, 2.0, 9.0)
    assert abs(r.trimmed_mean - 5.5) < 1e-12
    assert abs(r.winsorized_mean - 5.5) < 1e-12
    # the plain mean is 104.5 — the operator's whole point
    # a fat-finger row moved it, the robust means did not


def test_robust_stats_degenerate_and_fences(spark):
    import pytest

    from pandera_forge_spark.profiler import robust_stats

    df = spark.createDataFrame(
        [("g", 1, 1.0), ("g", 2, 2.0)], "grp string, rid long, v double"
    )
    # trim 0.4: k = floor(2*0.4) = 0 -> nothing dropped
    r = robust_stats(df, "v", ["grp"], "rid", trim=0.4).collect()[0]
    assert r.k_trim == 0 and abs(r.trimmed_mean - 1.5) < 1e-12
    with pytest.raises(ValueError, match="trim"):
        robust_stats(df, "v", ["grp"], "rid", trim=0.5)
    with pytest.raises(ValueError, match="group_cols"):
        robust_stats(df, "v", [], "rid")
    with pytest.raises(ValueError, match="missing"):
        robust_stats(df, "ghost", ["grp"], "rid")


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from pandera_forge_spark.profiler import bootstrap_ci

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out1 = {r.event_type: r for r in bootstrap_ci(
        ev, "value", "event_id", ["event_type"], n_boot=40, level=0.9
    ).collect()}
    out2 = {r.event_type: r for r in bootstrap_ci(
        ev, "value", "event_id", ["event_type"], n_boot=40, level=0.9
    ).collect()}
    assert out1.keys() == out2.keys() and len(out1) == 5
    for k in out1:
        r1, r2 = out1[k], out2[k]
        # bit-for-bit reproducible
        assert (r1.ci_lo, r1.ci_hi, r1.mean) == (r2.ci_lo, r2.ci_hi, r2.mean)
        # CI brackets the plain mean and is ordered
        assert r1.ci_lo < r1.mean < r1.ci_hi
        # width is plausible for ~100-400 rows of a [0,500] value
        assert 0 < r1.ci_hi - r1.ci_lo < 60


def test_bootstrap_ci_salt_varies_and_python_reference(spark):
    """A 3-row frame with B=3 is small enough to replay the entire
    construction in python: md5-derived Exp(1) weights, weighted
    means, rank pick."""
    import hashlib
    import math as _m

    from pandera_forge_spark.profiler import bootstrap_ci

    rows = [(1, 10.0), (2, 20.0), (3, 60.0)]
    df = spark.createDataFrame(rows, "rid long, v double")
    got = bootstrap_ci(df, "v", "rid", n_boot=3, level=0.5).collect()[0]

    def u_of(b, rid):
        h = hashlib.md5(f"boot#{b}#{rid}".encode()).hexdigest()
        return (int(h[:8], 16) + 1.0) / (2 ** 32 + 1)

    ms = []
    for b in range(3):
        ws = {rid: -_m.log(u_of(b, rid)) for rid, _ in rows}
        ms.append(sum(ws[r] * v for r, v in rows) / sum(ws.values()))
    ms.sort()
    # level 0.5, B=3: k_out = floor(0.25*3) = 0 -> lo rank 1, hi rank 3
    assert abs(got.ci_lo - ms[0]) < 1e-9
    assert abs(got.ci_hi - ms[2]) < 1e-9
    assert abs(got.mean - 30.0) < 1e-12
    other = bootstrap_ci(df, "v", "rid", n_boot=3, level=0.5, salt="x").collect()[0]
    assert (other.ci_lo, other.ci_hi) != (got.ci_lo, got.ci_hi)


def test_bootstrap_ci_validates_args(spark):
    import pytest

    from pandera_forge_spark.profiler import bootstrap_ci

    df = spark.createDataFrame([(1, 1.0)], "rid long, v double")
    with pytest.raises(ValueError, match="n_boot"):
        bootstrap_ci(df, "v", "rid", n_boot=1)
    with pytest.raises(ValueError, match="level"):
        bootstrap_ci(df, "v", "rid", level=1.0)
    with pytest.raises(ValueError, match="missing"):
        bootstrap_ci(df, "ghost", "rid")


def test_spearman_matrix_matches_scipy_style_reference(spark):
    """Ties included: verify against a direct python average-rank
    Spearman on the same 12 rows (monotone-nonlinear pair ~1, noisy
    pair in (0,1), anti-monotone pair -1)."""
    from pandera_forge_spark.profiler import spearman_matrix

    xs = [1.0, 2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.0, 10.0]
    ys = [v ** 3 for v in xs]                  # monotone -> rho 1
    zs = [-v for v in xs]                      # anti-monotone -> rho -1
    ws = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    rows = list(zip(xs, ys, zs, ws))
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    got = {(r.col_a, r.col_b): r for r in spearman_matrix(
        df, ["x", "y", "z", "w"]
    ).collect()}

    def avg_ranks(vs):
        order = sorted(range(len(vs)), key=lambda i: vs[i])
        ranks = [0.0] * len(vs)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vs[order[j]] == vs[order[i]]:
                j += 1
            r = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = r
            i = j
        return ranks

    def rho(a, b):
        ra, rb = avg_ranks(a), avg_ranks(b)
        n = len(ra)
        sa, sb = sum(ra), sum(rb)
        p = sum(x * y for x, y in zip(ra, rb))
        ssa = sum(x * x for x in ra)
        ssb = sum(x * x for x in rb)
        import math

        return (n * p - sa * sb) / math.sqrt(
            (n * ssa - sa * sa) * (n * ssb - sb * sb)
        )

    data = {"x": xs, "y": ys, "z": zs, "w": ws}
    for (a, b), r in got.items():
        assert r.n == 12
        assert abs(r.spearman - rho(data[a], data[b])) < 1e-12
    assert abs(got[("x", "y")].spearman - 1.0) < 1e-12
    assert abs(got[("x", "z")].spearman - (-1.0)) < 1e-12
    assert 0 < got[("x", "w")].spearman < 1


def test_spearman_matrix_nulls_listwise_and_fences(spark):
    import pytest

    from pandera_forge_spark.profiler import spearman_matrix

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (3.0, 3.0), (4.0, 4.0)],
        "a double, b double",
    )
    r = spearman_matrix(df, ["a", "b"]).collect()[0]
    assert r.n == 3 and abs(r.spearman - 1.0) < 1e-12
    with pytest.raises(ValueError, match="at least 2"):
        spearman_matrix(df, ["a"])
    with pytest.raises(ValueError, match="missing"):
        spearman_matrix(df, ["a", "ghost"])


def test_chao1_hand_computed(spark):
    """Census a:3, b:1, c:1, d:2 -> V=4, F1=2, F2=1:
    chao1 = 4 + 2*1/(2*2) = 4.5; a no-singleton census adds 0."""
    from pandera_forge_spark.profiler import chao1_estimate

    rows = (["a"] * 3 + ["b", "c"] + ["d"] * 2)
    df = spark.createDataFrame([(v,) for v in rows], "v string")
    r = chao1_estimate(df, "v").collect()[0]
    assert (r.n_rows, r.v_obs, r.f1, r.f2) == (7, 4, 2, 1)
    assert abs(r.chao1 - 4.5) < 1e-12
    sat = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "v string")
    r2 = chao1_estimate(sat, "v").collect()[0]
    assert r2.chao1 == 2.0   # F1 = 0 -> no unseen correction


def test_chao1_groups_and_fences(spark):
    import pytest

    from pandera_forge_spark.profiler import chao1_estimate

    df = spark.createDataFrame(
        [("g", "a"), ("g", "a"), ("h", "z"), ("h", None)],
        "grp string, v string",
    )
    got = {r.grp: r for r in chao1_estimate(df, "v", ["grp"]).collect()}
    assert got["g"].f1 == 0 and got["h"].f1 == 1
    assert got["h"].n_rows == 1          # null dropped
    with pytest.raises(ValueError, match="missing"):
        chao1_estimate(df, "ghost")


def test_jackknife_ratio_matches_python_reference(spark):
    """Per-day conversion rate with 4 folds, replayed directly: the
    leave-one-out ratios, their (k-1)/k spread, and the pooled ratio
    all match; a zero-denominator fold is excluded and counted."""
    import math

    from pandera_forge_spark.profiler import jackknife_ratio

    folds = {
        "d1": (3.0, 10.0),
        "d2": (5.0, 12.0),
        "d3": (1.0, 8.0),
        "d4": (4.0, 9.0),
    }
    rows = []
    for f, (num, den) in folds.items():
        rows.append((f, num, den))
    df = spark.createDataFrame(rows, "f string, num double, den double")
    r = jackknife_ratio(
        df, F.col("num"), F.col("den"), F.col("f")
    ).collect()[0]
    tn = sum(v[0] for v in folds.values())
    td = sum(v[1] for v in folds.values())
    loos = [(tn - n) / (td - d) for n, d in folds.values()]
    k = len(loos)
    mean = sum(loos) / k
    var = (k - 1) / k * sum((x - mean) ** 2 for x in loos)
    assert r.n_folds == 4 and r.n_zero_folds == 0
    assert abs(r.ratio - tn / td) < 1e-12
    assert abs(r.se - math.sqrt(var)) < 1e-9
    # a zero-denominator fold is excluded from the leave-out set
    rows.append(("dz", 0.0, 0.0))
    df2 = spark.createDataFrame(rows, "f string, num double, den double")
    r2 = jackknife_ratio(df2, F.col("num"), F.col("den"), F.col("f")).collect()[0]
    assert r2.n_folds == 5 and r2.n_zero_folds == 1 and abs(r2.ratio - tn / td) < 1e-12
    # ... so the SE is the 4-fold one, not a 5-fold spread that counts
    # the zero fold's leave-out ratio (tn / td) as a fifth estimate
    assert abs(r2.se - math.sqrt(var)) < 1e-9


def test_jackknife_ratio_degenerate(spark):
    from pandera_forge_spark.profiler import jackknife_ratio

    one = spark.createDataFrame([("a", 1.0, 2.0)], "f string, n double, d double")
    r = jackknife_ratio(one, F.col("n"), F.col("d"), F.col("f")).collect()[0]
    assert r.se is None   # a single fold has no leave-out spread


def test_benford2_digit_extraction_and_chi2(spark):
    """Second-digit extraction pinned value by value (incl. the
    one-digit '3.0' -> 0 case and sub-1 leading-zero stripping), and
    a Benford-conforming synthetic sample passes while a .99-priced
    column flunks."""
    import math
    import random

    from pandera_forge_spark.profiler import BENFORD2_P, benford2_profile

    probe = spark.createDataFrame(
        [(3.0,), (0.052,), (1234.0,), (-5.2,), (0.0,), (None,), (1.5e-4,)],
        "x double",
    )
    from pyspark.sql import functions as FF

    digits = probe.select(
        FF.substring(
            FF.regexp_replace(
                FF.regexp_replace(FF.col("x").cast("string"), "[^0-9]", ""),
                "^0+", "",
            ), 2, 1,
        ).alias("d")
    ).collect()
    assert [r.d for r in digits] == ["0", "2", "2", "2", "", None, "5"]

    rng = random.Random(7)
    benford_vals = [(10 ** rng.uniform(0, 4),) for _ in range(4000)]
    priced = [(float(f"{rng.randrange(1, 99)}.99"),) for _ in range(4000)]
    bdf = spark.createDataFrame(benford_vals, "good double")
    pdf = spark.createDataFrame(priced, "bad double")
    g = benford2_profile(bdf, ["good"]).collect()[0]
    b = benford2_profile(pdf, ["bad"]).collect()[0]
    assert g.conforms and g.n == 4000
    assert not b.conforms and b.chi2 > g.chi2
    assert abs(sum(BENFORD2_P.values()) - 1.0) < 1e-12
