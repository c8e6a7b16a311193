"""Drift fixture F7: partition B (shifted) must drift, a second seeded
draw of A must not."""

import pytest
from pyspark.sql import functions as F

from pandera_forge_spark.drift import (
    baseline_summary,
    drift_by_partition,
    drift_verdicts,
    psi_of,
)


def _normal(spark, n, mean, std, seed, label):
    # deterministic N(mean, std) via seeded rand -> Box-Muller-ish: use
    # randn with fixed seed (stable for a fixed partitioning)
    return (
        spark.range(n)
        .repartition(4)
        .select(
            F.lit(label).alias("part"),
            (F.randn(seed) * std + mean).alias("x"),
        )
    )


@pytest.fixture(scope="module")
def data(spark):
    a = _normal(spark, 20000, 0.0, 1.0, 1, "A")
    a2 = _normal(spark, 20000, 0.0, 1.0, 2, "A2")
    b = _normal(spark, 20000, 0.5, 1.2, 3, "B")
    return a, a.unionByName(a2).unionByName(b)


def test_baseline_summary(spark, data):
    a, _ = data
    s = baseline_summary(a, "x", bins=10)
    assert len(s["edges"]) == 9
    assert abs(sum(s["props"]) - 1.0) < 1e-6
    # median of N(0,1) near 0
    assert abs(s["edges"][4]) < 0.1
    # each quantile bin holds ~10%
    assert all(0.05 < p < 0.15 for p in s["props"])


def test_drift_detected_only_for_shifted(spark, data):
    a, both = data
    s = baseline_summary(a, "x", bins=10)
    out = {r["part"]: r for r in drift_verdicts(both, "x", ["part"], s).collect()}
    assert not out["A"]["drifted"]  # identical data: zero drift
    assert not out["A2"]["drifted"]  # fresh draw of same dist: below threshold
    assert out["B"]["drifted"]  # shifted dist: above threshold
    assert out["B"]["psi"] > 0.2 and out["A2"]["psi"] < 0.05
    assert out["B"]["ks"] > 0.1 and out["A2"]["ks"] < 0.03
    assert out["A"]["psi"] < 1e-9 and out["A"]["ks"] < 1e-9


def test_nulls_excluded(spark):
    base = spark.range(1000).select((F.col("id") % 100).cast("double").alias("x"))
    s = baseline_summary(base, "x", bins=5)
    withnulls = spark.range(1000).select(
        F.lit("p").alias("part"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 100).cast("double")).alias("x"),
    )
    row = drift_by_partition(withnulls, "x", ["part"], s).collect()[0]
    assert row["n"] == 500
    assert row["psi"] < 0.05


def test_psi_of_helper():
    assert psi_of([0.5, 0.5], [0.5, 0.5]) == 0.0
    assert psi_of([0.9, 0.1], [0.5, 0.5]) > 0.2


def test_wasserstein_severity_order(spark, data):
    """W1 ranks 'shifted' above 'same distribution' and is ~0 for
    identical data; a one-bin jitter scores LOWER than a far shift even
    when PSI can't tell them apart — the severity ordering W1 exists
    for."""
    from pandera_forge_spark.drift import wasserstein_by_partition

    a, both = data
    # fixed grid so the statistic is deterministic and oracle-replayable
    edges = [-2.0 + 0.5 * i for i in range(9)]  # -2.0 .. 2.0
    s = baseline_summary(a, "x", edges=edges)
    rows = {r["part"]: r for r in wasserstein_by_partition(
        both, "x", ["part"], s).collect()}
    assert rows["A"]["w1"] < 1e-12  # identical data: exactly zero drift
    assert rows["A2"]["w1"] < 0.05  # fresh draw of same dist: small
    assert rows["B"]["w1"] > 0.3  # mean shift 0.5: W1 ~ the shift
    assert rows["B"]["w1"] > 5 * rows["A2"]["w1"]


def test_wasserstein_distance_weighting(spark):
    """Moving 30% of mass ONE bin vs FOUR bins: same PSI, 4x the W1 —
    the support-awareness PSI lacks."""
    from pandera_forge_spark.drift import wasserstein_by_partition

    edges = [float(i) for i in range(6)]  # 0..5, unit gaps
    base = spark.range(1000).select(F.lit(0.0).alias("x"))  # all mass at 0
    s = baseline_summary(base, "x", edges=edges)
    # near: 70% at 0.0, 30% at 1.0; far: 70% at 0.0, 30% at 5.0
    cur = spark.range(2000).select(
        F.when(F.col("id") < 1000, "near").otherwise("far").alias("part"),
        F.when(F.col("id") % 10 < 7, F.lit(0.0))
        .otherwise(
            F.when(F.col("id") < 1000, F.lit(1.0)).otherwise(F.lit(5.0))
        )
        .alias("x"),
    )
    rows = {r["part"]: r["w1"] for r in wasserstein_by_partition(
        cur, "x", ["part"], s).collect()}
    assert abs(rows["near"] - 0.3) < 1e-12  # 0.3 mass moved 1 unit
    assert abs(rows["far"] - 1.5) < 1e-12  # 0.3 mass moved 5 units
    assert abs(rows["far"] / rows["near"] - 5.0) < 1e-9


def test_wasserstein_matches_driver_replay(spark):
    """Engine W1 == w1_of python replay bit-for-bit on integer counts."""
    from pandera_forge_spark.drift import w1_of, wasserstein_by_partition

    edges = [0.0, 10.0, 25.0, 50.0, 100.0]
    base = spark.range(997).select(((F.col("id") * 37) % 113).cast("double").alias("x"))
    s = baseline_summary(base, "x", edges=edges)
    cur = spark.range(1009).select(
        F.lit("p").alias("part"),
        (((F.col("id") * 91) % 131) - 5).cast("double").alias("x"),
    )
    got = wasserstein_by_partition(cur, "x", ["part"], s).collect()[0]["w1"]
    # replay: bin the current partition the same way driver-side
    xs = [(((i * 91) % 131) - 5) for i in range(1009)]
    bins = [0] * (len(edges) + 1)
    for x in xs:
        b = 0
        while b < len(edges) and x > edges[b]:
            b += 1
        bins[b] += 1
    expect = w1_of(bins, s["counts"], edges)
    assert got == expect  # bit-identical, not approximately


def test_wasserstein_guards(spark):
    from pandera_forge_spark.drift import wasserstein_by_partition

    base = spark.range(10).select(F.col("id").cast("double").alias("x"))
    s = baseline_summary(base, "x", edges=[1.0, 5.0])
    legacy = {k: v for k, v in s.items() if k not in ("counts", "n")}
    with pytest.raises(ValueError, match="integer bin counts"):
        wasserstein_by_partition(base.withColumn("part", F.lit("p")), "x", ["part"], legacy)
    one_edge = baseline_summary(base, "x", edges=[5.0])
    with pytest.raises(ValueError, match=">=2 edges"):
        wasserstein_by_partition(base.withColumn("part", F.lit("p")), "x", ["part"], one_edge)
    bad = dict(s, edges=[5.0, 1.0])
    with pytest.raises(ValueError, match="strictly increasing"):
        wasserstein_by_partition(base.withColumn("part", F.lit("p")), "x", ["part"], bad)
    # empty partition scores 0.0, not NULL
    withnull = spark.range(10).select(
        F.lit("allnull").alias("part"), F.lit(None).cast("double").alias("x")
    )
    row = wasserstein_by_partition(withnull, "x", ["part"], s).collect()[0]
    assert row["n"] == 0 and row["w1"] == 0.0


def test_categorical_drift(spark):
    """Identical distribution -> PSI/chi2 ~ 0; a partition with a
    shifted category mix scores high on both; missing categories take
    the EPS floor instead of crashing."""
    from pyspark.sql import functions as F

    from pandera_forge_spark.drift import (
        categorical_baseline,
        categorical_drift_by_partition,
    )

    # baseline: 60/30/10 mix of A/B/C
    base = spark.range(1000).select(
        F.when(F.col("id") % 10 < 6, "A")
        .when(F.col("id") % 10 < 9, "B")
        .otherwise("C")
        .alias("cat")
    )
    b = categorical_baseline(base, "cat")
    assert b["cats"] == ["A", "B", "C"] and abs(b["props"][0] - 0.6) < 1e-9

    # part "same": the same mix; part "flip": all C (drifted);
    # part "skew": only A and B (C missing entirely)
    cur = spark.range(3000).select(
        F.when(F.col("id") < 1000, "same")
        .when(F.col("id") < 2000, "flip")
        .otherwise("skew")
        .alias("part"),
        F.when(
            F.col("id") < 1000,
            F.when(F.col("id") % 10 < 6, "A")
            .when(F.col("id") % 10 < 9, "B")
            .otherwise("C"),
        )
        .when(F.col("id") < 2000, F.lit("C"))
        .otherwise(F.when(F.col("id") % 2 == 0, "A").otherwise("B"))
        .alias("cat"),
    )
    rows = {
        r["part"]: r
        for r in categorical_drift_by_partition(cur, "cat", ["part"], b).collect()
    }
    assert rows["same"]["psi"] < 0.01 and rows["same"]["chi2"] < 1.0
    assert rows["flip"]["psi"] > 1.0 and rows["flip"]["chi2"] > 1000
    assert rows["skew"]["psi"] > 0.1
    assert all(r["n"] == 1000 for r in rows.values())


def test_categorical_baseline_other_bucket(spark):
    from pyspark.sql import functions as F

    from pandera_forge_spark.drift import categorical_baseline

    df = spark.range(100).select(
        F.concat(F.lit("v"), (F.col("id") % 20).cast("string")).alias("c")
    )
    b = categorical_baseline(df, "c", max_categories=5)
    assert len(b["cats"]) == 5
    assert abs(b["other"] - 0.75) < 1e-9  # 15 of 20 uniform categories


def test_categorical_drift_verdicts(spark):
    from pyspark.sql import functions as F

    from pandera_forge_spark.drift import (
        categorical_baseline,
        categorical_drift_verdicts,
    )

    base = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("cat")
    )
    b = categorical_baseline(base, "cat")
    cur = spark.range(2000).select(
        F.when(F.col("id") < 1000, "same").otherwise("flip").alias("part"),
        F.when(F.col("id") < 1000, F.when(F.col("id") % 2 == 0, "A").otherwise("B"))
        .otherwise(F.lit("A"))
        .alias("cat"),
    )
    v = {r["part"]: r["drifted"] for r in categorical_drift_verdicts(
        cur, "cat", ["part"], b).collect()}
    assert v == {"same": False, "flip": True}


def test_categorical_drift_empty_and_allnull_partitions(spark):
    """Partitions with zero non-null rows score 0 (no evidence), not
    'maximally drifted'."""
    from pyspark.sql import functions as F

    from pandera_forge_spark.drift import (
        categorical_baseline,
        categorical_drift_by_partition,
    )

    base = spark.range(100).select(
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("cat")
    )
    b = categorical_baseline(base, "cat")
    cur = spark.range(200).select(
        F.when(F.col("id") < 100, "ok").otherwise("nulls").alias("part"),
        F.when(
            F.col("id") < 100,
            F.when(F.col("id") % 2 == 0, "A").otherwise("B"),
        ).alias("cat"),  # 'nulls' partition: cat is NULL everywhere
    )
    rows = {r["part"]: r for r in categorical_drift_by_partition(
        cur, "cat", ["part"], b).collect()}
    assert rows["nulls"]["n"] == 0
    assert rows["nulls"]["psi"] == 0.0 and rows["nulls"]["chi2"] == 0.0
    assert rows["ok"]["psi"] < 0.01


def test_table_drift_report_matches_single_column_ops(spark):
    """Cross-operator differential: the fused multi-column report
    reproduces drift_by_partition's psi/ks and
    wasserstein_by_partition's w1 bit-for-bit, per column."""
    from pandera_forge_spark.drift import (
        table_drift_report,
        wasserstein_by_partition,
    )

    df = spark.range(2000).select(
        (F.col("id") % 97).cast("double").alias("x"),
        ((F.col("id") * 31) % 113).cast("double").alias("y"),
    )
    base_src = spark.range(1500).select(
        ((F.col("id") * 7) % 97).cast("double").alias("x"),
        ((F.col("id") * 13) % 113).cast("double").alias("y"),
    )
    bx = baseline_summary(base_src, "x", edges=[10.0, 30.0, 60.0, 90.0])
    by = baseline_summary(base_src, "y", edges=[20.0, 55.0, 80.0])
    got = {
        r["column"]: r
        for r in table_drift_report(df, {"x": bx, "y": by}).collect()
    }
    for c, b in (("x", bx), ("y", by)):
        [single] = drift_by_partition(df, c, [], b).collect()
        assert got[c]["n"] == single["n"]
        assert got[c]["psi"] == single["psi"], c
        assert got[c]["ks"] == single["ks"], c
        [w] = wasserstein_by_partition(df, c, [], b).collect()
        assert got[c]["w1"] == w["w1"], c


def test_table_drift_report_single_scan_and_fences(spark):
    from pandera_forge_spark.drift import table_drift_report
    from pandera_forge_spark.plans.inspect import has_python_udf

    df = spark.range(100).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    b = baseline_summary(df, "x", edges=[10.0, 50.0])
    out = table_drift_report(df, {"x": b, "y": b})
    assert not has_python_udf(out)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("range") <= 1  # ONE scan for all columns
    with pytest.raises(ValueError, match="non-empty"):
        table_drift_report(df, {})
    with pytest.raises(ValueError, match="not in frame"):
        table_drift_report(df, {"zzz": b})
    legacy = {k: v for k, v in b.items() if k not in ("counts", "n")}
    with pytest.raises(ValueError, match="integer bin counts"):
        table_drift_report(df, {"x": legacy})
    one_edge = baseline_summary(df, "x", edges=[5.0])
    with pytest.raises(ValueError, match=">=2 edges"):
        table_drift_report(df, {"x": one_edge})
    a = sorted(map(tuple, table_drift_report(df.repartition(7), {"x": b, "y": b}).collect()))
    c = sorted(map(tuple, table_drift_report(df.coalesce(1), {"x": b, "y": b}).collect()))
    assert a == c


# ---------------------------------------------------------- drift_attribution


def test_attribution_terms_sum_to_psi_and_localize(spark):
    import math

    from pandera_forge_spark.drift import (
        baseline_summary,
        drift_attribution,
        drift_by_partition,
    )

    base = spark.createDataFrame(
        [(float(i % 100),) for i in range(2000)], "v double"
    )
    b = baseline_summary(base, "v", edges=[25.0, 50.0, 75.0])
    # drifted: mass pushed into the top bin
    cur = spark.createDataFrame(
        [(float(i % 100) if i % 3 else 90.0,) for i in range(2000)],
        "v double",
    )
    rows = drift_attribution(cur, "v", b).collect()
    assert [r["bin"] for r in rows] == [0, 1, 2, 3]
    assert rows[0]["lo"] is None and rows[3]["hi"] is None
    assert rows[1]["lo"] == 25.0 and rows[1]["hi"] == 50.0
    # terms sum to the scalar PSI the scoring operator reports
    scored = drift_by_partition(
        cur.withColumn("g", F.lit("all")), "v", ["g"], b
    ).collect()[0]
    assert math.isclose(
        sum(r["psi_term"] for r in rows), scored["psi"], rel_tol=1e-12
    )
    # the planted shift localizes: top bin has the largest positive term
    top = max(rows, key=lambda r: r["psi_term"])
    assert top["bin"] == 3 and top["p_cur"] > top["q_base"]
    # mass must leave the lower bins -> their p < q
    assert rows[0]["p_cur"] < rows[0]["q_base"]


def test_attribution_clean_data_near_zero(spark):
    from pandera_forge_spark.drift import baseline_summary, drift_attribution
    from pandera_forge_spark.plans.inspect import has_python_udf

    base = spark.createDataFrame(
        [(float(i % 50),) for i in range(1000)], "v double"
    )
    b = baseline_summary(base, "v", edges=[10.0, 25.0, 40.0])
    rows = drift_attribution(base, "v", b).collect()
    assert all(abs(r["psi_term"]) < 1e-9 for r in rows)
    assert sum(r["n_rows"] for r in rows) == 1000
    assert not has_python_udf(drift_attribution(base, "v", b))


# ------------------------------------------------------------ surprise_scores


def test_surprise_scores_rarity_ladder(spark):
    import math

    from pandera_forge_spark.drift import baseline_summary, surprise_scores

    base = spark.createDataFrame(
        [(10.0,)] * 80 + [(30.0,)] * 20, "v double"
    )
    b = baseline_summary(base, "v", edges=[20.0, 40.0])
    cur = spark.createDataFrame(
        [(5.0,), (35.0,), (99.0,), (None,)], "v double"
    )
    got = {r["v"]: r["surprise"] for r in surprise_scores(cur, "v", b).collect()}
    assert math.isclose(got[5.0], -math.log(0.8))
    assert math.isclose(got[35.0], -math.log(0.2))
    # bin the baseline never saw: EPS floor -> maximum surprise
    assert math.isclose(got[99.0], -math.log(1e-6))
    assert got[None] is None
    # rare beats common, empty beats rare
    assert got[5.0] < got[35.0] < got[99.0]


def test_surprise_scores_contracts(spark):
    import pytest

    from pandera_forge_spark.drift import baseline_summary, surprise_scores
    from pandera_forge_spark.plans.inspect import executed_plan, has_python_udf

    base = spark.createDataFrame([(1.0,)] * 10, "v double")
    b = baseline_summary(base, "v", edges=[5.0])
    out = surprise_scores(base, "v", b)
    assert not has_python_udf(out)
    assert "Exchange" not in executed_plan(out)  # pure projection
    with pytest.raises(ValueError, match="already exists"):
        surprise_scores(base.withColumn("surprise", F.lit(1)), "v", b)


def test_bh_adjust_textbook_example(spark):
    """Hand-computed BH step-up: m=10 p-values, q=0.25 — the classic
    worked example where p_(4)=0.092 <= 4*0.25/10=0.1 is the largest
    satisfying rank, so ranks 1..4 are rejected INCLUDING p_(3)=0.09
    which fails its OWN per-rank cut (0.075) — the step-up, not
    step-down, semantics."""
    from pandera_forge_spark.drift import bh_adjust

    ps = [0.001, 0.021, 0.09, 0.092, 0.2, 0.3, 0.4, 0.6, 0.75, 0.9]
    df = spark.createDataFrame(
        [(f"s{i}", p) for i, p in enumerate(ps)], "slice string, p double"
    )
    out = {r.slice: (r.p_rank, r.rejected) for r in bh_adjust(
        df, "p", q=0.25, tie_cols=["slice"]
    ).collect()}
    assert out["s0"] == (1, True)
    assert out["s2"] == (3, True)   # step-up rescues rank 3
    assert out["s3"] == (4, True)
    assert out["s4"] == (5, False)
    assert out["s9"] == (10, False)


def test_bh_adjust_none_rejected_and_nulls_dropped(spark):
    from pandera_forge_spark.drift import bh_adjust

    df = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("c", None)], "slice string, p double"
    )
    rows = bh_adjust(df, "p", q=0.05, tie_cols=["slice"]).collect()
    assert len(rows) == 2  # null-p row dropped
    assert not any(r.rejected for r in rows)


def test_bh_adjust_tie_determinism(spark):
    from pandera_forge_spark.drift import bh_adjust

    df = spark.createDataFrame(
        [("b", 0.01), ("a", 0.01), ("c", 0.9)], "slice string, p double"
    )
    out = {r.slice: r.p_rank for r in bh_adjust(
        df, "p", tie_cols=["slice"]
    ).collect()}
    assert out == {"a": 1, "b": 2, "c": 3}


def test_bh_adjust_validates_args(spark):
    from pandera_forge_spark.drift import bh_adjust

    df = spark.createDataFrame([("a", 0.5)], "slice string, p double")
    import pytest as _pt

    with _pt.raises(ValueError, match="q must be"):
        bh_adjust(df, "p", q=1.5)
    with _pt.raises(ValueError, match="missing"):
        bh_adjust(df, "nope")
    with _pt.raises(ValueError, match="tie column"):
        bh_adjust(df, "p", tie_cols=["ghost"])


def test_ks_pvalue_planted_drift_is_rejected(spark):
    """End-to-end: 40 natural slices + 5 planted shifted slices; the
    KS one-term p-value + BH at q=0.05 rejects exactly the planted
    slices (every planted row lands in the top bin, KS ~ 0.8)."""
    from pandera_forge_spark.drift import (
        baseline_summary,
        bh_adjust,
        drift_by_partition,
        ks_pvalue,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = baseline_summary(ev, "value", edges=[10.0, 25.0, 50.0, 100.0])
    slices = ev.select(
        "event_type", (F.col("user_id") % 8).alias("bucket"), "value"
    )
    planted = ev.where(F.col("user_id") % 11 == 0).select(
        "event_type",
        F.lit(100).alias("bucket"),
        (F.col("value") * 3 + 500).alias("value"),
    )
    d = drift_by_partition(
        slices.unionByName(planted), "value",
        ["event_type", "bucket"], base,
    )
    m = ev.where(F.col("value").isNotNull()).count()
    scored = d.withColumn(
        "p", ks_pvalue(F.col("ks"), F.col("n"), F.lit(m))
    )
    out = bh_adjust(scored, "p", q=0.05, tie_cols=["event_type", "bucket"])
    rej = {(r.event_type, r.bucket) for r in out.collect() if r.rejected}
    assert {b for _, b in rej} == {100}
    assert len(rej) == 5


def test_quantile_normalize_aligns_shifted_groups(spark):
    """Group b = group a + 100: after normalization onto the global
    grid, equal within-group ranks map to identical normalized
    values, and the reference is numpy's linear-interpolated
    percentile of the pooled values (Spark exact-percentile
    semantics)."""
    import numpy as np

    from pandera_forge_spark.drift import quantile_normalize

    a_vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    b_vals = [v + 100 for v in a_vals]
    rows = [("a", i, v) for i, v in enumerate(a_vals)] + [
        ("b", i, v) for i, v in enumerate(b_vals)
    ]
    df = spark.createDataFrame(rows, "src string, rid long, value double")
    out = quantile_normalize(df, "value", ["src"], "rid", grid=4).collect()
    got = {(r.src, r.rid): (r.p_grid, r.normalized) for r in out}
    pooled = np.array(sorted(a_vals + b_vals))
    for rid in range(8):
        cell_a, norm_a = got[("a", rid)]
        cell_b, norm_b = got[("b", rid)]
        assert cell_a == cell_b           # same within-group rank
        assert norm_a == norm_b           # -> same global target
        expect = float(np.percentile(pooled, cell_a * 25.0, method="linear"))
        assert abs(norm_a - expect) < 1e-9
    # monotone in rank
    norms_a = [got[("a", r)][1] for r in range(8)]
    assert norms_a == sorted(norms_a)


def test_quantile_normalize_null_and_fences(spark):
    import pytest as _pt

    from pandera_forge_spark.drift import quantile_normalize

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, None), ("b", 3, 5.0)],
        "src string, rid long, value double",
    )
    out = quantile_normalize(df, "value", ["src"], "rid", grid=10).collect()
    assert len(out) == 2  # null value dropped
    with _pt.raises(ValueError, match="grid"):
        quantile_normalize(df, "value", ["src"], "rid", grid=1)
    with _pt.raises(ValueError, match="group_cols"):
        quantile_normalize(df, "value", [], "rid")
    with _pt.raises(ValueError, match="missing"):
        quantile_normalize(df, "ghost", ["src"], "rid")


def test_importance_weights_hand_computed(spark):
    """Source uniform over two bins (4+4), target 75/25: weights must
    be exactly 1.5 and 0.5, ESS = (Σnw)²/Σnw² = 64/(9+1) * ... = 8²/10
    = 6.4, and the row-level attach maps each row to its bin's
    weight."""
    from pandera_forge_spark.drift import (
        attach_importance_weights,
        baseline_summary,
        effective_sample_size,
        importance_weight_bins,
    )

    target = spark.createDataFrame(
        [(float(v),) for v in [1, 1, 1, 5]] * 2, "x double"
    )
    base = baseline_summary(target, "x", edges=[2.0])
    assert base["props"] == [0.75, 0.25]
    source = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 1, 1, 1, 5, 5, 5, 5])],
        "rid long, x double",
    )
    bins = importance_weight_bins(source, "x", base)
    got = {r.bin: r for r in bins.collect()}
    assert got[0].n_source == 4 and got[0].weight == 1.5
    assert got[1].n_source == 4 and got[1].weight == 0.5
    ess = effective_sample_size(bins).collect()[0]
    assert ess.n_rows == 8
    assert abs(ess.sum_w - 8.0) < 1e-12           # weights renormalize
    assert abs(ess.ess - 6.4) < 1e-12
    rows = attach_importance_weights(source, "x", base).collect()
    for r in rows:
        assert r.weight == (1.5 if r.x <= 2.0 else 0.5)


def test_importance_weights_clip_and_nulls(spark):
    from pandera_forge_spark.drift import (
        attach_importance_weights,
        baseline_summary,
        importance_weight_bins,
    )

    target = spark.createDataFrame(
        [(float(v),) for v in [1, 5, 5, 5]], "x double"
    )
    base = baseline_summary(target, "x", edges=[2.0])
    # source has NO mass in bin 0 -> EPS-floored ratio would explode;
    # the clip bounds it
    source = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, None)], "rid long, x double"
    )
    bins = {r.bin: r for r in importance_weight_bins(
        source, "x", base, clip=10.0
    ).collect()}
    assert bins[0].weight == 10.0
    rows = {r.rid: r.weight for r in attach_importance_weights(
        source, "x", base
    ).collect()}
    assert rows[3] is None                        # NULL stays NULL
    import pytest as _pt

    with _pt.raises(ValueError, match="clip"):
        importance_weight_bins(source, "x", base, clip=0)
    with _pt.raises(ValueError, match="already exists"):
        attach_importance_weights(source, "x", base, out_col="x")


def test_eb_shrink_rates_reference_and_direction(spark):
    """Hand-built slices replayed in python: MoM prior, posterior
    means; the tiny 1/1=100% slice shrinks far toward the fleet mean,
    the big slice barely moves; order between raw and shrunk flips
    exactly as the posterior predicts."""
    from pandera_forge_spark.drift import eb_shrink_rates

    slices = {"a": (100, 30), "b": (80, 20), "c": (120, 42), "d": (1, 1)}
    rows = []
    for g, (n, x) in slices.items():
        rows += [(g, 1)] * x + [(g, 0)] * (n - x)
    df = spark.createDataFrame(rows, "grp string, ok int")
    got = {r.grp: r for r in eb_shrink_rates(
        df, F.col("ok") == 1, ["grp"]
    ).collect()}

    rates = [x / n for n, x in slices.values()]
    k = len(rates)
    m = sum(rates) / k
    m2 = sum(r * r for r in rates) / k
    v = m2 - m * m
    ab = m * (1 - m) / v - 1
    alpha, beta = m * ab, (1 - m) * ab
    for g, (n, x) in slices.items():
        expect = (x + alpha) / (n + ab)
        assert abs(got[g].shrunk_rate - expect) < 1e-9
        assert abs(got[g].alpha - alpha) < 1e-9
    # the 100% slice is pulled well below 1 (the 1-row slice itself
    # inflates the across-slice variance, so the fitted prior is weak
    # — the shrinkage direction, not its final value, is the contract)
    assert got["d"].raw_rate == 1.0 and got["d"].shrunk_rate < 0.75
    # a big slice barely moves
    assert abs(got["a"].shrunk_rate - 0.3) < 0.02


def test_eb_shrink_rates_degenerate_and_fences(spark):
    import pytest

    from pandera_forge_spark.drift import eb_shrink_rates

    same = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 1), ("b", 0)], "grp string, ok int"
    )
    out = {r.grp: r for r in eb_shrink_rates(
        same, F.col("ok") == 1, ["grp"]
    ).collect()}
    # zero across-slice variance -> NULL shrunk, raw kept
    assert all(r.shrunk_rate is None and r.raw_rate == 0.5
               for r in out.values())
    with pytest.raises(ValueError, match="group_cols"):
        eb_shrink_rates(same, F.col("ok") == 1, [])
    with pytest.raises(ValueError, match="missing"):
        eb_shrink_rates(same, F.col("ok") == 1, ["ghost"])


def test_brown_forsythe_matches_scipy_style_reference(spark):
    """Three groups with different spreads replayed against a direct
    python Brown-Forsythe computation; equal-spread groups give a
    tiny F, one wide group inflates it."""
    from pandera_forge_spark.drift import brown_forsythe

    groups = {
        "a": [1.0, 2.0, 3.0, 4.0, 5.0],
        "b": [10.0, 11.0, 12.0, 13.0, 14.0],
        "c": [-20.0, -10.0, 0.0, 10.0, 20.0],   # wide
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, v double")
    r = brown_forsythe(df, "v", "grp").collect()[0]

    import statistics

    zs = {
        g: [abs(v - statistics.median(vs)) for v in vs]
        for g, vs in groups.items()
    }
    allz = [z for v in zs.values() for z in v]
    n, k = len(allz), len(zs)
    gbar = sum(allz) / n
    ssb = sum(len(v) * (sum(v) / len(v) - gbar) ** 2 for v in zs.values())
    ssw = sum(
        (z - sum(v) / len(v)) ** 2 for v in zs.values() for z in v
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r.k_groups == 3 and r.n_rows == 15
    assert abs(r.ss_between - ssb) < 1e-9
    assert abs(r.ss_within - ssw) < 1e-9
    assert abs(r.f_stat - f) < 1e-9
    # equal spreads -> F collapses
    eq = spark.createDataFrame(
        [(g, v) for g in ("x", "y") for v in (1.0, 2.0, 3.0)],
        "grp string, v double",
    )
    r2 = brown_forsythe(eq, "v", "grp").collect()[0]
    assert abs(r2.f_stat) < 1e-9


def test_brown_forsythe_degenerate_and_fences(spark):
    import pytest

    from pandera_forge_spark.drift import brown_forsythe

    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "grp string, v double")
    r = brown_forsythe(one, "v", "grp").collect()[0]
    assert r.f_stat is None          # k < 2, loudly
    with pytest.raises(ValueError, match="missing"):
        brown_forsythe(one, "ghost", "grp")


def test_drift_verdicts_round_trips(spark, data, py4j_commands):
    """Building the 10-bin drift_verdicts frame (binned aggregates, PSI,
    KS and the verdict) stays within 200 py4j commands: each aggregate
    and each statistic is one ``F.expr`` over SQL text. The Column-API
    build sent ~2.3k."""
    a, both = data
    base = baseline_summary(a, "x", bins=10)
    assert len(base["props"]) == 10
    with py4j_commands() as sent:
        drift_verdicts(both, "x", ["part"], base)
    assert len(sent) <= 200, len(sent)
