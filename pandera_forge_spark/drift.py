"""Distribution-drift detection: PSI and KS per partition.

North-rule mandate (BASELINE.json north_star: "distribution-drift
detection (KS-statistic and PSI over t-digest quantile sketches)
evaluated per Iceberg partition"); absent from the reference
(SURVEY.md §2.4 D1).

Scale design:
- The baseline distribution is summarized ONCE into k quantile edges
  (``percentile_approx`` — Spark's built-in mergeable quantile sketch,
  the Greenwald-Khanna analogue of a t-digest) plus its exact CDF/bin
  proportions at those edges: 2 jobs over the baseline, O(k) driver
  floats out.
- Scoring a table is then ONE aggregation pass: per partition, bin
  indicator sums (PSI) and edge CDF values (KS) are plain algebraic
  aggregates; PSI / KS themselves are closed-form column expressions
  over the aggregate row. Nothing is collected; the verdict frame stays
  distributed and joins into the audit sink.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandera_forge_spark.checks import quote_ident, sql_ident, sql_literal

DEFAULT_BINS = 10
EPS = 1e-6  # smoothing so empty bins don't blow up ln(p/q)


def quantile_edges(df: DataFrame, col: str, bins: int = DEFAULT_BINS) -> list[float]:
    """Interior quantile edges of the baseline (bins-1 cut points)."""
    probs = ", ".join(sql_literal(i / bins) for i in range(1, bins))
    row = df.agg(
        F.expr(f"percentile_approx({sql_ident(col)}, array({probs}), 10000) AS q")
    ).collect()[0]
    return [float(v) for v in row["q"]]


def _bin_exprs(
    col: str,
    edges: Sequence[float],
    count: Optional[str] = "__n",
    prefix: str = "__bin_",
) -> list[Column]:
    """The binned aggregates over column ``col`` (a name as ``F.col``
    reads it), one ``F.expr`` each: ``count``, its non-null rows (left
    out when None), then ``{prefix}i``, the rows in bin i — bin0 =
    (-inf, e0], bin_i = (e_{i-1}, e_i], bin_last = (e_last, inf)."""
    c = sql_ident(col)
    out = []
    if count is not None:
        out.append(F.expr(f"sum(CAST({c} IS NOT NULL AS BIGINT)) AS {quote_ident(count)}"))
    lo = None
    for i, e in enumerate(list(edges) + [None]):
        if lo is None and e is not None:
            ind = f"{c} <= {sql_literal(e)}"
        elif e is not None:
            ind = f"{c} > {sql_literal(lo)} AND {c} <= {sql_literal(e)}"
        else:
            ind = f"{c} > {sql_literal(lo)}"
        out.append(F.expr(f"sum(CAST({ind} AS BIGINT)) AS {quote_ident(f'{prefix}{i}')}"))
        lo = e
    return out


# SQL text of the per-partition statistics over the binned aggregates.
# ``b(i)`` is the SQL reference to bin i's count, ``n`` the row count as
# a double. Every fold runs left to right in a fixed order, and the
# parentheses pin the expression tree, so a statistic is bit-identical
# wherever it is computed.

_N = "CAST(greatest(`__n`, 1) AS DOUBLE)"


def _psi_term(b: str, n: str, q) -> str:
    """(p - q)·(ln p - ln q) with p = max(b / n, EPS)."""
    p = f"greatest({b} / {n}, {sql_literal(EPS)})"
    q = sql_literal(q)
    return f"(({p} - {q}) * (ln({p}) - ln({q})))"


def _psi_sql(b, n: str, q_props: Sequence[float]) -> str:
    return " + ".join(_psi_term(b(i), n, q) for i, q in enumerate(q_props))


def _ks_sql(b, n: str, q_cdf: Sequence[float]) -> str:
    """max over edges of |CDF_part(e) - CDF_base(e)|."""
    ks = acc = None
    for i, qc in enumerate(q_cdf):
        p = f"({b(i)} / {n})"
        acc = p if acc is None else f"({acc} + {p})"
        gap = f"abs({acc} - {sql_literal(qc)})"
        ks = gap if ks is None else f"greatest({ks}, {gap})"
    return ks


def _w1_sql(b, n_raw: str, edges: Sequence[float], counts: Sequence[int], n_base: int) -> str:
    """Grid-W1 with integer cumulative counts (see
    ``wasserstein_by_partition``); ``n_raw`` is the row count as a long."""
    terms = cum = None
    cumq = 0
    for i in range(len(edges) - 1):
        cum = b(i) if cum is None else f"({cum} + {b(i)})"
        cumq += int(counts[i])
        num = (
            f"CAST(abs({cum} * {sql_literal(int(n_base))} - "
            f"{sql_literal(cumq)} * {n_raw}) AS DOUBLE)"
        )
        t = f"({num} * {sql_literal(float(edges[i + 1] - edges[i]))})"
        terms = t if terms is None else f"({terms} + {t})"
    return (
        f"CASE WHEN {n_raw} > 0 THEN {terms} / "
        f"(CAST({n_raw} AS DOUBLE) * {sql_literal(float(n_base))}) ELSE 0.0D END"
    )


def _bin(i: int) -> str:
    return f"`__bin_{i}`"


def baseline_summary(
    df: DataFrame,
    col: str,
    bins: int = DEFAULT_BINS,
    edges: Optional[Sequence[float]] = None,
) -> dict:
    """Summarize a baseline: quantile edges + exact bin proportions +
    CDF at each edge. Returns plain python floats (broadcast as
    literals into the scoring pass). Pass explicit ``edges`` to use a
    fixed grid instead of data-derived quantiles (needed when an
    external oracle must reproduce the binning exactly)."""
    if edges is None:
        edges = quantile_edges(df, col, bins)
    edges = [float(e) for e in edges]
    row = df.where(f"{sql_ident(col)} IS NOT NULL").agg(
        F.expr("count(1) AS n"), *_bin_exprs(col, edges, count=None)
    ).collect()[0]
    n = row["n"] or 1
    props = [max(row[f"__bin_{i}"] / n, EPS) for i in range(len(edges) + 1)]
    cdf = []
    acc = 0.0
    for i in range(len(edges)):
        acc += row[f"__bin_{i}"] / n
        cdf.append(acc)
    counts = [int(row[f"__bin_{i}"]) for i in range(len(edges) + 1)]
    return {
        "edges": edges,
        "props": props,
        "cdf": cdf,
        # integer bin counts + true row count (round 5): the exact core
        # wasserstein_by_partition needs — float proportions lose the
        # integers that make its cross-multiplied CDF gaps engine-exact
        "counts": counts,
        "n": int(row["n"]),
    }


def drift_by_partition(
    df: DataFrame,
    col: str,
    partition_cols: Sequence[str],
    baseline: dict,
) -> DataFrame:
    """One pass: per-partition PSI and KS statistic against a
    ``baseline_summary``. Returns a distributed DataFrame
    (partition..., n, psi, ks) — no collect.

    PSI = Σ_bins (p_i - q_i) · ln(p_i / q_i)   (q = baseline)
    KS  = max_edges |CDF_part(e) - CDF_base(e)|  (max CDF gap over the
          shared quantile grid — the sketch-based KS approximation)

    The aggregates and both statistics are SQL text, one ``F.expr``
    each, so building the frame costs a few dozen py4j round trips
    whatever the bin count."""
    g = df.groupBy(*partition_cols).agg(*_bin_exprs(col, baseline["edges"]))
    return g.select(
        *partition_cols,
        F.expr("`__n` AS n"),
        F.expr(f"{_psi_sql(_bin, _N, baseline['props'])} AS psi"),
        F.expr(f"{_ks_sql(_bin, _N, baseline['cdf'])} AS ks"),
    )


def drift_verdicts(
    df: DataFrame,
    col: str,
    partition_cols: Sequence[str],
    baseline: dict,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Per-partition drift pass/fail (PSI>=0.2 is the conventional
    'significant shift' cut; KS threshold is fixture-calibrated)."""
    d = drift_by_partition(df, col, partition_cols, baseline)
    return d.withColumn(
        "drifted",
        F.expr(
            f"`psi` >= {sql_literal(psi_threshold)} OR `ks` >= {sql_literal(ks_threshold)}"
        ),
    )


def wasserstein_by_partition(
    df: DataFrame,
    col: str,
    partition_cols: Sequence[str],
    baseline: dict,
) -> DataFrame:
    """Grid-Wasserstein (earth-mover) distance per partition against a
    ``baseline_summary`` — the drift statistic PSI and KS both miss:
    PSI is support-blind (a shift from bin 1 to bin 2 scores the same
    as bin 1 to bin 10) and KS sees only the single worst CDF gap.
    W1 integrates ALL the CDF gaps weighted by how far the mass moved,
    so it ranks "prices doubled" above "prices jittered one bin" — the
    right severity order for a drift triage queue.

    Semantics: both distributions are projected onto the shared edge
    grid (each bin's mass snaps to its right edge; the overflow bin
    snaps to the last edge), and W1 between the snapped distributions
    is computed EXACTLY:

        W1 = Σ_{i=0}^{m-2} |CumP_i·Nq − CumQ_i·Np| · (e_{i+1} − e_i)
             / (Np · Nq)

    with every cumulative count an integer, so the only float ops are
    one multiply by the gap literal and one final divide, both in a
    FIXED left-to-right fold order — the statistic is bit-identical on
    any engine that bins the same way (the DuckDB oracle replays it).

    One aggregation pass (conditional-sum bins per partition, algebraic,
    map-side combine), no collect; the baseline rides in as literals.
    Grain note: the integer cross products CumP·Nq stay inside int64
    for counts up to ~3·10⁹ per side; a 10¹²-row baseline should be
    summarized from a sample anyway (its bin PROPORTIONS are the
    distribution — scale carries no extra information), which is also
    the documented path for the PSI/KS sketch edges.
    """
    edges = [float(e) for e in baseline["edges"]]
    counts = baseline.get("counts")
    n_base = baseline.get("n")
    if counts is None or not n_base:
        raise ValueError(
            "baseline lacks integer bin counts — rebuild it with the "
            "round-5 baseline_summary() on a non-empty baseline frame"
        )
    if len(edges) < 2:
        raise ValueError(
            f"grid-Wasserstein needs >=2 edges (got {len(edges)}): with "
            "one edge every distribution snaps to a single point and W1 "
            "is identically 0"
        )
    if any(later <= earlier for later, earlier in zip(edges[1:], edges)):
        raise ValueError(f"edges must be strictly increasing, got {edges}")
    g = df.groupBy(*partition_cols).agg(*_bin_exprs(col, edges))
    w1 = _w1_sql(_bin, "`__n`", edges, counts, n_base)
    return g.select(*partition_cols, F.expr("`__n` AS n"), F.expr(f"{w1} AS w1"))


def w1_of(p_counts: Sequence[int], q_counts: Sequence[int], edges: Sequence[float]) -> float:
    """Driver-side grid-W1 replay for unit tests / oracles — the same
    fixed-order fold as wasserstein_by_partition."""
    np_, nq = sum(p_counts), sum(q_counts)
    if np_ == 0:
        return 0.0
    cump = cumq = 0
    total = None
    for i in range(len(edges) - 1):
        cump += int(p_counts[i])
        cumq += int(q_counts[i])
        t = float(abs(cump * nq - cumq * np_)) * float(edges[i + 1] - edges[i])
        total = t if total is None else total + t
    return total / (float(np_) * float(nq))


MAX_CATEGORIES = 50


def categorical_baseline(
    df: DataFrame, col: str, max_categories: int = MAX_CATEGORIES
) -> dict:
    """Baseline category shares for a CATEGORICAL column: the top
    ``max_categories`` values (deterministic order: count desc, value
    asc) plus an OTHER bucket absorbing the tail. Bounding the category
    list is what keeps the scoring pass scale-safe — a high-cardinality
    column contributes at most max_categories+1 literal comparisons per
    row, never a per-category shuffle. Returns plain floats, broadcast
    as literals into the scoring aggregation."""
    c = F.col(col).cast("string")
    nn = df.where(c.isNotNull())
    top = (
        nn.groupBy(c.alias("v"))
        .count()
        .orderBy(F.desc("count"), F.asc("v"))
        .limit(max_categories)
        .collect()
    )
    total = nn.count()
    n = total or 1
    cats = [r["v"] for r in top]
    props = [r["count"] / n for r in top]
    # no data -> no tail mass (an all-null baseline carries no
    # distributional evidence; scoring treats 0-row partitions as
    # not-drifted symmetrically)
    other = max(0.0, 1.0 - sum(props)) if total else 0.0
    return {"cats": cats, "props": props, "other": other, "n": total}


def categorical_drift_by_partition(
    df: DataFrame,
    col: str,
    partition_cols: Sequence[str],
    baseline: dict,
) -> DataFrame:
    """One aggregation pass: per-partition PSI and chi-square statistic
    of a categorical column against a ``categorical_baseline``.

    Per partition, each baseline category's count is a conditional-sum
    aggregate (algebraic, map-side combine); OTHER = n - Σ cats. Then

        PSI  = Σ (p_i - q_i) ln(p_i / q_i)          (smoothed at EPS)
        chi2 = n · Σ (p_i - q_i)² / q_i             (Pearson statistic)

    over categories + OTHER, as closed-form column expressions over the
    aggregate row. A partition missing a category entirely contributes
    the EPS-floored term, same as the numeric path's empty bins."""
    edges_cats, q_props = baseline["cats"], baseline["props"]
    q_other = baseline["other"]
    c = F.col(col).cast("string")
    nn = c.isNotNull()
    aggs = [F.sum(nn.cast("long")).alias("__n")] + [
        F.sum((nn & (c == F.lit(v))).cast("long")).alias(f"__cat_{i}")
        for i, v in enumerate(edges_cats)
    ]
    g = df.groupBy(*partition_cols).agg(*aggs)

    n = F.greatest(F.col("__n"), F.lit(1)).cast("double")
    cat_sum = F.lit(0).cast("long")
    for i in range(len(edges_cats)):
        cat_sum = cat_sum + F.col(f"__cat_{i}")
    other_p = (F.col("__n") - cat_sum) / n

    pairs = [
        (F.col(f"__cat_{i}") / n, q) for i, q in enumerate(q_props)
    ] + [(other_p, q_other)]
    psi = None
    chi2 = None
    for p_raw, q in pairs:
        p = F.greatest(p_raw, F.lit(EPS))
        qf = F.lit(max(q, EPS))
        term = (p - qf) * (F.log(p) - F.log(qf))
        psi = term if psi is None else psi + term
        cterm = (p - qf) * (p - qf) / qf
        chi2 = cterm if chi2 is None else chi2 + cterm
    # a partition with zero non-null rows carries no distributional
    # evidence: score 0, don't compare an EPS-vector against the
    # baseline (which would flag every empty partition as drifted)
    has_data = F.col("__n") > 0
    return g.select(
        *partition_cols,
        F.col("__n").alias("n"),
        F.when(has_data, psi).otherwise(F.lit(0.0)).alias("psi"),
        F.when(has_data, n * chi2).otherwise(F.lit(0.0)).alias("chi2"),
    )


def categorical_drift_verdicts(
    df: DataFrame,
    col: str,
    partition_cols: Sequence[str],
    baseline: dict,
    psi_threshold: float = 0.2,
    chi2_threshold: Optional[float] = None,
) -> DataFrame:
    """Per-partition categorical drift pass/fail — same contract as the
    numeric ``drift_verdicts``. PSI>=0.2 is the conventional
    significant-shift cut; ``chi2_threshold`` is optional because the
    chi-square critical value depends on category count and n (pick it
    from the chi2 table for df=|cats| at your alpha)."""
    d = categorical_drift_by_partition(df, col, partition_cols, baseline)
    drifted = F.col("psi") >= F.lit(psi_threshold)
    if chi2_threshold is not None:
        drifted = drifted | (F.col("chi2") >= F.lit(chi2_threshold))
    return d.withColumn("drifted", drifted)


def psi_of(p: Sequence[float], q: Sequence[float]) -> float:
    """Driver-side PSI for unit tests / oracles."""
    return sum(
        (max(pi, EPS) - max(qi, EPS)) * math.log(max(pi, EPS) / max(qi, EPS))
        for pi, qi in zip(p, q)
    )


def table_drift_report(
    df: DataFrame, baselines: "dict[str, dict]"
) -> DataFrame:
    """Whole-table drift in ONE scan — the nightly-job shape: every
    monitored column's PSI + KS + grid-W1 against its own
    ``baseline_summary``, fused into a single aggregation pass instead
    of one `drift_by_partition` scan per column (k columns: k scans →
    1; at 10^12 rows that IS the nightly bill). Returns one row per
    column: ``(column, n, psi, ks, w1)``.

    Statistics match the single-column operators EXACTLY
    (pytest-differentialed): PSI/KS are `drift_by_partition`'s float
    forms with the same EPS floors and accumulation order, W1 is
    `wasserstein_by_partition`'s integer cross-multiplied fold (its
    round-5 ``counts``/``n`` baseline fields are required). Baselines
    may use DIFFERENT grids per column — each column's bins ride the
    same fused aggregate regardless.

    Scale: one conditional-sum aggregate over all columns × bins
    (map-side partials, single scan, no shuffle of raw rows), melted
    by one struct explode; baselines ride as literals."""
    if not baselines:
        raise ValueError("table_drift_report: baselines must be non-empty")
    missing = [c for c in baselines if c not in df.columns]
    if missing:
        raise ValueError(
            f"table_drift_report: columns not in frame: {missing}"
        )
    aggs = []
    structs = []
    for c, baseline in baselines.items():
        edges = [float(e) for e in baseline["edges"]]
        counts = baseline.get("counts")
        n_base = baseline.get("n")
        if counts is None or not n_base:
            raise ValueError(
                f"table_drift_report: baseline for {c!r} lacks integer "
                "bin counts — rebuild with the round-5 baseline_summary()"
            )
        if len(edges) < 2:
            raise ValueError(
                f"table_drift_report: baseline for {c!r} needs >=2 edges"
            )
        aggs += _bin_exprs(c, edges, count=f"__n__{c}", prefix=f"__b__{c}__")

        def b(i, c=c):
            return quote_ident(f"__b__{c}__{i}")

        n_raw = quote_ident(f"__n__{c}")
        n = f"CAST(greatest({n_raw}, 1) AS DOUBLE)"
        structs.append(
            f"struct({sql_literal(c)} AS `column`, {n_raw} AS n, "
            f"{_psi_sql(b, n, baseline['props'])} AS psi, "
            f"{_ks_sql(b, n, baseline['cdf'])} AS ks, "
            f"{_w1_sql(b, n_raw, edges, counts, n_base)} AS w1)"
        )
    wide = df.agg(*aggs)
    return wide.select(
        F.expr(f"explode(array({', '.join(structs)})) AS __r")
    ).select("__r.*")


def drift_attribution(df: DataFrame, col: str, baseline: dict) -> DataFrame:
    """WHERE did the drift come from — the triage step after
    ``table_drift_report`` / ``drift_by_partition`` says a column's
    PSI crossed: one row per baseline bin with the bin's value range,
    its current vs baseline mass, and its SIGNED PSI contribution
    ``(p - q) * ln(p/q)`` (the exact per-bin term the scalar PSI sums,
    same EPS smoothing — so the terms here add up to the reported
    statistic, no parallel formula to drift apart). A +0.18 term on
    bin (200k, 300k] reads as "mass moved INTO the 200-300k range";
    the scalar 0.21 reads as nothing.

    Scale shape: the SAME one-pass binned aggregate as the scoring
    operators (edges ride as literals), then a literal melt of the
    1-row frame — O(bins) output, one scan, no UDF. Global by design:
    run it on the slice a partitioned score already flagged."""
    edges, q_props = baseline["edges"], baseline["props"]
    g = df.agg(*_bin_exprs(col, edges))
    structs = []
    for i, q in enumerate(q_props):
        lo = None if i == 0 else float(edges[i - 1])
        hi = None if i == len(edges) else float(edges[i])
        structs.append(
            f"struct({i} AS bin, CAST({sql_literal(lo)} AS DOUBLE) AS lo, "
            f"CAST({sql_literal(hi)} AS DOUBLE) AS hi, "
            f"CAST({_bin(i)} AS BIGINT) AS n_rows, ({_bin(i)} / {_N}) AS p_cur, "
            f"{sql_literal(float(q))} AS q_base, {_psi_term(_bin(i), _N, q)} AS psi_term)"
        )
    return g.select(F.expr(f"explode(array({', '.join(structs)})) AS s")).select("s.*")


def surprise_scores(
    df: DataFrame,
    col: str,
    baseline: dict,
    out_col: str = "surprise",
) -> DataFrame:
    """Row-level rarity scoring against a ``baseline_summary``: each
    row gains ``-ln(q_bin)`` — the information content of landing in
    its baseline bin — turning the drift family's table statistics
    into a per-row triage column: sort by it and the weirdest rows
    (relative to how the data USED to look) surface first; threshold
    it and you have an outlier check whose calibration is the
    baseline itself, not a parametric assumption. A value in a bin
    the baseline held 40% of lands ~0.9; one in an EPS-floored empty
    bin lands ~13.8 (= -ln(1e-6)), the maximum surprise the grid can
    express — granularity is bin-level by design (same resolution as
    PSI/KS; tighten the grid for finer scores).

    NULL values score NULL (missingness is the nullability check's
    finding). Pure projection — the bin probe is the same chained
    comparison ladder the binned aggregates use, edges as literals,
    zero shuffle, whole-stage codegen."""
    if out_col in df.columns:
        raise ValueError(
            f"surprise_scores: output column {out_col!r} already exists"
        )
    edges, q_props = baseline["edges"], baseline["props"]
    import math

    c = F.col(col)
    score = F.lit(float(-math.log(q_props[-1])))  # last bin: > all edges
    # build the ladder from the top down so the first TRUE condition
    # (value <= edge_i, smallest i) wins, matching _bin_exprs' bins
    for i in range(len(edges) - 1, -1, -1):
        score = F.when(
            c <= F.lit(float(edges[i])),
            F.lit(float(-math.log(q_props[i]))),
        ).otherwise(score)
    return df.withColumn(
        out_col, F.when(c.isNull(), F.lit(None).cast("double")).otherwise(score)
    )


# ----------------------------------------------------- FDR control

def ks_pvalue(ks: Column, n: Column, m: Column) -> Column:
    """One-term asymptotic KS p-value (public Smirnov limit form):
    ``p = min(1, 2·exp(-2·(n·m/(n+m))·D²))`` for a two-sample KS
    statistic D between a slice of n rows and a baseline of m rows.
    One term of the alternating series — an upper bound that is tight
    for the small p-values that matter to alerting; pure column
    algebra, whole-stage codegen."""
    n_d = n.cast("double")
    m_d = m.cast("double")
    stat = F.lit(-2.0) * (n_d * m_d / (n_d + m_d)) * ks * ks
    return F.least(F.lit(1.0), F.lit(2.0) * F.exp(stat))


def bh_adjust(
    df: DataFrame,
    p_col: str,
    q: float = 0.05,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Benjamini–Hochberg step-up over a frame of per-slice p-values:
    reject every slice whose ascending p-rank i satisfies
    ``p_(i) <= i·q/m`` for some i at or above its own — the classic
    FDR control (public: Benjamini & Hochberg 1995).

    Why this is a first-class validation operator at 10^12 docs: a
    lake with 10^5 audited partitions re-tested nightly throws
    thousands of raw p < 0.05 "drift alerts" by chance alone;
    per-comparison thresholds drown the pager. BH bounds the EXPECTED
    FALSE-ALERT FRACTION at q across however many slices the fleet
    audits, and it needs only ranks — no resampling, no per-slice
    recomputation.

    Scale shape: the input is the per-slice STATISTIC frame (one row
    per audited partition — census-sized, never corpus-sized; the
    corpus-sized work already happened in drift_by_partition's one
    groupBy). m and the step-up cutoff k* are two 1-row aggregates
    broadcast back (house crossJoin-a-scalar pattern). The ascending
    sort is a single-partition window over that census-sized frame —
    10^5 rows at a 10^5-partition lake, said out loud, and the reason
    ``tie_cols`` must make the order total: ranks, and therefore
    verdicts near the cutoff, are only deterministic if the sort is.

    Rows with NULL p are dropped (missingness is upstream's finding).
    Output: input columns + ``p_rank`` (1-based ascending),
    ``bh_cutoff`` (= rank·q/m) and ``rejected``.
    """
    if not (0.0 < float(q) < 1.0):
        raise ValueError(f"bh_adjust: q must be in (0, 1), got {q}")
    if p_col not in df.columns:
        raise ValueError(f"bh_adjust: column {p_col!r} missing")
    for c in tie_cols:
        if c not in df.columns:
            raise ValueError(f"bh_adjust: tie column {c!r} missing")
    for __c in ("__m", "__rk", "__cut", "__kstar", "p_rank", "bh_cutoff", "rejected"):
        if __c in df.columns:
            raise ValueError(
                f"bh_adjust: input column {__c!r} collides with an "
                "internal working name — rename it"
            )
    from pyspark.sql import Window

    pv = df.where(F.col(p_col).isNotNull())
    m_df = pv.agg(F.count(F.lit(1)).alias("__m"))
    w = Window.orderBy(
        F.col(p_col).asc(), *[F.col(c).asc() for c in tie_cols]
    )
    ranked = (
        pv.crossJoin(F.broadcast(m_df))
        .withColumn("__rk", F.row_number().over(w))
        .withColumn(
            "__cut",
            F.col("__rk").cast("double") * F.lit(float(q)) / F.col("__m"),
        )
    )
    kstar = ranked.agg(
        F.max(
            F.when(F.col(p_col) <= F.col("__cut"), F.col("__rk"))
        ).alias("__kstar")
    )
    out_cols = [F.col(c) for c in df.columns]
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            *out_cols,
            F.col("__rk").alias("p_rank"),
            F.col("__cut").alias("bh_cutoff"),
            (
                F.col("__rk") <= F.coalesce(F.col("__kstar"), F.lit(0))
            ).alias("rejected"),
        )
    )


# -------------------------------------------- quantile normalization

def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    grid: int = 100,
) -> DataFrame:
    """Distribution alignment: map every group's values onto the
    GLOBAL distribution by quantile — group g's p-th within-group
    value becomes the global p-th percentile. The classic
    quantile-normalization transform (public: microarray-era
    statistics); in a data pipeline it removes per-source calibration
    offsets (one scraper's score scale vs another's) so downstream
    thresholds mean the same thing everywhere.

    At-scale design: the reference distribution is NOT a global sort
    — it is one exact-percentile aggregation at ``grid`` fixed
    probabilities (a grid-sized array broadcast to every task), and
    each row needs only its WITHIN-group rank (an ordinary window
    partitioned by group). p = rank/m rounds UP to the grid
    (``ceil(p·grid)``), so the map is monotone, deterministic (ties
    broken by ``id_col``), and two rows with the same grid cell get
    the same normalized value. Finer grids buy resolution with a
    bigger broadcast — grid=100 puts every group on the global
    percent scale.

    Scale shape: one corpus-sized window (partitioned by group — the
    hot path is the per-group sort Spark already does for any ranked
    read), one global percentile aggregate, one 1-row crossJoin
    broadcast. No global-order shuffle, no driver-side loop.

    Output: ``group_cols..., id_col, value_col, p_grid, normalized``.
    """
    if int(grid) < 2:
        raise ValueError(f"quantile_normalize: grid must be >= 2, got {grid}")
    for c in (value_col, id_col, *group_cols):
        if c not in df.columns:
            raise ValueError(f"quantile_normalize: column {c!r} missing")
    if not group_cols:
        raise ValueError("quantile_normalize: group_cols must be non-empty")
    for __c in ("__ref", "__rk", "__m", "p_grid", "normalized"):
        if __c in df.columns:
            raise ValueError(
                f"quantile_normalize: input column {__c!r} collides with an "
                "internal working name — rename it"
            )
    from pyspark.sql import Window

    g = int(grid)
    probs = ", ".join(repr(k / g) for k in range(1, g + 1))
    ref = df.where(F.col(value_col).isNotNull()).agg(
        F.expr(f"percentile({value_col}, array({probs}))").alias("__ref")
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    wsz = Window.partitionBy(*[F.col(c) for c in group_cols])
    ranked = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("__m", F.count(F.lit(1)).over(wsz))
    )
    cell = F.least(
        F.ceil(
            F.col("__rk").cast("double")
            * F.lit(float(g))
            / F.col("__m").cast("double")
            - F.lit(1e-9)
        ).cast("int"),
        F.lit(g),
    )
    return (
        ranked.crossJoin(F.broadcast(ref))
        .select(
            *group_cols,
            id_col,
            value_col,
            cell.alias("p_grid"),
            F.element_at(F.col("__ref"), cell).alias("normalized"),
        )
    )


# -------------------------------------------- importance reweighting

def importance_weight_bins(
    df: DataFrame,
    col: str,
    target: dict,
    clip: float = 10.0,
) -> DataFrame:
    """Per-bin importance weights ``w_b = p_target(b) / p_source(b)``
    over the shared quantile grid of a :func:`baseline_summary` built
    on the TARGET domain — the binned density-ratio estimator (public
    covariate-shift folklore). Reweighting a source corpus by w makes
    its ``col`` distribution match the target's in expectation: the
    standard move when the training mixture must look like the
    deployment distribution but you only have the source. Ratios are
    EPS-floored (an empty source bin would be an infinite weight) and
    clipped at ``clip`` — unclipped tails let a handful of rows
    dominate the gradient, which is the classic importance-sampling
    failure.

    Scale shape: ONE fused binned aggregation over the source (the
    same ladder expression every drift operator uses), exploded to a
    bins-count-sized frame — never corpus-sized.

    Output per bin: ``bin, n_source, p_source, p_target, weight``.
    """
    if not (float(clip) > 0):
        raise ValueError(f"importance_weight_bins: clip must be > 0, got {clip}")
    if col not in df.columns:
        raise ValueError(f"importance_weight_bins: column {col!r} missing")
    edges, q_props = target["edges"], target["props"]
    one = df.agg(*_bin_exprs(col, edges))
    nbins = len(q_props)
    counts = F.array(*[F.col(f"__bin_{i}") for i in range(nbins)])
    tprops = F.array(*[F.lit(float(p)) for p in q_props])
    exploded = one.select(
        F.col("__n"), F.posexplode(counts).alias("bin", "n_source"),
        tprops.alias("__tp"),
    )
    p_src = F.greatest(
        F.col("n_source").cast("double")
        / F.greatest(F.col("__n"), F.lit(1)).cast("double"),
        F.lit(EPS),
    )
    p_tgt = F.element_at(F.col("__tp"), F.col("bin") + 1)
    return exploded.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n_source").cast("long").alias("n_source"),
        p_src.alias("p_source"),
        p_tgt.alias("p_target"),
        F.least(p_tgt / p_src, F.lit(float(clip))).alias("weight"),
    )


def effective_sample_size(bins_df: DataFrame) -> DataFrame:
    """Kish effective sample size of an importance-weighted corpus,
    computed EXACTLY from the bin table: ``(Σ n_b·w_b)² / Σ n_b·w_b²``
    (public: Kish 1965). ESS/n is the honest answer to "how much data
    do I really have after reweighting" — an ESS collapse means the
    source barely covers the target and the clip is doing the work.
    One bins-sized aggregate, single row out: ``n_rows, sum_w, ess``.
    """
    for c in ("n_source", "weight"):
        if c not in bins_df.columns:
            raise ValueError(f"effective_sample_size: column {c!r} missing")
    nw = F.col("n_source").cast("double") * F.col("weight")
    mo = bins_df.agg(
        F.sum("n_source").cast("long").alias("n_rows"),
        F.sum(nw).alias("sum_w"),
        F.sum(nw * F.col("weight")).alias("__sw2"),
    )
    return mo.select(
        "n_rows",
        "sum_w",
        F.when(
            F.col("__sw2") > 0,
            F.col("sum_w") * F.col("sum_w") / F.col("__sw2"),
        ).alias("ess"),
    )


def attach_importance_weights(
    df: DataFrame,
    col: str,
    target: dict,
    clip: float = 10.0,
    out_col: str = "weight",
) -> DataFrame:
    """Row-level attach of :func:`importance_weight_bins`: each row
    gets its bin's weight via a bins-sized broadcast join on the bin
    index (the same ladder expression assigns the index — a pure
    projection). NULL ``col`` rows get NULL weight. The downstream
    sampler multiplies by this column; nothing else changes shape."""
    if out_col in df.columns:
        raise ValueError(
            f"attach_importance_weights: output column {out_col!r} already exists"
        )
    bins = importance_weight_bins(df, col, target, clip)
    edges = target["edges"]
    c = F.col(col)
    idx = None
    for i in range(len(edges)):
        cond = c <= F.lit(float(edges[i]))
        idx = F.when(cond, F.lit(i)) if idx is None else idx.when(cond, F.lit(i))
    idx = idx.otherwise(F.lit(len(edges)))
    keyed = df.withColumn(
        "__bin", F.when(c.isNotNull(), idx).cast("int")
    )
    return keyed.join(
        F.broadcast(
            bins.select(
                F.col("bin").alias("__bin"), F.col("weight").alias(out_col)
            )
        ),
        "__bin",
        "left",
    ).drop("__bin")


# --------------------------------------------- empirical-Bayes rates

def eb_shrink_rates(
    df: DataFrame,
    success_pred: Column,
    group_cols: Sequence[str],
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-slice rates (public: beta-
    binomial with method-of-moments, the baseball-batting-average
    classic): fit one Beta(α, β) prior to the observed slice rates,

        α+β = m·(1−m)/v − 1,   α = m·(α+β)

    (m, v = mean and population variance of the raw rates across
    slices), then report every slice's posterior-mean rate
    ``(x + α)/(n + α + β)``. The 2-of-3-rows slice stops screaming
    100% while big slices barely move — THE fix for small-slice rate
    panic in validation dashboards, with the prior learned from the
    fleet itself rather than hand-tuned.

    Scale shape: one corpus-sized groupBy to per-slice (n, x); the
    prior fit is one aggregate over the SLICES-sized frame (unweighted
    across slices — each slice is one observation of "a rate", said
    out loud), broadcast back as a 1-row frame. Degenerate fits
    (fewer than 2 slices, zero variance, or v >= m(1−m) — overdispersed
    beyond what a Beta can express) report NULL shrunk rates loudly
    and keep the raw ones. NULL success values count as failure.

    Output per slice: ``group_cols..., n, x, raw_rate, alpha, beta,
    shrunk_rate`` (rates are single divisions; α/β carry the
    across-slice float moments — callers round at 6).
    """
    if not group_cols:
        raise ValueError("eb_shrink_rates: group_cols must be non-empty")
    for c in group_cols:
        if c not in df.columns:
            raise ValueError(f"eb_shrink_rates: group column {c!r} missing")
    s = F.coalesce(success_pred, F.lit(False))
    slices = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(s.cast("long")).alias("x"),
    )
    rated = slices.withColumn(
        "raw_rate", F.col("x").cast("double") / F.col("n").cast("double")
    )
    mo = rated.agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.avg("raw_rate").alias("__m"),
        (
            F.sum(F.col("raw_rate") * F.col("raw_rate"))
            / F.count(F.lit(1)).cast("double")
        ).alias("__m2"),
    )
    m = F.col("__m")
    v = F.col("__m2") - m * m
    ab = F.when(
        (F.col("__k") >= 2) & (v > 0) & (v < m * (1 - m)),
        m * (1 - m) / v - 1,
    )
    prior = mo.select(
        (m * ab).alias("alpha"),
        ((1 - m) * ab).alias("beta"),
    )
    return rated.crossJoin(F.broadcast(prior)).select(
        *group_cols,
        "n",
        "x",
        "raw_rate",
        "alpha",
        "beta",
        F.when(
            F.col("alpha").isNotNull(),
            (F.col("x").cast("double") + F.col("alpha"))
            / (
                F.col("n").cast("double")
                + F.col("alpha")
                + F.col("beta")
            ),
        ).alias("shrunk_rate"),
    )


# ------------------------------------------------- brown-forsythe

def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Brown-Forsythe variance-equality test (public: the
    median-centered Levene variant): one-way ANOVA on the absolute
    deviations from each group's MEDIAN,

        F = [Σ_g n_g·(z̄_g − z̄)² / (k−1)] / [Σ_g Σ_i (z_ig − z̄_g)² / (N−k)]

    with z = |x − median_g|. Location drift has a whole family of
    detectors here; this is the SCALE-drift one — a source whose
    values didn't move but SPREAD (precision loss, unit mixing below
    the mean, a noisier upstream) passes every mean/median check and
    fails this. Median-centering keeps it robust where classic
    Levene (mean-centered) chases its own outliers.

    Two passes by necessity (medians, then deviations — said out
    loud): exact interpolated per-group medians (the percentile
    parity path) broadcast back as a groups-sized join, then ONE
    fused moment aggregation over z. The F statistic is a fixed-order
    expression over those sums (callers round at 6 — cross-row float
    sums). Degenerate inputs (k < 2, N <= k, zero within-group
    variation) report NULL F loudly. A NULL ``group_col`` value is one
    group like any other (the median join is NULL-safe), so its rows
    count in ``k_groups`` and ``n_rows``; rows with a NULL value are
    left out.

    Output (single row): ``k_groups, n_rows, ss_between, ss_within,
    f_stat``.
    """
    for c in (value_col, group_col):
        if c not in df.columns:
            raise ValueError(f"brown_forsythe: column {c!r} missing")
    base = df.where(F.col(value_col).isNotNull())
    meds = base.groupBy(F.col(group_col).alias("__g")).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    z = base.join(
        F.broadcast(meds), F.col(group_col).eqNullSafe(F.col("__g"))
    ).select(
        F.col("__g"),
        F.abs(F.col(value_col).cast("double") - F.col("__med")).alias("__z"),
    )
    per_g = z.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__z").alias("__s"),
        F.sum(F.col("__z") * F.col("__z")).alias("__ss"),
    )
    mo = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.sum("__s").alias("__st"),
        F.sum("__ss").alias("__sst"),
        F.sum(
            F.col("__s") * F.col("__s") / F.col("__n").cast("double")
        ).alias("__sb_term"),
    )
    n = F.col("n_rows").cast("double")
    k = F.col("k_groups").cast("double")
    grand_term = F.col("__st") * F.col("__st") / n
    ssb = F.col("__sb_term") - grand_term
    ssw = F.col("__sst") - F.col("__sb_term")
    f_stat = F.when(
        (F.col("k_groups") >= 2)
        & (F.col("n_rows") > F.col("k_groups"))
        & (ssw > 0),
        (ssb / (k - 1)) / (ssw / (n - k)),
    )
    return mo.select(
        "k_groups",
        "n_rows",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f_stat.alias("f_stat"),
    )
