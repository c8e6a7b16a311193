"""Streaming violation-rate monitor: the p-chart, continuously.

The streaming twin of ``validator.rate_control_chart``: each
micro-batch counts its verdicts per chart key, merges those counts
with every prior epoch's (counts form a commutative monoid — order of
ingest is irrelevant, the STRONG contract class of
``streaming/cardinality.py``), and re-issues the full control chart
over the cumulative counts. A batch key whose violation rate drifts
out of the binomial limits surfaces in the epoch where the cumulative
evidence crosses — and because the pooled baseline hardens as data
accumulates, the limits TIGHTEN over the stream's life instead of
being frozen at deployment time.

State discipline is the package's epoch-keyed parquet contract: this
epoch's BATCH-LOCAL counts land at
``<state_dir>/rate_epochs/__epoch=<id>`` (overwrite), a batch reads
only committed (``_SUCCESS``) epochs strictly below its own id, and
the chart goes to ``<sink>/__epoch=<id>`` (overwrite) — exactly-once
per epoch, replay-safe (a foreachBatch retry re-derives byte-identical
output from the same prior state).

Correctness contract (pytest-asserted): the epoch-N chart equals
``rate_control_chart`` run over epochs 0..N concatenated — no
ordered-ingest assumption at all, any epoch cut works.

Scale: per trigger, one groupBy over the batch plus a merge over
O(chart_keys x epochs) count rows; compact ``rate_epochs`` offline by
rewriting the summed counts as one epoch dir when epoch count grows
(the summed frame IS a valid epoch — the dedup-band-index hygiene).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandera_forge_spark.operators.temporal import _check_reserved
from pandera_forge_spark.validator import _chart_from_counts


def _prior_counts(spark, state_dir: str, below_epoch: int):
    """Committed prior-epoch count rows (the _prior_sketches discipline
    verbatim, pointed at rate_epochs/)."""
    from pandera_forge_spark.sources.fs import DriverFS

    fs = DriverFS(spark)
    root = f"{state_dir}/rate_epochs"
    if not fs.exists(root):
        return None
    below = [
        n
        for n in fs.listdir(root)
        if n.startswith("__epoch=")
        and int(n.split("=", 1)[1]) < int(below_epoch)
    ]
    dirs = [n for n in below if fs.exists(f"{root}/{n}/_SUCCESS")]
    if below and not dirs:
        raise RuntimeError(
            f"{root}: {len(below)} prior-epoch state dirs exist but none "
            "has a _SUCCESS marker — success markers disabled on this "
            "filesystem? The monitors rely on them to skip torn writes"
        )
    if not dirs:
        return None
    return spark.read.option("basePath", root).parquet(
        *[f"{root}/{n}" for n in dirs]
    )


def stream_rate_chart(
    stream_df: DataFrame,
    state_dir: str,
    sink: str,
    verdict_col: str,
    batch_cols: Sequence[str],
    sigma: int = 3,
    min_batch_rows: int = 30,
    include_ok: bool = False,
    checkpoint: Optional[str] = None,
    on_batch: Optional[Callable] = None,
):
    """Continuous p-chart monitoring. Sink rows per epoch: the full
    (or actionable-only, ``include_ok=False``) control chart over the
    CUMULATIVE counts — batch cols, ``n_rows``, ``n_violations``,
    ``rate``, ``p_bar``, ``lcl``, ``ucl``, ``status``. Chart keys seen
    in ANY prior epoch keep reporting even in batches where they are
    absent — a quiet key's rate verdict must not vanish. NULL verdicts
    are excluded from counts (no verdict, no vote), matching the batch
    operator. Returns the unstarted ``writeStream`` writer."""
    keys = list(batch_cols)
    if not keys:
        raise ValueError("stream_rate_chart: batch_cols must be non-empty")
    missing = [c for c in keys + [verdict_col] if c not in stream_df.columns]
    if missing:
        raise ValueError(f"stream_rate_chart: frame lacks columns {missing}")
    _check_reserved(
        stream_df,
        ["__epoch", "n_rows", "n_violations", "rate", "p_bar", "lcl",
         "ucl", "status"],
        "stream_rate_chart",
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        v = F.col(verdict_col).cast("boolean")
        local = (
            batch_df.where(v.isNotNull())
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum(v.cast("long")), F.lit(0).cast("long")
                ).alias("n_violations"),
            )
        )
        prior = _prior_counts(batch_df.sparkSession, state_dir, e)
        merged = (
            local
            if prior is None
            else local.unionByName(prior.select(*local.columns))
            .groupBy(*keys)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_violations").alias("n_violations"),
            )
        )
        chart = _chart_from_counts(
            merged, keys, sigma, min_batch_rows, include_ok
        )
        chart.write.mode("overwrite").parquet(f"{sink}/__epoch={e}")
        # state after sink (crash => replay rewrites both identically;
        # reads only epochs < e, so partials are invisible)
        local.write.mode("overwrite").parquet(
            f"{state_dir}/rate_epochs/__epoch={e}"
        )
        if on_batch is not None:
            on_batch(chart, e)

    writer = stream_df.writeStream.foreachBatch(process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


# -------------------------------------------- streaming FDR drift

def stream_drift_bh(
    stream_df: DataFrame,
    state_dir: str,
    sink: str,
    slice_cols: Sequence[str],
    value_col: str,
    baseline: dict,
    q: float = 0.05,
    checkpoint: Optional[str] = None,
    on_batch=None,
):
    """Streaming drift alerting with FDR control: the continuous twin
    of the ``drift_by_partition -> ks_pvalue -> bh_adjust`` batch
    chain. Each micro-batch bins its rows against the FIXED literal
    baseline grid, merges the per-slice bin counts with every prior
    epoch's (bin counts are a count-monoid — the STRONG no-ordering
    contract class), recomputes every slice's cumulative KS statistic
    and one-term Smirnov p-value, and re-runs the Benjamini-Hochberg
    step-up across ALL slices at level ``q``. The alert set therefore
    carries the expected-false-alert bound at every epoch, no matter
    how many slices the fleet audits — raw per-slice 0.05 thresholds
    on a stream page someone every few minutes by chance alone.

    The baseline must be a ``baseline_summary`` built with explicit
    ``edges`` (fixed grid — a drifting baseline under a stream is a
    different product). ``m`` for the p-value is the baseline's own
    row count (``baseline['n']``).

    State: ``<state_dir>/bin_epochs/__epoch=<id>`` batch-local bin
    counts (overwrite, replay-safe); census per epoch at
    ``<sink>/__epoch=<id>``. Correctness contract (pytest-asserted):
    the epoch-N output equals the batch chain over epochs 0..N
    concatenated. Scale: one groupBy per batch + a merge over
    O(slices × epochs) count rows; the BH sort is slices-sized.

    Output per slice per epoch: ``slice_cols..., n, ks, p, p_rank,
    rejected``.
    """
    keys = list(slice_cols)
    if not keys:
        raise ValueError("stream_drift_bh: slice_cols must be non-empty")
    missing = [c for c in keys + [value_col] if c not in stream_df.columns]
    if missing:
        raise ValueError(f"stream_drift_bh: frame lacks columns {missing}")
    if not (0.0 < float(q) < 1.0):
        raise ValueError(f"stream_drift_bh: q must be in (0, 1), got {q}")
    edges = [float(e) for e in baseline["edges"]]
    q_cdf = [float(v) for v in baseline["cdf"]]
    m_base = int(baseline.get("n") or 0)
    if m_base <= 0:
        raise ValueError(
            "stream_drift_bh: baseline lacks a positive row count — build "
            "it with the round-5 baseline_summary() on a non-empty frame"
        )
    from pandera_forge_spark.drift import (
        _N,
        _bin,
        _bin_exprs,
        _ks_sql,
        bh_adjust,
        ks_pvalue,
    )
    from pandera_forge_spark.operators.temporal import _check_reserved

    _check_reserved(
        stream_df,
        ["__n", "__epoch"] + [f"__bin_{i}" for i in range(len(edges) + 1)],
        "stream_drift_bh",
    )
    nbins = len(edges) + 1

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        bs = batch_df.groupBy(*keys).agg(*_bin_exprs(value_col, edges))
        prior = _prior_epoch_bins(batch_df.sparkSession, state_dir, e)
        all_rows = (
            bs if prior is None else bs.unionByName(prior.select(*bs.columns))
        )
        merged = all_rows.groupBy(*keys).agg(
            F.sum("__n").alias("__n"),
            *[F.sum(f"__bin_{i}").alias(f"__bin_{i}") for i in range(nbins)],
        )
        scored = merged.select(
            *keys,
            F.expr("CAST(`__n` AS BIGINT) AS n"),
            F.expr(f"{_ks_sql(_bin, _N, q_cdf)} AS ks"),
        ).withColumn(
            "p", ks_pvalue(F.col("ks"), F.col("n"), F.lit(m_base))
        )
        out = bh_adjust(scored, "p", q=float(q), tie_cols=keys).select(
            *keys, "n", "ks", "p", "p_rank", "rejected"
        )
        out.write.mode("overwrite").parquet(f"{sink}/__epoch={e}")
        bs.write.mode("overwrite").parquet(
            f"{state_dir}/bin_epochs/__epoch={e}"
        )
        if on_batch is not None:
            on_batch(out, e)

    writer = stream_df.writeStream.foreachBatch(process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def _prior_epoch_bins(spark, state_dir: str, below_epoch: int):
    """Committed prior-epoch bin-count rows (the ``_prior_state``
    discipline); None when no prior epoch exists."""
    from pandera_forge_spark.sources.fs import DriverFS

    fs = DriverFS(spark)
    root = f"{state_dir}/bin_epochs"
    if not fs.exists(root):
        return None
    below = [
        n
        for n in fs.listdir(root)
        if n.startswith("__epoch=")
        and int(n.split("=", 1)[1]) < int(below_epoch)
    ]
    dirs = [n for n in below if fs.exists(f"{root}/{n}/_SUCCESS")]
    if below and not dirs:
        raise RuntimeError(
            f"{root}: {len(below)} prior-epoch state dirs exist but none "
            "has a _SUCCESS marker — success markers disabled on this "
            "filesystem? The monitors rely on them to skip torn writes"
        )
    if not dirs:
        return None
    return spark.read.option("basePath", root).parquet(
        *[f"{root}/{n}" for n in dirs]
    )
