"""Incremental fact maintenance: recompute only band-join-affected
partitions when new bronze days land.

The reference recomputes its accuracy view from ALL history on every query
(Athena inlines the view) — at 100 TB that's a full forecast×actual band
join per dashboard refresh. The materialized alternative (pipeline/run.py)
pays it once per load but still over full history. This module closes the
loop: given the set of changed dates, derive exactly which
`forecast_for_date` partitions the |Δt|<1h join could have changed, rebuild
those partitions from date-pruned silver slices, and swap them in with one
transaction-log commit (`rebuild_accuracy_tx`).

Affected-partition math for a changed date D:
* new observations ON D match forecasts with `forecast_for_time` in
  [D 00:00 − 1 h, D+1 00:00 + 1 h) → forecast_for_date ∈ {D−1, D, D+1};
* new forecasts CREATED on D target `forecast_for_time` within the horizon
  (5 days for the reference feed) → forecast_for_date ∈ [D, D + horizon].

Per-run cost is O(changed days × horizon), independent of history length —
the property that keeps a year-old lakehouse's daily load constant-time.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .views import fact_forecast_accuracy

HORIZON_DAYS = 5


def affected_forecast_dates(
    changed_dates: Iterable[dt.date], *, horizon_days: int = HORIZON_DAYS
) -> list[dt.date]:
    """All forecast_for_date partitions the accuracy join could change."""
    out: set[dt.date] = set()
    for d in changed_dates:
        out.add(d - dt.timedelta(days=1))  # obs on D reach back 1 h
        for k in range(horizon_days + 1):
            out.add(d + dt.timedelta(days=k))
        out.add(d + dt.timedelta(days=1))
    return sorted(out)


def _accuracy_slices(
    fact_forecast: DataFrame,
    fact_actual: DataFrame,
    lo: dt.date,
    hi: dt.date,
) -> tuple[DataFrame, DataFrame]:
    """Date-prune both band-join inputs to the affected envelope (+1 h pad
    on the actual side) so the recompute scans O(affected days)."""
    f_slice = fact_forecast.filter(
        (F.to_date("forecast_for_time") >= F.lit(lo))
        & (F.to_date("forecast_for_time") <= F.lit(hi))
    )
    pad_lo = dt.datetime.combine(lo, dt.time()) - dt.timedelta(hours=1)
    pad_hi = dt.datetime.combine(hi + dt.timedelta(days=1), dt.time()) + dt.timedelta(hours=1)
    a_slice = fact_actual.filter(
        (F.col("observation_time") >= F.lit(pad_lo))
        & (F.col("observation_time") < F.lit(pad_hi))
    )
    return f_slice, a_slice


def rebuild_accuracy_tx(
    spark: SparkSession,
    fact_forecast: DataFrame,
    fact_actual: DataFrame,
    accuracy_table: str,
    changed_dates: Iterable[dt.date],
    *,
    horizon_days: int = HORIZON_DAYS,
) -> list[dt.date]:
    """Recompute the affected `forecast_for_date` envelope and swap it in
    with ONE atomic `tx_replace_where` commit against the gold accuracy
    table `pipeline/run.py` materializes.

    Both join inputs are date-pruned BEFORE the band join (observations
    one hour beyond the envelope on each side), so the recompute scans
    O(affected days) of silver, not history. Because delete-region and
    insert are a single commit:
    * a concurrent reader sees the whole refresh or none of it, and a
      crash mid-refresh leaves the table at the previous version instead
      of half-replaced;
    * a date whose recompute comes back EMPTY is actually emptied — a
      dynamic partition overwrite would only rewrite partitions PRESENT in
      the output, so deleted rows would resurrect;
    * the pre-refresh fact stays time-travelable and `tx_restore`-able.
    Returns the affected dates; no changed dates means no commit.
    """
    targets = affected_forecast_dates(changed_dates, horizon_days=horizon_days)
    if not targets:
        return []
    lo, hi = min(targets), max(targets)
    f_slice, a_slice = _accuracy_slices(fact_forecast, fact_actual, lo, hi)
    acc = fact_forecast_accuracy(f_slice, a_slice).withColumn(
        "forecast_for_date", F.to_date("forecast_for_time")
    )
    from ..operators.txlog import tx_replace_where

    tx_replace_where(
        spark,
        accuracy_table,
        acc,
        f"forecast_for_date >= DATE'{lo}' AND forecast_for_date <= DATE'{hi}'",
        # exact partition pruning (run_pipeline date-partitions the fact;
        # an unpartitioned table still prunes via date footer stats):
        # the candidate scan opens only the affected days' files
        prune=[("forecast_for_date", ">=", lo), ("forecast_for_date", "<=", hi)],
        partition_by=["forecast_for_date"],
    )
    return targets
