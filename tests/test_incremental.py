"""Incremental accuracy maintenance ≡ full recompute, at O(changed days)
cost."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze
from weather_data_warehouse_aws_spark.pipeline.gold import build_dim_date, build_dim_location
from weather_data_warehouse_aws_spark.pipeline.incremental import (
    affected_forecast_dates,
    rebuild_accuracy_tx,
)
from weather_data_warehouse_aws_spark.pipeline.silver import (
    build_silver_current,
    build_silver_forecast,
    read_bronze,
)
from weather_data_warehouse_aws_spark.pipeline.views import (
    fact_forecast_accuracy,
    fact_weather_actual,
    fact_weather_forecast,
)

STABLE_COLS = [
    "location_key",
    "forecast_for_time",
    "forecast_created_time",
    "actual_observation_time",
    "temp_absolute_error",
    "temp_accuracy_category",
    "is_accurate_forecast",
]


def test_affected_date_math():
    d = dt.date(2024, 1, 10)
    got = affected_forecast_dates([d], horizon_days=5)
    assert got[0] == dt.date(2024, 1, 9)  # obs reach back one hour
    assert got[-1] == dt.date(2024, 1, 15)  # horizon reach
    assert dt.date(2024, 1, 10) in got


def test_rebuild_accuracy_tx_no_changed_dates_commits_nothing(spark, tmp_path_factory):
    """An empty change set has no affected dates: the rebuild returns []
    and leaves the table at its version (no empty commit, no crash on an
    empty date envelope)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_overwrite,
        tx_snapshot,
    )

    acc_t = str(tmp_path_factory.mktemp("acc_noop")) + "/fact"
    tx_overwrite(
        spark.createDataFrame([(dt.date(2024, 1, 1), 1.0)],
                              "forecast_for_date date, err double"),
        acc_t,
    )
    v = tx_snapshot(acc_t)["version"]
    # the fact inputs are never read when nothing changed
    empty = spark.createDataFrame([], "forecast_for_time timestamp")
    assert rebuild_accuracy_tx(spark, empty, empty, acc_t, []) == []
    assert tx_snapshot(acc_t)["version"] == v


def test_incremental_tx_equals_full_and_empties_dead_dates(spark, tmp_path_factory):
    """`rebuild_accuracy_tx` ≡ full recompute through ONE atomic
    replace_where commit — including the case dynamic-partition overwrite
    gets wrong: a date whose recompute comes back empty must actually be
    emptied, not resurrect its old rows."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_read,
        tx_replace_where,
        tx_snapshot,
    )
    bronze = str(tmp_path_factory.mktemp("bronze_txinc"))
    acc_t = str(tmp_path_factory.mktemp("acc_txinc")) + "/fact"

    def facts(days, start=dt.date(2024, 1, 1), seed=5):
        if days:
            generate_bronze(
                bronze, start=start, days=days, extractions_per_day=2, seed=seed
            )
        sc = build_silver_current(read_bronze(spark, bronze, "current"))
        sf = build_silver_forecast(read_bronze(spark, bronze, "forecast"))
        dl = build_dim_location(sc, effective_date=dt.date(2024, 1, 1))
        dd = build_dim_date(spark)
        return fact_weather_forecast(sf, dl, dd), fact_weather_actual(sc, dl, dd)

    f, a = facts(3)
    rebuild_accuracy_tx(
        spark, f, a, acc_t,
        [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(3)],
    )
    v_initial = tx_snapshot(acc_t)["version"]
    n_initial = tx_read(spark, acc_t).count()
    assert n_initial > 0

    generate_bronze(
        bronze, start=dt.date(2024, 1, 4), days=1, extractions_per_day=2, seed=6
    )
    f2, a2 = facts(0)
    targets = rebuild_accuracy_tx(spark, f2, a2, acc_t, [dt.date(2024, 1, 4)])
    assert dt.date(2024, 1, 4) in targets

    incremental = tx_read(spark, acc_t)
    full = fact_forecast_accuracy(f2, a2)
    inc_rows = sorted(
        str(tuple(r[c] for c in STABLE_COLS))
        for r in incremental.select(STABLE_COLS).collect()
    )
    full_rows = sorted(
        str(tuple(r[c] for c in STABLE_COLS))
        for r in full.select(STABLE_COLS).collect()
    )
    assert inc_rows == full_rows
    assert incremental.count() > n_initial
    # pre-refresh fact is still time-travelable (the tx win over dynamic
    # overwrite) ...
    assert tx_read(spark, acc_t, version=v_initial).count() == n_initial
    # ... and an explicitly emptied date range does NOT resurrect:
    empty_payload = incremental.limit(0)
    tx_replace_where(
        spark, acc_t, empty_payload,
        "forecast_for_date = DATE'2024-01-04'",
    )
    assert (
        tx_read(spark, acc_t)
        .filter(F.col("forecast_for_date") == F.lit(dt.date(2024, 1, 4)))
        .count()
        == 0
    )
