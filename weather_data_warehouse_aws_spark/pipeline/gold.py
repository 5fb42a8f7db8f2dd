"""Silver → Gold dimensions (reference `scripts/glue/build_dimensions.py`).

* `dim_date`: generated spine — the reference builds 1096 rows in a Python
  while-loop on the driver (`build_dimensions.py:101-110`); here it's a pure
  SQL ``sequence()`` explode, so a 100-year spine would still never touch the
  driver.
* `dim_location`: distinct locations + timezone mapping + SCD2. The reference
  only implements the initial load (`build_dimensions.py:63-97`); the full
  merge comes from `operators.scd2`.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_initial_load, scd2_merge
from ..session import ensure_session_conf

LOCATION_NATURAL_KEY = ("location_name", "country_code")
LOCATION_TRACKED = ("latitude", "longitude", "timezone_offset_seconds", "timezone_name")


def timezone_name_col(offset_col: str = "timezone_offset_seconds"):
    """8-way CASE mapping (`build_dimensions.py:38-48`)."""
    c = F.col(offset_col)
    return (
        F.when(c == -18000, "EST")
        .when(c == 0, "GMT")
        .when(c == 32400, "JST")
        .when(c == 36000, "AEST")
        .when(c == 19800, "IST")
        .when(c == 14400, "GST")
        .when(c == -10800, "BRT")
        .otherwise("UTC")
    )


def distinct_locations(silver_current: DataFrame) -> DataFrame:
    """Unique location tuples + timezone name (`build_dimensions.py:30-48`).

    Observation rows (those carrying `observation_time`) yield ONE row per
    natural key: its latest observation's attributes. A key whose tracked
    attributes changed inside the input (a timezone offset across a DST
    switch) would otherwise yield two rows — two current dim rows on an
    initial load, and a duplicate-key failure in `scd2_merge`. Inputs
    without `observation_time` are attribute snapshots, kept as given."""
    attrs = ["latitude", "longitude", "timezone_offset_seconds"]
    if "observation_time" in silver_current.columns:
        # max over a struct led by the time: the latest observation, ties
        # broken on the attributes so the pick is deterministic
        latest = F.max(F.struct("observation_time", *attrs)).alias("latest")
        locations = silver_current.groupBy(*LOCATION_NATURAL_KEY).agg(latest).select(
            *LOCATION_NATURAL_KEY, *[F.col(f"latest.{a}").alias(a) for a in attrs]
        )
    else:
        locations = silver_current.select(*LOCATION_NATURAL_KEY, *attrs).distinct()
    return locations.withColumn("timezone_name", timezone_name_col())


def build_dim_location(
    silver_current: DataFrame,
    existing: DataFrame | None = None,
    *,
    effective_date: _dt.date | None = None,
    now: _dt.datetime | None = None,
    key_strategy: str = "dense",
) -> DataFrame:
    """Initial load OR full SCD2 merge of dim_location.

    The reference's "Dimension exists, no updates needed" stub
    (`build_dimensions.py:96-97`) becomes a real merge: changed tracked
    attributes expire the current row and insert version+1.
    """
    updates = distinct_locations(silver_current)
    if existing is None:
        return scd2_initial_load(
            updates,
            LOCATION_NATURAL_KEY,
            "location_key",
            effective_date=effective_date,
            now=now,
            key_strategy=key_strategy,
        )
    return scd2_merge(
        existing,
        updates,
        LOCATION_NATURAL_KEY,
        LOCATION_TRACKED,
        "location_key",
        effective_date=effective_date,
        now=now,
        key_strategy=key_strategy,
    )


def build_dim_date(
    spark: SparkSession,
    start: str = "2024-01-01",
    end: str = "2026-12-31",
) -> DataFrame:
    """Date dimension spine (`build_dimensions.py:99-145`), driver-loop-free.

    Column-for-column parity with the reference: date_key=yyyyMMdd int,
    calendar parts, month/day names, Spark `dayofweek` (1=Sunday),
    is_weekend = dow ∈ {1,7}, is_holiday = false.
    """
    ensure_session_conf(spark)
    spine = spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), "
        "interval 1 day)) AS full_date"
    )
    d = F.col("full_date")
    return (
        spine.withColumn("date_key", F.date_format(d, "yyyyMMdd").cast("int"))
        .withColumn("year", F.year(d))
        .withColumn("quarter", F.quarter(d))
        .withColumn("month", F.month(d))
        .withColumn("month_name", F.date_format(d, "MMMM"))
        .withColumn("day", F.dayofmonth(d))
        .withColumn("day_of_week", F.dayofweek(d))
        .withColumn("day_name", F.date_format(d, "EEEE"))
        .withColumn("week_of_year", F.weekofyear(d))
        .withColumn("is_weekend", F.dayofweek(d).isin(1, 7))
        .withColumn("is_holiday", F.lit(False))
    )
