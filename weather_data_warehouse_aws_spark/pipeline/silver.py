"""Bronze → Silver transformations (reference `scripts/glue/bronze_to_silver.py`).

Same semantics, re-expressed Spark-first with explicit schemas:

* ``current``: flatten nested JSON (P1-P3), DQ gates (P4-P6), keyed dedup
  (A4), derived observation_date / is_daytime / heat_index_category (X2,
  P11), date-partitioned transaction-log write (S4).
* ``forecast``: explode the 40-point `list` (X1), flatten, horizon math
  (F3/F8/F10), partitioned write.

Scale decisions vs the reference:
* explicit StructType read (no inference pass over 100 TB of JSON);
* `dropDuplicates` is one keyed exchange, and the write's
  `repartition(date)` one more (one file per date);
* the reference recomputes the whole plan for its post-write `.count()`
  (`bronze_to_silver.py:114-119`) — the writer here runs ONE pass (the
  write) and reads the count from the written files' footers;
* idempotence fix (SURVEY §2.11 M4): the reference appends while re-reading
  the FULL bronze glob every run, duplicating silver. `write_silver_tx`
  replaces the partitions its write produced in one transaction-log
  commit, so re-processing a day swaps that day atomically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.weather import HEAT_INDEX_SQL
from ..session import ensure_session_conf
from .schemas import BRONZE_CURRENT_SCHEMA, BRONZE_FORECAST_SCHEMA


def read_bronze(
    spark: SparkSession, bronze_dir: str, data_type: str, *, infer: bool = False
) -> DataFrame:
    """Read the bronze landing zone for one data_type.

    Reference parity: `spark.read.option("multiLine","true").json(glob)`
    over `raw/<type>/year=/month=/day=/hour=/*.json`
    (`bronze_to_silver.py:27-30,127-130`). `infer=True` reproduces the
    reference's schema-inference behavior (needed for its `wind.gust`
    introspection path); default is the explicit schema.
    """
    ensure_session_conf(spark)
    path = f"{bronze_dir}/raw/{data_type}/*/*/*/*/*.json"
    reader = spark.read.option("multiLine", "true")
    if not infer:
        schema = BRONZE_CURRENT_SCHEMA if data_type == "current" else BRONZE_FORECAST_SCHEMA
        reader = reader.schema(schema)
    return reader.json(path)


def _wind_gust_col(df: DataFrame):
    """Optional-field gate, parity with `bronze_to_silver.py:35-42`.

    With the explicit schema the field always exists (null when absent from
    the JSON), so the static default covers both cases; with an inferred
    schema the column may be missing entirely — introspect like the
    reference does.
    """
    wind_fields = []
    if "wind" in df.schema.fieldNames():
        wind_fields = df.schema["wind"].dataType.fieldNames()
    if "gust" in wind_fields:
        return F.coalesce(F.col("wind.gust"), F.lit(0.0))
    return F.lit(0.0)


def build_silver_current(bronze: DataFrame) -> DataFrame:
    """Flatten + clean current-weather bronze (`bronze_to_silver.py:24-109`).

    Built from parsed selectExpr strings: plan construction is serial
    driver/py4j latency the pipeline pays on EVERY run (measured ~1s for
    this builder alone as per-column Column chains); the parsed spelling
    is one round-trip per select with identical semantics — boolean/CASE
    shapes mirror the when/otherwise originals exactly (NULL conditions
    fall through to the ELSE), float literals carry the D suffix so they
    stay DOUBLE (bare 3600.0 would parse as DECIMAL)."""
    wind_fields = []
    if "wind" in bronze.schema.fieldNames():
        wind_fields = bronze.schema["wind"].dataType.fieldNames()
    gust_sql = (
        "coalesce(wind.gust, 0.0D)" if "gust" in wind_fields else "0.0D"
    )
    silver = bronze.selectExpr(
        "city_name AS location_name",
        "country AS country_code",
        "coord.lat AS latitude",
        "coord.lon AS longitude",
        "to_timestamp(extraction_timestamp) AS observation_time",
        "batch_id",
        "main.temp AS temperature_celsius",
        "main.feels_like AS feels_like_celsius",
        "main.temp_min AS temp_min_celsius",
        "main.temp_max AS temp_max_celsius",
        "main.humidity AS humidity_percent",
        "main.pressure AS pressure_hpa",
        "wind.speed AS wind_speed_mps",
        "wind.deg AS wind_direction_deg",
        f"{gust_sql} AS wind_gust_mps",
        "clouds.all AS cloud_cover_percent",
        "coalesce(visibility, 10000) AS visibility_meters",
        "weather[0].main AS weather_condition",
        "weather[0].description AS weather_description",
        "timezone AS timezone_offset_seconds",
        "timestamp_seconds(sys.sunrise) AS sunrise_time",
        "timestamp_seconds(sys.sunset) AS sunset_time",
        "current_timestamp() AS processed_timestamp",
    )

    # data-quality gates (`bronze_to_silver.py:82-88`)
    silver = silver.filter(
        "temperature_celsius IS NOT NULL"
        " AND temperature_celsius BETWEEN -50 AND 60"
        " AND humidity_percent BETWEEN 0 AND 100"
    ).dropDuplicates(["location_name", "observation_time"])

    # derived fields (`bronze_to_silver.py:90-109`)
    return silver.selectExpr(
        "*",
        "to_date(observation_time) AS observation_date",
        "CASE WHEN observation_time BETWEEN sunrise_time AND sunset_time"
        " THEN TRUE ELSE FALSE END AS is_daytime",
        HEAT_INDEX_SQL.format(c="feels_like_celsius")
        + " AS heat_index_category",
    )


def build_silver_forecast(bronze: DataFrame) -> DataFrame:
    """Explode + flatten forecast bronze (`bronze_to_silver.py:124-179`).

    Parsed selectExpr spelling, same rationale (and same semantics
    guards) as `build_silver_current`."""
    exploded = bronze.selectExpr(
        "city_name AS location_name",
        "country AS country_code",
        "to_timestamp(extraction_timestamp) AS forecast_created_time",
        "batch_id",
        "explode(list) AS fp",
    )
    return exploded.selectExpr(
        "location_name",
        "country_code",
        "forecast_created_time",
        "batch_id",
        "timestamp_seconds(fp.dt) AS forecast_for_time",
        "fp.main.temp AS temperature_celsius_forecast",
        "fp.main.feels_like AS feels_like_celsius_forecast",
        "fp.main.humidity AS humidity_percent_forecast",
        "fp.main.pressure AS pressure_hpa_forecast",
        "fp.wind.speed AS wind_speed_mps_forecast",
        "fp.wind.deg AS wind_direction_deg_forecast",
        "fp.clouds.all AS cloud_cover_percent_forecast",
        "coalesce(fp.pop, 0.0D) AS precipitation_probability",
        "fp.weather[0].main AS weather_condition_forecast",
        "current_timestamp() AS processed_timestamp",
        "to_date(timestamp_seconds(fp.dt)) AS forecast_for_date",
        "to_date(forecast_created_time) AS forecast_created_date",
        "round((unix_timestamp(timestamp_seconds(fp.dt))"
        " - unix_timestamp(forecast_created_time)) / 3600.0D, 1)"
        " AS forecast_horizon_hours",
    )


def write_silver_tx(df: DataFrame, path: str, partition_col: str) -> dict:
    """Transactional silver write: atomically replace exactly the dates
    present in this batch, as ONE `tx_replace_partitions` commit against
    the table's transaction log. Returns its `{"version", "rows",
    "partitions", "files_removed"}` — callers that publish a snapshot
    manifest must record THIS commit's version, not re-read the log (a
    concurrent writer's later commit would otherwise leak into the
    manifest as a mixed generation). `partitions` are the replaced raw
    partition values (ISO date strings; the NULL-date partition is None).

    This is the layer where the reference's M4 bug actually lives
    (`bronze_to_silver.py:114-117` appends while re-reading the full
    bronze glob) — this fixes it by CONSTRUCTION: a crash mid-write
    leaves the table at the previous version (no torn partition a
    concurrent reader can see), re-runs swap the same dates
    idempotently, the pre-ingest state stays time-travelable, and a bad
    load rolls back with `tx_restore`. The log records hive `col=value/`
    relpaths, so `tx_read` plans keep exact date pruning
    (PartitionFilters, dynamic partition pruning).

    The write is the only pass over the batch: the dates come back from
    the written files' partition paths and the row count from their
    footers, so no aggregate runs ahead of it and no per-date literal
    enters any plan. It is compacted to one file per date — a day of
    this domain is KBs, and the log commit cost is per FILE.
    """
    from ..operators.txlog import tx_replace_partitions

    return tx_replace_partitions(df.repartition(partition_col), path, partition_col)
