"""Answer checks: DuckDB over the snapshot tables' rows for the dashboard
queries, and an order-insensitive fingerprint of the accuracy fact.

Spark rounds its averages (ROUND(x, d)); DuckDB returns them unrounded, so
a rounded value matches when it lies within half a unit of its last digit
of the exact one. That tolerance never depends on summation order, unlike
comparing two independently rounded results.
"""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKET = """CASE WHEN forecast_horizon_hours <= 24 THEN '0-24 hours'
                  WHEN forecast_horizon_hours <= 48 THEN '24-48 hours'
                  WHEN forecast_horizon_hours <= 72 THEN '48-72 hours'
                  ELSE '72+ hours' END"""
# query -> (DuckDB SQL, {column: decimals Spark rounds it to})
DUCKDB_SQL = {
    "accuracy_by_horizon": (f"""
        SELECT {_BUCKET} AS horizon_bucket, COUNT(*) AS total_forecasts,
               AVG(temp_absolute_error) AS avg_error_celsius,
               AVG(CAST(is_accurate_forecast AS INT)) * 100 AS accuracy_pct
        FROM fact_forecast_accuracy GROUP BY 1""",
        {"avg_error_celsius": 2, "accuracy_pct": 1}),
    "city_performance_ranking": ("""
        SELECT dl.location_name, dl.country_code, COUNT(*) AS total_forecasts,
               AVG(fa.temp_absolute_error) AS avg_error,
               AVG(CAST(fa.is_accurate_forecast AS INT)) * 100 AS accuracy_pct
        FROM fact_forecast_accuracy fa
        JOIN dim_location dl ON fa.location_key = dl.location_key
        WHERE dl.is_current GROUP BY 1, 2""",
        {"avg_error": 2, "accuracy_pct": 1}),
    "current_weather_summary": ("""
        SELECT dl.location_name, c.observation_time, c.temperature_celsius,
               c.weather_condition, c.humidity_percent, c.wind_speed_mps
        FROM silver_current c
        JOIN dim_location dl ON c.location_name = dl.location_name
                            AND c.country_code = dl.country_code
        JOIN dim_date dd ON c.observation_date = dd.full_date
        WHERE dl.is_current AND CAST(c.observation_time AS DATE) = $as_of""",
        {}),
    "quality_distribution": ("""
        SELECT temp_accuracy_category, COUNT(*) AS forecast_count,
               COUNT(*) * 100.0 / SUM(COUNT(*)) OVER () AS percentage
        FROM fact_forecast_accuracy GROUP BY 1""",
        {"percentage": 1}),
}
SNAPSHOT_TABLES = ("fact_forecast_accuracy", "dim_location", "silver_current", "dim_date")


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def duckdb_answers(snapshot: dict, as_of: dt.date) -> dict[str, list[tuple]]:
    """Every dashboard query's answer, computed by DuckDB over the rows of
    the snapshot tables (exported once through Arrow)."""
    con = duckdb.connect()
    try:
        for name in SNAPSHOT_TABLES:
            con.register(name, snapshot[name].toArrow())
        out = {}
        for q, (sql, _) in DUCKDB_SQL.items():
            params = {"as_of": as_of} if "$as_of" in sql else None
            rows = con.execute(sql, params).fetchall()
            out[q] = sorted(tuple(_norm(v) for v in r) for r in rows)
        return out
    finally:
        con.close()


def matches(query: str, spark_rows: list, expected: list[tuple]) -> bool:
    """Order-insensitive comparison of collected Spark rows with DuckDB's."""
    if len(spark_rows) != len(expected):
        return False
    rounded = DUCKDB_SQL[query][1]
    cols = list(spark_rows[0].__fields__) if spark_rows else []
    digits = [rounded.get(c) for c in cols]
    got = sorted(tuple(_norm(v) for v in r) for r in spark_rows)
    for g, e in zip(got, expected):
        for a, b, d in zip(g, e, digits):
            if d is None:
                if a != b:
                    return False
            elif a is None or b is None:
                if a is not b:
                    return False
            elif abs(a - b) > 0.5 * 10 ** -d + 1e-9:
                return False
    return True


# accuracy-fact columns left out of the fingerprint: surrogate keys the
# SCD2 load assigns (and the key hashed from one) and the write timestamp
_UNSTABLE = ("location_key", "accuracy_key", "created_timestamp")


def accuracy_fingerprint(fact: DataFrame, dim_location: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash) of the accuracy fact, with the
    location surrogate key replaced by the natural key it stands for."""
    names = dim_location.select("location_key", "location_name", "country_code")
    rows = fact.join(names, "location_key").drop(*_UNSTABLE)
    h = F.xxhash64(*[F.col(c) for c in sorted(rows.columns)]).cast("decimal(38,0)")
    r = rows.agg(F.count("*").alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)
