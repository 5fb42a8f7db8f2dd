"""Golden tests for the weather-domain pipeline (SURVEY.md §5 strategy #2-4).

Synthetic bronze JSON (FIXTURES.md shapes) through bronze→silver→gold→facts;
asserts silver schemas, DQ-gate semantics, SCD2 behavior, date-dim
invariants, band-join boundaries, and idempotent re-ingest.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.pipeline.generate import CITIES, generate_bronze
from weather_data_warehouse_aws_spark.pipeline.gold import build_dim_date, build_dim_location
from weather_data_warehouse_aws_spark.pipeline.run import run_pipeline
from weather_data_warehouse_aws_spark.pipeline.silver import (
    build_silver_current,
    read_bronze,
    write_silver_tx,
)

DAYS = 3
EFFECTIVE = dt.date(2024, 1, 3)
NOW = dt.datetime(2024, 1, 3, 7, 0, 0)


@pytest.fixture(scope="module")
def bronze_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bronze"))
    counts = generate_bronze(d, days=DAYS, seed=42)
    assert counts == {"current": DAYS, "forecast": DAYS}
    return d


@pytest.fixture(scope="module")
def layers(spark, bronze_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)


@pytest.fixture(params=["localfs", "bucket"])
def warehouse_dir(request, tmp_path_factory):
    """A fresh warehouse root, parametrized over the two data planes the
    txlog suite proves (tests/test_txlog.py): shared-POSIX default and
    the no-rename bucket emulation. Tests taking this fixture prove the
    WAREHOUSE-level machinery (tables AND the cross-table generation
    manifest) holds on an object store — the manifest must route through
    the DataStore seam, or read_gold_snapshot reads a path that does not
    exist in bucket mode."""
    from weather_data_warehouse_aws_spark.operators import txlog as _txmod
    from weather_data_warehouse_aws_spark.operators.txlog import (
        register_data_store,
    )

    wh = str(tmp_path_factory.mktemp(f"warehouse_{request.param}"))
    if request.param == "localfs":
        yield wh
        return
    from tests.bucket_store import BucketFSDataStore

    bucket = str(tmp_path_factory.mktemp("wh_bucket"))
    register_data_store(wh, BucketFSDataStore(bucket))
    try:
        yield wh
    finally:
        _txmod._DATA_STORES.pop(wh, None)


# ---------------------------------------------------------------- silver
def test_silver_current_dq_gates(spark, bronze_dir):
    """Out-of-range temp, null temp, and duplicate keys are dropped
    (reference bronze_to_silver.py:82-88): 8 clean rows per batch survive
    the 11 generated (8 + 3 violations)."""
    bronze = read_bronze(spark, bronze_dir, "current")
    assert bronze.count() == DAYS * 11
    silver = build_silver_current(bronze)
    assert silver.count() == DAYS * 8


def test_silver_current_schema(layers):
    expected = {
        "location_name": "string",
        "country_code": "string",
        "latitude": "double",
        "longitude": "double",
        "observation_time": "timestamp",
        "batch_id": "string",
        "temperature_celsius": "double",
        "feels_like_celsius": "double",
        "temp_min_celsius": "double",
        "temp_max_celsius": "double",
        "humidity_percent": "bigint",
        "pressure_hpa": "bigint",
        "wind_speed_mps": "double",
        "wind_direction_deg": "bigint",
        "wind_gust_mps": "double",
        "cloud_cover_percent": "bigint",
        "visibility_meters": "bigint",
        "weather_condition": "string",
        "weather_description": "string",
        "timezone_offset_seconds": "bigint",
        "sunrise_time": "timestamp",
        "sunset_time": "timestamp",
        "processed_timestamp": "timestamp",
        "observation_date": "date",
        "is_daytime": "boolean",
        "heat_index_category": "string",
    }
    actual = dict(layers["silver_current"].dtypes)
    assert actual == expected


def test_silver_current_derivations(layers):
    sc = layers["silver_current"]
    cats = {r[0] for r in sc.select("heat_index_category").distinct().collect()}
    assert cats <= {"Extreme Heat", "High Heat", "Moderate", "Comfortable", "Cold"}
    # visibility null → 10000 default
    assert sc.filter(F.col("visibility_meters").isNull()).count() == 0
    # observation at 06:00, sunrise 06:00 (inclusive between) → daytime
    assert sc.filter(~F.col("is_daytime")).count() == 0


def test_silver_forecast_explode_and_horizon(layers):
    sf = layers["silver_forecast"]
    assert sf.count() == DAYS * 8 * 40  # 40 points per city per batch (X1)
    horizons = sf.select("forecast_horizon_hours").distinct()
    hs = sorted(r[0] for r in horizons.collect())
    assert hs == [3.0 * (i + 1) for i in range(40)]
    assert sf.filter(F.col("precipitation_probability").isNull()).count() == 0


def test_silver_idempotent_rewrite(spark, bronze_dir, tmp_path_factory):
    """M4 fix: re-processing the same days must not duplicate silver rows;
    each landing is one new table version holding the same rows."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_read

    out = str(tmp_path_factory.mktemp("silver_idem"))
    silver = build_silver_current(read_bronze(spark, bronze_dir, "current"))
    r1 = write_silver_tx(silver, out, "observation_date")
    r2 = write_silver_tx(silver, out, "observation_date")
    assert r1["rows"] == r2["rows"] == tx_read(spark, out).count()
    assert r2["version"] == r1["version"] + 1
    cols = [c for c in silver.columns if c != "processed_timestamp"]

    def rows(version):
        df = tx_read(spark, out, version=version).select(cols)
        return sorted(str(tuple(r)) for r in df.collect())

    assert rows(r1["version"]) == rows(r2["version"])


# ------------------------------------------------------------------ gold
def test_dim_date_invariants(spark):
    dd = build_dim_date(spark).cache()
    assert dd.count() == 1096  # 2024-01-01..2026-12-31, reference README.md:149
    assert dd.select("date_key").distinct().count() == 1096
    row = dd.filter(F.col("full_date") == "2024-01-06").collect()[0]  # a Saturday
    assert row.date_key == 20240106
    assert row.day_of_week == 7 and row.is_weekend and row.day_name == "Saturday"
    assert row.month_name == "January" and row.quarter == 1
    assert dd.filter(F.col("is_holiday")).count() == 0
    dd.unpersist()


def test_dim_location_initial_load(layers):
    dl = layers["dim_location"]
    assert dl.count() == len(CITIES)
    rows = {r.location_name: r for r in dl.collect()}
    assert rows["Mumbai"].timezone_name == "IST"
    assert rows["London"].timezone_name == "GMT"
    # dense keys 1..8 in location_name order (reference build_dimensions.py:68-73)
    keys = [r.location_key for r in sorted(rows.values(), key=lambda r: r.location_name)]
    assert keys == list(range(1, 9))
    assert all(r.is_current and r.version == 1 for r in rows.values())
    assert all(str(r.effective_to_date) == "9999-12-31" for r in rows.values())


def test_scd2_merge_expire_and_insert(spark, layers):
    """The merge the reference documents but never implemented
    (build_dimensions.py:96-97): a timezone change expires v1, inserts v2."""
    dl = layers["dim_location"]
    updates = (
        dl.filter(F.col("is_current"))
        .select(
            "location_name", "country_code", "latitude", "longitude",
            "timezone_offset_seconds", "timezone_name",
        )
        .withColumn(
            "timezone_offset_seconds",
            F.when(F.col("location_name") == "Mumbai", F.lit(20700)).otherwise(
                F.col("timezone_offset_seconds")
            ),
        )
        .withColumn(
            "timezone_name",
            F.when(F.col("location_name") == "Mumbai", F.lit("UTC")).otherwise(
                F.col("timezone_name")
            ),
        )
    )
    eff2 = dt.date(2024, 2, 1)
    merged = build_dim_location(
        updates, dl, effective_date=eff2, now=dt.datetime(2024, 2, 1, 7)
    ).cache()

    assert merged.count() == len(CITIES) + 1
    mumbai = {r.version: r for r in merged.filter(F.col("location_name") == "Mumbai").collect()}
    assert set(mumbai) == {1, 2}
    assert not mumbai[1].is_current and str(mumbai[1].effective_to_date) == str(eff2)
    assert mumbai[2].is_current and mumbai[2].timezone_offset_seconds == 20700
    assert str(mumbai[2].effective_from_date) == str(eff2)
    # unchanged rows keep identity
    london = merged.filter(F.col("location_name") == "London").collect()
    assert len(london) == 1 and london[0].is_current and london[0].version == 1
    # merge is idempotent: re-merging the same snapshot changes nothing
    again = build_dim_location(
        updates, merged, effective_date=dt.date(2024, 3, 1), now=dt.datetime(2024, 3, 1)
    )
    assert again.count() == merged.count()
    assert again.filter(F.col("is_current")).count() == len(CITIES)
    merged.unpersist()


def test_scd2_merge_partial_snapshot_keeps_absent_keys(spark, layers):
    """A partial updates snapshot (one city) must not drop the other current
    rows — keys absent from the snapshot remain current, unchanged."""
    dl = layers["dim_location"]
    partial = (
        dl.filter(F.col("is_current") & (F.col("location_name") == "Mumbai"))
        .select(
            "location_name", "country_code", "latitude", "longitude",
            "timezone_offset_seconds", "timezone_name",
        )
        .withColumn("timezone_offset_seconds", F.lit(20700))
    )
    eff = dt.date(2024, 2, 1)
    merged = build_dim_location(
        partial, dl, effective_date=eff, now=dt.datetime(2024, 2, 1, 7)
    ).cache()
    # Mumbai expired + re-inserted; every other city still present and current
    assert merged.count() == len(CITIES) + 1
    assert merged.filter(F.col("is_current")).count() == len(CITIES)
    london = merged.filter(F.col("location_name") == "London").collect()
    assert len(london) == 1 and london[0].is_current and london[0].version == 1
    mumbai = {r.version: r for r in merged.filter(F.col("location_name") == "Mumbai").collect()}
    assert set(mumbai) == {1, 2} and mumbai[2].timezone_offset_seconds == 20700
    merged.unpersist()


def test_scd2_merge_new_key_inserts_v1(spark, layers):
    dl = layers["dim_location"]
    new_city = spark.createDataFrame(
        [("Berlin", "DE", 52.52, 13.405, 3600, "UTC")],
        "location_name string, country_code string, latitude double, "
        "longitude double, timezone_offset_seconds bigint, timezone_name string",
    )
    updates = dl.filter(F.col("is_current")).select(*new_city.columns).unionByName(new_city)
    merged = build_dim_location(updates, dl, effective_date=dt.date(2024, 2, 1))
    berlin = merged.filter(F.col("location_name") == "Berlin").collect()
    assert len(berlin) == 1 and berlin[0].version == 1 and berlin[0].is_current
    assert merged.count() == len(CITIES) + 1


# ----------------------------------------------------------------- facts
def test_fact_counts_and_keys(layers):
    actual = layers["fact_weather_actual"]
    forecast = layers["fact_weather_forecast"]
    assert actual.count() == DAYS * 8
    assert forecast.count() == DAYS * 8 * 40
    assert actual.select("actual_weather_key").distinct().count() == actual.count()
    assert forecast.select("forecast_key").distinct().count() == forecast.count()


def test_accuracy_fact_semantics(layers):
    acc = layers["fact_forecast_accuracy"]
    n = acc.count()
    assert n > 0
    # every matched pair is within the strict 1-hour band
    viol = acc.filter(
        F.abs(
            F.unix_timestamp("forecast_for_time")
            - F.unix_timestamp("actual_observation_time")
        )
        >= 3600
    )
    assert viol.count() == 0
    # category ↔ error consistency
    bad = acc.filter(
        (
            (F.col("temp_absolute_error") <= 1) & (F.col("temp_accuracy_category") != "Excellent")
        )
        | (
            (F.col("temp_absolute_error") > 5) & (F.col("temp_accuracy_category") != "Poor")
        )
    )
    assert bad.count() == 0
    agree = acc.filter(
        F.col("is_accurate_forecast")
        != ((F.col("temp_absolute_error") <= 3) & F.col("condition_match"))
    )
    assert agree.count() == 0


def test_analytics_queries_run(spark, layers):
    from weather_data_warehouse_aws_spark.pipeline import analytics

    acc = layers["fact_forecast_accuracy"]
    q1 = analytics.accuracy_by_horizon(acc).collect()
    assert {r.horizon_bucket for r in q1} <= {
        "0-24 hours", "24-48 hours", "48-72 hours", "72+ hours",
    }
    q2 = analytics.city_performance_ranking(acc, layers["dim_location"]).collect()
    assert 0 < len(q2) <= 8
    pcts = [r.accuracy_pct for r in q2]
    assert pcts == sorted(pcts, reverse=True)
    q3 = analytics.current_weather_summary(
        layers["fact_weather_actual"], layers["dim_location"], as_of=dt.date(2024, 1, 2)
    ).collect()
    assert len(q3) == 8
    q4 = analytics.quality_distribution(acc).collect()
    assert abs(sum(r.percentage for r in q4) - 100.0) < 0.5


def test_inferred_schema_gust_introspection(spark, tmp_path_factory):
    """X4 parity: with schema INFERENCE (the reference's mode), a bronze
    batch with no `wind.gust` anywhere lacks the column entirely —
    `_wind_gust_col` must fall back to lit(0.0) via introspection
    (reference bronze_to_silver.py:35-42)."""
    import json
    import os
    import random

    from weather_data_warehouse_aws_spark.pipeline.generate import (
        CITIES,
        _bronze_key,
        _current_payload,
    )

    d = str(tmp_path_factory.mktemp("bronze_nogust"))
    rng = random.Random(7)
    batch_ts = dt.datetime(2024, 3, 1, 6, 0, 0)
    payloads = [_current_payload(rng, c, batch_ts, include_gust=False) for c in CITIES]
    path = _bronze_key(d, "current", batch_ts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payloads, f)

    bronze = read_bronze(spark, d, "current", infer=True)
    assert "gust" not in bronze.schema["wind"].dataType.fieldNames()
    silver = build_silver_current(bronze)
    rows = silver.select("wind_gust_mps").collect()
    assert len(rows) == len(CITIES)
    assert all(r.wind_gust_mps == 0.0 for r in rows)


def test_write_silver_compact_single_file_per_partition(spark, bronze_dir, tmp_path_factory):
    import os
    from collections import Counter

    from weather_data_warehouse_aws_spark.operators.txlog import tx_read, tx_snapshot

    out = str(tmp_path_factory.mktemp("silver_compact"))
    silver = build_silver_current(read_bronze(spark, bronze_dir, "current"))
    res = write_silver_tx(silver, out, "observation_date")
    assert res["rows"] == tx_read(spark, out).count()
    per_date = Counter(os.path.dirname(f) for f in tx_snapshot(out)["files"])
    assert len(per_date) == DAYS
    assert all(n == 1 for n in per_date.values()), per_date


# ------------------------------------------------------- gold on the txlog
def test_gold_tables_are_transactional_and_time_travelable(
    spark, bronze_dir, tmp_path_factory
):
    """Round-6 headline: gold dims + the materialized accuracy fact ride
    the transaction log — a re-run is a new atomic version, the
    pre-refresh state stays readable (time travel), and a bad load is
    `tx_restore`-able. The reference's M4 re-run bug is impossible by
    construction here."""
    import os

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_exists,
        tx_history,
        tx_read,
        tx_restore,
        tx_snapshot,
    )

    wh = str(tmp_path_factory.mktemp("warehouse_tx"))
    layers1 = run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)
    acc_path = os.path.join(wh, "gold", "fact_forecast_accuracy")
    dim_path = os.path.join(wh, "gold", "dim_location")
    cur_path = os.path.join(wh, "silver", "current_weather")
    for p in (
        acc_path, dim_path, os.path.join(wh, "gold", "dim_date"),
        cur_path, os.path.join(wh, "silver", "forecast_weather"),
    ):
        assert tx_exists(p), f"{p} must be a tx table"
    sv0 = tx_snapshot(cur_path)["version"]
    sn0 = layers1["silver_current"].count()
    v0 = tx_snapshot(acc_path)["version"]
    n0 = layers1["fact_forecast_accuracy"].count()
    rows0 = sorted(
        str(r) for r in tx_read(spark, acc_path).drop("processed_timestamp").collect()
    )

    # idempotent re-run: same rows, NEW version; old version still readable
    layers2 = run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)
    v1 = tx_snapshot(acc_path)["version"]
    assert v1 > v0
    assert layers2["fact_forecast_accuracy"].count() == n0
    pre = tx_read(spark, acc_path, version=v0)
    assert sorted(
        str(r) for r in pre.drop("processed_timestamp").collect()
    ) == rows0
    # the SCD2 dim merged against its own previous tx version
    assert [h["op"] for h in tx_history(dim_path)].count("overwrite") == 2

    # SILVER is on the log too (round-7): the re-ingest swapped the same
    # dates atomically (one replace_partitions commit), row count is
    # unchanged, and silver time-travels to the pre-ingest version
    sv1 = tx_snapshot(cur_path)["version"]
    assert sv1 > sv0
    assert layers2["silver_current"].count() == sn0
    assert tx_read(spark, cur_path, version=sv0).count() == sn0
    assert [h["op"] for h in tx_history(cur_path)].count("replace_partitions") == 2

    # bad-load rollback: restore the fact to the pre-refresh version
    tx_restore(acc_path, v0)
    assert sorted(
        str(r)
        for r in tx_read(spark, acc_path).drop("processed_timestamp").collect()
    ) == rows0


def test_read_gold_snapshot_pins_one_generation(
    spark, bronze_dir, warehouse_dir, capsys
):
    """Cross-table read consistency: dims and the fact commit to SEPARATE
    logs, so an unpinned reader arriving between commits could join the
    new dim_location to the pre-refresh fact. read_gold_snapshot pins
    every table as_of the versions the last COMPLETED run_pipeline
    published — a reader holding the snapshot through a concurrent
    refresh keeps one coherent generation. Runs on BOTH data planes
    (warehouse_dir fixture): on the bucket store the generation manifest
    itself must live through the DataStore seam."""
    import os

    from weather_data_warehouse_aws_spark.operators.txlog import (
        get_data_store,
        tx_snapshot,
    )
    from weather_data_warehouse_aws_spark.pipeline.run import (
        _SNAPSHOT_REL,
        SNAPSHOT_TABLES,
        _manifest_root,
        read_gold_snapshot,
    )

    wh = warehouse_dir
    run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)

    # the manifest lives where the STORE says — never raw POSIX under the
    # warehouse root in bucket mode (the seam proof: a bypassing
    # os.replace would land it at the raw path and read_gold_snapshot on
    # a real object store would see a manifest the bucket never received)
    groot = _manifest_root(wh)
    store_loc = get_data_store(groot).read_uri(groot, _SNAPSHOT_REL)
    assert os.path.exists(store_loc)
    raw_loc = os.path.join(groot, _SNAPSHOT_REL)
    if store_loc != raw_loc:  # bucket mode
        assert not os.path.exists(raw_loc), (
            "generation manifest bypassed the DataStore seam"
        )
    gen1_versions = {
        name: tx_snapshot(os.path.join(wh, *rel))["version"]
        for name, rel in SNAPSHOT_TABLES.items()
    }
    snap = read_gold_snapshot(spark, wh)
    assert snap["versions"] == gen1_versions
    fact_rows1 = sorted(
        str(r)
        for r in snap["fact_forecast_accuracy"]
        .drop("processed_timestamp")
        .collect()
    )
    dim1 = sorted(str(r) for r in snap["dim_location"].collect())

    # a full refresh lands UNDER the held snapshot (every table advances)
    run_pipeline(
        spark, bronze_dir, wh,
        effective_date=EFFECTIVE + dt.timedelta(days=1),
        now=NOW + dt.timedelta(days=1),
    )
    for name, rel in SNAPSHOT_TABLES.items():
        assert tx_snapshot(os.path.join(wh, *rel))["version"] > gen1_versions[name]

    # the held snapshot still reads generation 1 — all tables, coherently
    assert sorted(
        str(r)
        for r in snap["fact_forecast_accuracy"]
        .drop("processed_timestamp")
        .collect()
    ) == fact_rows1
    assert sorted(str(r) for r in snap["dim_location"].collect()) == dim1

    # a NEW snapshot reads generation 2 (manifest swapped after all commits)
    snap2 = read_gold_snapshot(spark, wh)
    assert all(
        snap2["versions"][n] == tx_snapshot(os.path.join(wh, *r))["version"]
        for n, r in SNAPSHOT_TABLES.items()
    )

    # a commit landing AFTER the manifest publish must not leak into the
    # pinned read: the manifest is the generation, not "latest"
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_overwrite,
        tx_read,
    )

    dd_path = os.path.join(wh, *SNAPSHOT_TABLES["dim_date"])
    tx_overwrite(tx_read(spark, dd_path).limit(10), dd_path)
    snap3 = read_gold_snapshot(spark, wh)
    assert snap3["versions"]["dim_date"] == snap2["versions"]["dim_date"]
    assert snap3["dim_date"].count() == snap2["dim_date"].count() > 10

    # CLI surface
    from weather_data_warehouse_aws_spark.__main__ import main

    assert main(["snapshot", "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert f"dim_date: v{snap2['versions']['dim_date']}," in out
    assert "fact_forecast_accuracy: v" in out


def test_crash_between_gold_commits_keeps_snapshot_coherent(
    spark, bronze_dir, warehouse_dir, monkeypatch
):
    """Kill-between-commits: the gold tables commit to separate logs
    sequentially, so a refresh that dies between the dim and fact
    commits leaves "latest" a MIXED generation. The warehouse generation
    pointer (the snapshot manifest, published only after every commit)
    must keep read_gold_snapshot on the previous coherent generation —
    never mixed dims/fact — and a completed re-run heals it. Runs on
    BOTH data planes (warehouse_dir fixture): crash recovery must hold
    when the warehouse lives on an object store."""
    import os

    from weather_data_warehouse_aws_spark.operators.txlog import tx_snapshot
    from weather_data_warehouse_aws_spark.pipeline import run as run_mod
    from weather_data_warehouse_aws_spark.pipeline.run import (
        SNAPSHOT_TABLES,
        read_gold_snapshot,
    )

    wh = warehouse_dir
    layers1 = run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)
    gen1 = read_gold_snapshot(spark, wh)["versions"]
    dim1 = sorted(
        str(r) for r in read_gold_snapshot(spark, wh)["dim_location"].collect()
    )

    # crash the second refresh AFTER dim_location commits but BEFORE
    # dim_date / the fact do (tx_overwrite call #2 of the run)
    real_overwrite = run_mod.tx_overwrite
    calls = {"n": 0}

    def dying_overwrite(df, path, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between gold commits")
        return real_overwrite(df, path, **kw)

    monkeypatch.setattr(run_mod, "tx_overwrite", dying_overwrite)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(
            spark, bronze_dir, wh,
            effective_date=EFFECTIVE + dt.timedelta(days=1),
            now=NOW + dt.timedelta(days=1),
        )
    monkeypatch.setattr(run_mod, "tx_overwrite", real_overwrite)

    # "latest" IS mixed now: dim_location advanced, the fact did not
    dim_path = os.path.join(wh, *SNAPSHOT_TABLES["dim_location"])
    fact_path = os.path.join(wh, *SNAPSHOT_TABLES["fact_forecast_accuracy"])
    assert tx_snapshot(dim_path)["version"] > gen1["dim_location"]
    assert tx_snapshot(fact_path)["version"] == gen1["fact_forecast_accuracy"]

    # ...but an unpinned snapshot reader still sees generation 1 whole:
    # the manifest was never republished, so every table reads as_of gen1
    snap = read_gold_snapshot(spark, wh)
    assert snap["versions"] == gen1
    assert sorted(str(r) for r in snap["dim_location"].collect()) == dim1
    # the crashed run published nothing, so generation 1's recorded
    # frames are still the ones served
    assert all(snap[n] is layers1[n] for n in gen1)

    # a COMPLETED re-run publishes generation 2 atomically
    run_pipeline(
        spark, bronze_dir, wh,
        effective_date=EFFECTIVE + dt.timedelta(days=1),
        now=NOW + dt.timedelta(days=1),
    )
    snap2 = read_gold_snapshot(spark, wh)
    assert all(snap2["versions"][n] > gen1[n] for n in gen1)
    # the healed generation is self-consistent: every pinned version is
    # the table's CURRENT latest (no torn intermediate leaked in)
    for name, rel in SNAPSHOT_TABLES.items():
        assert (
            snap2["versions"][name]
            == tx_snapshot(os.path.join(wh, *rel))["version"]
        )


# ------------------------------------------------- published-generation reuse
def _gen_paths(wh):
    import os

    from weather_data_warehouse_aws_spark.pipeline.run import SNAPSHOT_TABLES

    return {n: os.path.join(wh, *rel) for n, rel in SNAPSHOT_TABLES.items()}


def test_read_gold_snapshot_reuses_published_generation(
    spark, bronze_dir, tmp_path_factory, monkeypatch
):
    """run_pipeline records the frames it read back at its committed
    versions; while the manifest names that generation, every
    read_gold_snapshot returns those frames (in a fresh dict) without
    rebuilding a single table read. The next run_pipeline's generation
    replaces it."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_snapshot
    from weather_data_warehouse_aws_spark.pipeline import run as run_mod
    from weather_data_warehouse_aws_spark.pipeline.run import (
        SNAPSHOT_TABLES,
        read_gold_snapshot,
    )

    wh = str(tmp_path_factory.mktemp("wh_reuse"))
    layers1 = run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)

    reads = {"n": 0}
    real_read = run_mod.tx_read

    def counting_read(*a, **kw):
        reads["n"] += 1
        return real_read(*a, **kw)

    monkeypatch.setattr(run_mod, "tx_read", counting_read)
    snap_a = read_gold_snapshot(spark, wh)
    snap_b = read_gold_snapshot(spark, wh)
    assert reads["n"] == 0
    assert snap_a is not snap_b
    assert set(snap_a) == {*SNAPSHOT_TABLES, "versions"}
    for n in SNAPSHOT_TABLES:
        assert snap_a[n] is layers1[n] and snap_b[n] is layers1[n]
    snap_a["dim_location"] = None  # a caller's dict is its own
    assert read_gold_snapshot(spark, wh)["dim_location"] is layers1["dim_location"]
    monkeypatch.setattr(run_mod, "tx_read", real_read)

    dim1 = sorted(str(r) for r in snap_b["dim_location"].collect())
    layers2 = run_pipeline(
        spark, bronze_dir, wh,
        effective_date=EFFECTIVE + dt.timedelta(days=1),
        now=NOW + dt.timedelta(days=1),
    )
    snap2 = read_gold_snapshot(spark, wh)
    assert all(snap2["versions"][n] == snap_b["versions"][n] + 1 for n in SNAPSHOT_TABLES)
    assert all(snap2[n] is layers2[n] for n in SNAPSHOT_TABLES)
    assert snap2["versions"] == {
        n: tx_snapshot(p)["version"] for n, p in _gen_paths(wh).items()
    }
    # the held generation-1 frames still read generation 1
    assert sorted(str(r) for r in snap_b["dim_location"].collect()) == dim1


def test_read_gold_snapshot_vacuumed_pinned_version_still_raises(
    spark, bronze_dir, tmp_path_factory
):
    """Reusing the recorded frames still resolves every pinned version:
    once a vacuum retires the published dim_date version, the snapshot
    read fails loudly instead of handing out frames over deleted files."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_overwrite,
        tx_read,
        tx_vacuum,
    )
    from weather_data_warehouse_aws_spark.pipeline.run import read_gold_snapshot

    wh = str(tmp_path_factory.mktemp("wh_vacuum"))
    run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)
    read_gold_snapshot(spark, wh)
    dd_path = _gen_paths(wh)["dim_date"]
    tx_overwrite(tx_read(spark, dd_path).limit(10), dd_path)
    tx_vacuum(dd_path, retain_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        read_gold_snapshot(spark, wh)


def test_read_gold_snapshot_other_session_or_rebuilt_warehouse_reads_logs(
    spark, bronze_dir, tmp_path_factory
):
    """The record is per SparkSession: a second session never receives
    the first one's frames. A warehouse replaced by another at the SAME
    version numbers is a different generation (its data files differ)
    and is read from its logs."""
    import shutil

    from weather_data_warehouse_aws_spark.pipeline.run import (
        SNAPSHOT_TABLES,
        read_gold_snapshot,
    )

    wh = str(tmp_path_factory.mktemp("wh_session"))
    layers = run_pipeline(spark, bronze_dir, wh, effective_date=EFFECTIVE, now=NOW)
    other = spark.newSession()
    snap = read_gold_snapshot(other, wh)
    for n in SNAPSHOT_TABLES:
        assert snap[n] is not layers[n]
        assert snap[n].sparkSession is other
    assert snap["dim_location"].count() == layers["dim_location"].count()
    n_fact = layers["fact_forecast_accuracy"].count()

    twin = str(tmp_path_factory.mktemp("wh_twin"))
    run_pipeline(spark, bronze_dir, twin, effective_date=EFFECTIVE, now=NOW)
    shutil.rmtree(wh)
    shutil.copytree(twin, wh)
    # the twin's run recorded ITS path; wh's record still names the
    # deleted files under the same version numbers
    rebuilt = read_gold_snapshot(spark, wh)
    assert rebuilt["versions"] == snap["versions"]
    assert all(rebuilt[n] is not layers[n] for n in SNAPSHOT_TABLES)
    assert rebuilt["fact_forecast_accuracy"].count() == n_fact


# --------------------------------------------- SCD2 through run_pipeline
SHIFTED_CITY, SHIFTED_TZ = "Sydney", 39600  # AEST -> AEDT


def _shift_offset(bronze, city=SHIFTED_CITY, tz=SHIFTED_TZ, *, on_or_after=None):
    """Rewrite `city`'s timezone offset in the bronze current payloads
    (optionally only from day `on_or_after`): a DST switch in the feed."""
    import glob
    import json
    import os

    pattern = os.path.join(bronze, "raw", "current", "**", "*.json")
    for path in glob.glob(pattern, recursive=True):
        with open(path, encoding="utf-8") as f:
            payloads = json.load(f)
        for p in payloads:
            if p["city_name"] == city and (
                on_or_after is None or p["extraction_timestamp"][:10] >= on_or_after
            ):
                p["timezone"] = tz
        with open(path, "w", encoding="utf-8") as f:
            json.dump(payloads, f)


def test_run_pipeline_scd2_offset_change_expires_and_inserts(spark, tmp_path_factory):
    """A city's tracked attribute changing between two loads (a DST
    offset switch) expires its version 1 and inserts version 2. The
    SCD2 updates come from the load's own batch, so the silver history
    holding both offsets cannot trip the duplicate-key guard."""
    from weather_data_warehouse_aws_spark.pipeline.run import read_gold_snapshot

    day1 = str(tmp_path_factory.mktemp("bronze_tz1"))
    day2 = str(tmp_path_factory.mktemp("bronze_tz2"))
    generate_bronze(day1, start=dt.date(2024, 1, 1), days=1, seed=7)
    generate_bronze(day2, start=dt.date(2024, 1, 2), days=1, seed=8)
    _shift_offset(day2)
    wh = str(tmp_path_factory.mktemp("wh_tz"))
    run_pipeline(spark, day1, wh, effective_date=dt.date(2024, 1, 1),
                 now=dt.datetime(2024, 1, 1, 7))
    eff2 = dt.date(2024, 1, 2)
    run_pipeline(spark, day2, wh, effective_date=eff2, now=dt.datetime(2024, 1, 2, 7))

    dim = read_gold_snapshot(spark, wh)["dim_location"].collect()
    rows = {r.version: r for r in dim if r.location_name == SHIFTED_CITY}
    assert set(rows) == {1, 2}
    assert not rows[1].is_current and rows[1].timezone_offset_seconds == 36000
    assert str(rows[1].effective_to_date) == str(eff2)
    assert rows[2].is_current and rows[2].timezone_offset_seconds == SHIFTED_TZ
    assert str(rows[2].effective_from_date) == str(eff2)
    current = [r for r in dim if r.is_current]
    assert len(current) == len(CITIES)
    assert len({(r.location_name, r.country_code) for r in current}) == len(CITIES)
    assert len(dim) == len(CITIES) + 1


def test_run_pipeline_from_scratch_history_with_both_offsets(spark, tmp_path_factory):
    """An initial load over a history in which one city's offset changed
    yields ONE current row per natural key, carrying the latest offset."""
    from weather_data_warehouse_aws_spark.pipeline.run import read_gold_snapshot

    bronze = str(tmp_path_factory.mktemp("bronze_tz_hist"))
    generate_bronze(bronze, start=dt.date(2024, 1, 1), days=2, seed=7)
    _shift_offset(bronze, on_or_after="2024-01-02")
    wh = str(tmp_path_factory.mktemp("wh_tz_hist"))
    run_pipeline(spark, bronze, wh, effective_date=dt.date(2024, 1, 2),
                 now=dt.datetime(2024, 1, 2, 7))

    dim = read_gold_snapshot(spark, wh)["dim_location"].collect()
    assert len(dim) == len(CITIES)
    assert all(r.is_current and r.version == 1 for r in dim)
    assert len({(r.location_name, r.country_code) for r in dim}) == len(CITIES)
    (sydney,) = [r for r in dim if r.location_name == SHIFTED_CITY]
    assert sydney.timezone_offset_seconds == SHIFTED_TZ


# ------------------------------------------------------------ daily load
#: Spark jobs in a warm daily load: silver 5 (dedup + write per table),
#: dim_location 2 (one-pass SCD2 merge + write), dim_date 1, accuracy
#: fact 7. The join-and-union merge and the aggregate-then-replaceWhere
#: silver write this replaced took 29 on the benchmark warehouse.
DAILY_LOAD_JOB_BUDGET = 15


def test_warm_daily_load_job_budget(spark, bronze_dir, tmp_path_factory):
    """A warm load (one new bronze day into a built warehouse, after a
    first warm load) runs at most DAILY_LOAD_JOB_BUDGET Spark jobs,
    counted under one job group by the status tracker."""
    wh = str(tmp_path_factory.mktemp("wh_budget"))
    run_pipeline(spark, bronze_dir, wh)
    sc = spark.sparkContext
    jobs = []
    for i in range(2):
        day = str(tmp_path_factory.mktemp(f"bronze_day{i}"))
        generate_bronze(day, start=dt.date(2024, 1, 1) + dt.timedelta(days=DAYS + i),
                        days=1, seed=100 + i)
        group = f"daily-load-budget-{i}"
        sc.setJobGroup(group, "warm daily load")
        try:
            run_pipeline(spark, day, wh)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[-1] <= DAILY_LOAD_JOB_BUDGET, jobs


def test_dim_date_spine_covers_the_data(spark, tmp_path_factory):
    """Bronze days past the configured dim_date range (2026-12-31) still
    reach the facts: the spine grows to the silver data's own dates, so
    the facts' inner join to dim_date drops no row. The spine is
    committed on every load, like every other manifest table."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_history

    bronze = str(tmp_path_factory.mktemp("bronze_year_end"))
    generate_bronze(bronze, start=dt.date(2026, 12, 29), days=5, seed=11)
    wh = str(tmp_path_factory.mktemp("wh_year_end"))
    layers = run_pipeline(spark, bronze, wh)
    assert layers["fact_weather_actual"].count() == layers["silver_current"].count()
    assert layers["fact_weather_forecast"].count() == layers["silver_forecast"].count()
    last_for = layers["silver_forecast"].agg(F.max("forecast_for_date")).first()[0]
    span = layers["dim_date"].agg(F.min("full_date"), F.max("full_date")).first()
    assert str(span[0]) == "2024-01-01" and span[1] == last_for > dt.date(2027, 1, 2)
    run_pipeline(spark, bronze, wh)
    assert len(tx_history(os.path.join(wh, "gold", "dim_date"))) == 2
