"""`tx_replace_partitions` — the silver write's dynamic partition overwrite
on the transaction log: one write, one commit, and the replaced region is
exactly the partitions the write produced."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators import txlog
from weather_data_warehouse_aws_spark.operators.txlog import (
    tx_append,
    tx_history,
    tx_read,
    tx_replace_partitions,
    tx_set_partition_spec,
    tx_snapshot,
)

SCHEMA = "city string, d date, temp double"
D1, D2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)


def _rows(spark, path, version=None):
    return sorted(
        (r.city, r.d, r.temp) for r in tx_read(spark, path, version=version).collect()
    )


def _land(spark, path, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return tx_replace_partitions(df.repartition("d"), path, "d")


def test_relanding_a_day_with_fewer_cities_removes_old_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    first = _land(spark, path, [("a", D1, 1.0), ("b", D1, 2.0), ("c", D2, 3.0)])
    assert first["partitions"] == ["2024-01-01", "2024-01-02"]
    res = _land(spark, path, [("a", D1, 9.0)])
    assert res["partitions"] == ["2024-01-01"]
    assert res["files_removed"] == 1
    assert _rows(spark, path) == [("a", D1, 9.0), ("c", D2, 3.0)]
    # the replaced version stays time-travelable
    assert _rows(spark, path, first["version"]) == [
        ("a", D1, 1.0), ("b", D1, 2.0), ("c", D2, 3.0)
    ]


def test_null_date_partition_is_replaced(spark, tmp_path):
    path = str(tmp_path / "t")
    _land(spark, path, [("a", None, 1.0), ("b", None, 2.0), ("c", D1, 3.0)])
    res = _land(spark, path, [("z", None, 5.0)])
    assert res["partitions"] == [None]
    assert _rows(spark, path) == [("c", D1, 3.0), ("z", None, 5.0)]
    res = _land(spark, path, [("y", D1, 4.0), ("x", None, 6.0)])
    assert res["partitions"] == ["2024-01-01", None]
    assert _rows(spark, path) == [("x", None, 6.0), ("y", D1, 4.0)]


def test_file_without_the_partition_segment_is_refused(spark, tmp_path):
    """A file from an unpartitioned era carries no `d=` segment, so its
    path cannot prove its rows outside the replaced dates: the write is
    refused, nothing commits, and the table keeps every row."""
    path = str(tmp_path / "t")
    tx_append(spark.createDataFrame([("old", D1, 1.0), ("old", D2, 2.0)], SCHEMA), path)
    tx_set_partition_spec(path, ["d"])
    before = tx_snapshot(path)["version"]
    with pytest.raises(ValueError, match="do not carry 'd'"):
        _land(spark, path, [("new", D1, 3.0)])
    assert tx_snapshot(path)["version"] == before
    assert _rows(spark, path) == [("old", D1, 1.0), ("old", D2, 2.0)]


def test_two_landings_of_one_day_leave_one_copy(spark, tmp_path, monkeypatch):
    """The remove set is taken at commit time: a landing of the same day
    that commits while this one is writing is replaced too, not kept
    beside it."""
    path = str(tmp_path / "t")
    _land(spark, path, [("a", D1, 1.0), ("c", D2, 3.0)])
    _land(spark, path, [("a", D1, 1.0)])  # sequential re-landing
    assert _rows(spark, path) == [("a", D1, 1.0), ("c", D2, 3.0)]

    commit = txlog._commit
    raced: list[dict] = []

    def racing_commit(p, op, build, **kw):
        if not raced:  # another landing of D1 commits first
            raced.append({})
            raced[0] = _land(spark, path, [("b", D1, 2.0)])
        return commit(p, op, build, **kw)

    monkeypatch.setattr(txlog, "_commit", racing_commit)
    res = _land(spark, path, [("a", D1, 7.0)])
    assert res["version"] == raced[0]["version"] + 1
    assert _rows(spark, path) == [("a", D1, 7.0), ("c", D2, 3.0)]


def test_rows_equal_rows_read_back_and_empty_batch_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(f"c{i}", D1 if i % 3 else D2, float(i)) for i in range(50)]
    res = _land(spark, path, rows)
    assert res["rows"] == tx_read(spark, path).count() == 50
    empty = _land(spark, path, [])
    assert empty == {"version": None, "rows": 0, "partitions": [], "files_removed": 0}
    assert [h["op"] for h in tx_history(path)] == ["replace_partitions"]


def test_write_silver_tx_relanding_keeps_other_days(spark, tmp_path):
    """The silver writer on top: re-landing one day of a three-day table
    replaces that day only, and reports the replaced dates."""
    from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze
    from weather_data_warehouse_aws_spark.pipeline.silver import (
        build_silver_current,
        read_bronze,
        write_silver_tx,
    )

    three, one = str(tmp_path / "b3"), str(tmp_path / "b1")
    generate_bronze(three, days=3, seed=5)
    generate_bronze(one, start=dt.date(2024, 1, 2), days=1, seed=6)
    out = str(tmp_path / "silver")
    write_silver_tx(build_silver_current(read_bronze(spark, three, "current")),
                    out, "observation_date")
    day = build_silver_current(read_bronze(spark, one, "current"))
    res = write_silver_tx(day, out, "observation_date")
    assert res["partitions"] == ["2024-01-02"]
    table = tx_read(spark, out)
    per_day = {
        str(r.observation_date): r["count"]
        for r in table.groupBy("observation_date").count().collect()
    }
    assert per_day["2024-01-02"] == res["rows"] == day.count()
    assert set(per_day) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    got = table.filter(F.col("observation_date") == "2024-01-02").select("temperature_celsius")
    assert sorted(r[0] for r in got.collect()) == sorted(
        r[0] for r in day.select("temperature_celsius").collect()
    )
