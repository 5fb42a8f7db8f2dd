"""CSV / JSONL round-trip exactness: NULL vs empty string, embedded
quotes/newlines/delimiters, non-ASCII, timestamps, floats."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.sources.tables import load_table
from weather_data_warehouse_aws_spark.sources.text_formats import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)


def _adversarial(spark):
    import datetime as dt

    rows = [
        (1, "plain", 1.5, dt.datetime(2024, 1, 1, 6, 0, 0)),
        (2, None, None, None),                       # true NULLs
        (3, "", 0.0, dt.datetime(2024, 6, 30, 23, 59, 59, 123456)),  # empty string ≠ NULL
        (4, 'quo"te,comma', -2.25, dt.datetime(2024, 2, 29, 12, 0, 0)),
        (5, "line\nbreak\ttab", 1e-8, dt.datetime(1999, 12, 31, 0, 0, 0)),
        (6, "héllo wörld ünïcode", 6.02e23, dt.datetime(2024, 3, 1, 0, 0, 1)),
        (7, _NULL_LOOKALIKE, 7.0, None),             # literal backslash-N text
    ]
    return spark.createDataFrame(rows, "id int, s string, x double, ts timestamp")


_NULL_LOOKALIKE = "\\N"


def _collect(df):
    return sorted(
        (r.id, r.s, None if r.x is None else round(r.x, 10), r.ts)
        for r in df.collect()
    )


@pytest.mark.parametrize("fmt", ["csv", "jsonl"])
def test_adversarial_roundtrip(spark, tmp_path_factory, fmt):
    df = _adversarial(spark)
    path = str(tmp_path_factory.mktemp(f"rt_{fmt}")) + "/t"
    if fmt == "csv":
        write_csv(df, path)
        back = read_csv(spark, path, df.schema)
    else:
        write_jsonl(df, path)
        back = read_jsonl(spark, path, df.schema)
    got, want = _collect(back), _collect(df)
    if fmt == "csv":
        # the one honest CSV limitation: a VALUE equal to the NULL sentinel
        # reads back as NULL (RFC 4180 cannot spell both). JSONL is exact.
        want = [(i, None if s == _NULL_LOOKALIKE else s, x, t) for i, s, x, t in want]
    assert got == want
    # NULL and empty string remained distinct
    by_id = {r.id: r.s for r in back.collect()}
    assert by_id[2] is None and by_id[3] == ""


@pytest.mark.parametrize("fmt", ["csv", "jsonl"])
def test_table_roundtrip_matches_parquet(spark, sf_smoke_dir, tmp_path_factory, fmt):
    """documents (text-heavy) and orders (dates/decimals) survive the text
    formats row-identically vs their parquet originals."""
    for name in ("documents", "orders"):
        src = load_table(spark, sf_smoke_dir, name)
        path = str(tmp_path_factory.mktemp(f"tab_{fmt}_{name}")) + "/t"
        if fmt == "csv":
            write_csv(src, path)
            back = read_csv(spark, path, src.schema)
        else:
            write_jsonl(src, path)
            back = read_jsonl(spark, path, src.schema)
        assert back.schema == src.schema
        a = sorted(map(str, back.collect()))
        b = sorted(map(str, src.collect()))
        assert a == b, f"{fmt}/{name} round-trip diverged"


def test_timestamps_survive_hostile_session_timezone(spark, tmp_path_factory):
    """Offset-carrying timestamp format: writing and reading under
    DIFFERENT session timezones must not shift instants."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 7, 1, 12, 30, 45, 500000))], "id int, ts timestamp"
    )
    path = str(tmp_path_factory.mktemp("tz")) + "/t"
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        write_csv(df, path)
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        back = read_csv(spark, path, df.schema)
        # same INSTANT: compare as epoch micros, timezone-independent
        want = df.select(F.unix_micros("ts")).first()[0]
        got = back.select(F.unix_micros("ts")).first()[0]
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_jsonl_failfast_on_corrupt_record(spark, tmp_path_factory):
    import os

    path = str(tmp_path_factory.mktemp("bad")) + "/t"
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        f.write('{"id": 1, "s": "ok"}\n{"id": THIS IS NOT JSON\n')
    schema = "id INT, s STRING"
    from pyspark.sql.types import _parse_datatype_string

    with pytest.raises(Exception):
        read_jsonl(spark, path, _parse_datatype_string(schema)).collect()


def test_read_evolved_null_extends_old_files(spark, tmp_path_factory):
    """mergeSchema read of a directory whose later files added a column:
    the pre-evolution file is null-extended, not dropped."""
    from weather_data_warehouse_aws_spark.sources.text_formats import read_evolved

    path = str(tmp_path_factory.mktemp("evolved")) + "/t"
    spark.createDataFrame([(1, "a")], "k int, s string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k int, s string, extra double"
    ).write.mode("append").parquet(path)

    rows = {r.k: r.extra for r in read_evolved(spark, path).collect()}
    assert rows == {1: None, 2: 9.5}  # old file null-extended


def test_double_fidelity_extremes(spark, tmp_path_factory):
    vals = [0.1, 1 / 3, math.pi, 2.2250738585072014e-308, 1.7976931348623157e308,
            -0.0, 123456789.123456789]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id int, x double")
    for fmt, w, r in (("csv", write_csv, read_csv), ("jsonl", write_jsonl, read_jsonl)):
        path = str(tmp_path_factory.mktemp(f"dbl_{fmt}")) + "/t"
        w(df, path)
        back = r(spark, path, df.schema)
        got = {r2.id: r2.x for r2 in back.collect()}
        for i, v in enumerate(vals):
            assert got[i] == v or (math.copysign(1, got[i]) == math.copysign(1, v)
                                   and got[i] == v), (fmt, i, v, got[i])


def test_orc_roundtrip_matches_parquet(spark, sf_smoke_dir, tmp_path_factory):
    """ORC round-trip: documents and orders row-identical vs their parquet
    originals, schema preserved, predicate pushdown reaches the scan."""
    from weather_data_warehouse_aws_spark.sources.text_formats import (
        read_orc,
        write_orc,
    )

    for name in ("documents", "orders"):
        src = load_table(spark, sf_smoke_dir, name)
        path = str(tmp_path_factory.mktemp(f"orc_{name}")) + "/t"
        write_orc(src, path)
        back = read_orc(spark, path)
        assert back.schema == src.schema
        assert sorted(map(str, back.collect())) == sorted(map(str, src.collect()))
    # pushdown: ORC scans advertise PushedFilters like parquet
    df = read_orc(spark, path).filter(F.col("o_orderkey") == 7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan
