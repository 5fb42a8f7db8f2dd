"""Batch MERGE INTO: clause matrix, determinism tripwire, schema hygiene."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from weather_data_warehouse_aws_spark.operators.merge import merge_into

SCHEMA = "k int, name string, amt int"


def _frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)], SCHEMA
    )
    source = spark.createDataFrame(
        [(2, "B", 200), (3, "c", -1), (5, "e", 50)], SCHEMA
    )
    return target, source


def test_update_insert_keep(spark):
    target, source = _frames(spark)
    out = merge_into(target, source, ["k"])
    got = {r.k: (r.name, r.amt) for r in out.collect()}
    assert got == {
        1: ("a", 10),     # not matched by source: kept
        2: ("B", 200),    # matched: updated
        3: ("c", -1),     # matched: updated
        4: ("d", 40),     # kept
        5: ("e", 50),     # not matched: inserted
    }
    assert out.columns == target.columns


def test_matched_delete_wins_over_update(spark):
    target, source = _frames(spark)
    out = merge_into(
        target, source, ["k"], when_matched_delete=F.col("__src_amt") < 0
    )
    got = {r.k: (r.name, r.amt) for r in out.collect()}
    assert 3 not in got              # deleted by condition
    assert got[2] == ("B", 200)      # other matches still update


def test_partial_update_mapping(spark):
    target, source = _frames(spark)
    out = merge_into(
        target, source, ["k"],
        when_matched_update={"amt": F.col("__src_amt") + F.col("amt")},
        when_not_matched_insert=False,
    )
    got = {r.k: (r.name, r.amt) for r in out.collect()}
    assert got[2] == ("b", 220)      # name untouched, amt accumulated
    assert 5 not in got              # insert disabled


def test_not_matched_by_source_delete_full_sync(spark):
    target, source = _frames(spark)
    out = merge_into(
        target, source, ["k"],
        when_not_matched_by_source_delete=F.lit(True),
    )
    assert sorted(r.k for r in out.collect()) == [2, 3, 5]  # snapshot replace


def test_conditional_target_retention(spark):
    target, source = _frames(spark)
    out = merge_into(
        target, source, ["k"],
        when_not_matched_by_source_delete=F.col("amt") >= 40,
    )
    keys = sorted(r.k for r in out.collect())
    assert 4 not in keys and 1 in keys


def test_duplicate_source_keys_raise(spark):
    target, _ = _frames(spark)
    dup = spark.createDataFrame([(2, "x", 1), (2, "y", 2)], SCHEMA)
    with pytest.raises(Exception, match="nondeterministic"):
        merge_into(target, dup, ["k"]).collect()
    # guard off: explicit opt-out is allowed (caller took responsibility)
    n = merge_into(target, dup, ["k"], check_duplicate_source_keys=False).count()
    assert n >= 4


def test_insert_requires_full_schema_and_collisions_raise(spark):
    target, source = _frames(spark)
    with pytest.raises(ValueError, match="missing"):
        merge_into(target, source.drop("name"), ["k"])
    # dropping insert lifts the requirement
    out = merge_into(
        target, source.drop("name"), ["k"],
        when_matched_update={"amt": F.col("__src_amt")},
        when_not_matched_insert=False,
    )
    assert {r.k: r.amt for r in out.collect()}[2] == 200
    with pytest.raises(ValueError, match="reserved"):
        merge_into(
            target.withColumn("__src_amt", F.lit(1)),
            source.withColumn("__src_amt", F.lit(1)),
            ["k"],
            when_not_matched_insert=False,
        )


def test_merge_plan_single_join(spark):
    """One full-outer join, no extra scans: the clause matrix must not
    multiply passes over either input."""
    target, source = _frames(spark)
    out = merge_into(
        target, source, ["k"],
        when_matched_delete=F.col("__src_amt") < 0,
        when_not_matched_by_source_delete=F.col("amt") > 35,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("join") == 1


def test_merge_into_table_partition_pruned(spark, tmp_path_factory):
    """Table-level merge (`tx_merge` into a partitioned log table): only
    files holding a matched key rewrite; untouched partition FILES stay
    live byte-identical (proof the rewrite pruned)."""
    import os

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_merge,
        tx_read,
        tx_snapshot,
    )

    path = str(tmp_path_factory.mktemp("mtab")) + "/t"
    base = spark.createDataFrame(
        [(1, "p1", 10), (2, "p1", 20), (3, "p2", 30), (4, "p3", 40)],
        "k int, part string, amt int",
    )
    tx_merge(spark, path, base, ["k"], partition_by=["part"])  # first write

    def p3_files():
        return {
            f: os.path.getmtime(os.path.join(path, f))
            for f in tx_snapshot(path)["files"]
            if f.startswith("part=p3/")
        }

    before = p3_files()
    assert before

    src = spark.createDataFrame(
        [(2, "p1", 200), (5, "p2", 50)], "k int, part string, amt int"
    )
    res = tx_merge(spark, path, src, ["k"], partition_by=["part"])
    assert res["files_rewritten"] == 1  # the p1 file holding k=2

    got = {r.k: (r.part, r.amt) for r in tx_read(spark, path).collect()}
    assert got == {
        1: ("p1", 10), 2: ("p1", 200), 3: ("p2", 30),
        4: ("p3", 40), 5: ("p2", 50),
    }
    # p3 untouched: same live files, same mtimes
    assert p3_files() == before


def test_merge_into_table_matched_delete(spark, tmp_path_factory):
    from pyspark.sql import functions as F2

    from weather_data_warehouse_aws_spark.operators.txlog import tx_merge, tx_read

    path = str(tmp_path_factory.mktemp("mtab2")) + "/t"
    base = spark.createDataFrame(
        [(1, "p1", 10), (2, "p1", 20)], "k int, part string, amt int"
    )
    tx_merge(spark, path, base, ["k"], partition_by=["part"])
    src = spark.createDataFrame([(1, "p1", -1)], "k int, part string, amt int")
    tx_merge(
        spark, path, src, ["k"], partition_by=["part"],
        when_matched_delete=F2.col("__src_amt") < 0,
    )
    assert {r.k for r in tx_read(spark, path).collect()} == {2}


def test_null_delete_predicate_keeps_row(spark):
    """SQL MERGE three-valued logic: a NULL clause predicate does NOT fire
    — the matched row must be updated, not silently dropped."""
    target = spark.createDataFrame([(1, "open", 10)], "k int, status string, amt int")
    source = spark.createDataFrame([(1, None, 99)], "k int, status string, amt int")
    out = merge_into(
        target, source, ["k"],
        when_matched_delete=F.col("__src_status") == "closed",  # NULL for this row
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].amt == 99  # updated, not deleted
    # and NULL in a by-source predicate keeps the target row
    t2 = spark.createDataFrame([(2, None, 5)], "k int, status string, amt int")
    s2 = spark.createDataFrame([(9, "x", 1)], "k int, status string, amt int")
    out2 = merge_into(
        t2, s2, ["k"],
        when_not_matched_by_source_delete=F.col("status") == "stale",  # NULL
    )
    assert {r.k for r in out2.collect()} == {2, 9}


def test_merge_into_table_emptied_partition_removed(spark, tmp_path_factory):
    """A partition whose merge result is EMPTY must disappear from the
    snapshot — a dynamic partition overwrite would leave its old files
    and resurrect the deleted rows."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_merge,
        tx_read,
        tx_snapshot,
    )

    path = str(tmp_path_factory.mktemp("mtab3")) + "/t"
    base = spark.createDataFrame(
        [(1, "p1", 10), (2, "p1", 20), (3, "p2", 30)], "k int, part string, amt int"
    )
    tx_merge(spark, path, base, ["k"], partition_by=["part"])
    src = spark.createDataFrame(
        [(1, "p1", -1), (2, "p1", -1)], "k int, part string, amt int"
    )
    tx_merge(
        spark, path, src, ["k"], partition_by=["part"],
        when_matched_delete=F.col("__src_amt") < 0,
    )
    got = {r.k for r in tx_read(spark, path).collect()}
    assert got == {3}, got  # p1 fully gone, p2 untouched
    assert not [f for f in tx_snapshot(path)["files"] if f.startswith("part=p1/")]


def test_emptied_partition_with_special_chars_removed(spark, tmp_path_factory):
    """Partition values containing spaces/colons get hive-escaped dir
    names; emptying such a partition must retire its files anyway."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_merge, tx_read

    path = str(tmp_path_factory.mktemp("mtab4")) + "/t"
    base = spark.createDataFrame(
        [(1, "a b:c", 10), (2, "plain", 20)], "k int, part string, amt int"
    )
    tx_merge(spark, path, base, ["k"], partition_by=["part"])
    src = spark.createDataFrame([(1, "a b:c", -1)], "k int, part string, amt int")
    tx_merge(
        spark, path, src, ["k"], partition_by=["part"],
        when_matched_delete=F.col("__src_amt") < 0,
    )
    rows = tx_read(spark, path).collect()
    assert {r.k for r in rows} == {2}


def test_first_write_gets_duplicate_key_guard(spark, tmp_path_factory):
    """A dup-keyed INITIAL batch must not silently seed a table that
    violates the merge-key uniqueness invariant later merges assume."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_exists,
        tx_merge,
        tx_read,
    )

    path = str(tmp_path_factory.mktemp("mrg_first")) + "/t"
    dup = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 20)], "k int, name string, part int"
    )
    with pytest.raises(Exception, match="nondeterministic"):
        tx_merge(spark, path, dup, ["k"], partition_by=["part"])
    assert not tx_exists(path)
    # explicit opt-out still allowed on the first write too
    tx_merge(
        spark, path + "2", dup, ["k"], partition_by=["part"],
        check_duplicate_source_keys=False,
    )
    assert tx_read(spark, path + "2").count() == 2


def test_null_merge_keys_follow_sql_3vl(spark):
    """NULL merge keys never equal anything (SQL 3VL): a NULL-keyed source
    row always INSERTS, a NULL-keyed target row never matches (kept), and
    two NULL-keyed source rows trip the duplicate guard (the window groups
    NULLs together — grouping semantics, not join semantics). Pinned so a
    future join-rewrite can't silently flip any of the three."""
    target = spark.createDataFrame([(None, "t0", 1), (1, "a", 10)], SCHEMA)
    source = spark.createDataFrame([(None, "s0", 99), (1, "A", 100)], SCHEMA)
    out = merge_into(target, source, ["k"]).collect()
    rows = sorted(((r.k, r.name, r.amt) for r in out), key=lambda t: (t[0] is None, t))
    # target NULL row kept untouched, source NULL row inserted, k=1 updated
    assert (1, "A", 100) in rows
    assert (None, "t0", 1) in rows and (None, "s0", 99) in rows
    assert len(rows) == 3

    dup_null = spark.createDataFrame([(None, "x", 1), (None, "y", 2)], SCHEMA)
    with pytest.raises(Exception, match="nondeterministic"):
        merge_into(target, dup_null, ["k"]).collect()


def test_null_safe_keys_match_null_groups(spark):
    """null_safe_keys=True flips the ON clause to <=>: NULL-keyed rows are
    ONE group (update/delete applies) instead of a keep + insert pair —
    the semantics a grouped-aggregate maintainer needs (GROUP BY treats
    NULLs as equal). Non-NULL keys behave identically in both modes."""
    target = spark.createDataFrame([(None, "t0", 1), (1, "a", 10)], SCHEMA)
    source = spark.createDataFrame([(None, "s0", 99), (1, "A", 100)], SCHEMA)
    out = merge_into(target, source, ["k"], null_safe_keys=True).collect()
    rows = sorted(((r.k, r.name, r.amt) for r in out),
                  key=lambda t: (t[0] is None, t))
    assert rows == [(1, "A", 100), (None, "s0", 99)]


def test_null_safe_keys_clause_matrix(spark):
    """Delete/insert/by-source clauses all honor <=> matching, and the
    genuine NULL key survives output assembly (no coalesce corruption)."""
    target = spark.createDataFrame(
        [(None, "t0", 1), (1, "a", 10), (2, "b", 20)], SCHEMA
    )
    source = spark.createDataFrame([(None, "s0", 0), (9, "i", 9)], SCHEMA)
    out = merge_into(
        target, source, ["k"],
        null_safe_keys=True,
        when_matched_delete=F.col("__src_amt") == 0,
        when_not_matched_by_source_delete=F.col("amt") > 15,
    ).collect()
    rows = sorted(((r.k, r.name, r.amt) for r in out),
                  key=lambda t: (t[0] is None, t))
    # NULL group matched + deleted; k=2 deleted by-source; k=9 inserted
    assert rows == [(1, "a", 10), (9, "i", 9)]


def test_null_safe_update_mapping_references_src_keys(spark):
    """A mapping update under null_safe_keys sees target cols by name and
    source cols as __src_<col> — same contract as the default mode."""
    target = spark.createDataFrame([(1, "a", 10), (None, "n", 5)], SCHEMA)
    source = spark.createDataFrame([(1, "x", 7), (None, "y", 3)], SCHEMA)
    out = merge_into(
        target, source, ["k"],
        null_safe_keys=True,
        when_matched_update={"amt": F.col("amt") + F.col("__src_amt")},
        when_not_matched_insert=False,
    ).collect()
    rows = sorted(((r.k, r.name, r.amt) for r in out),
                  key=lambda t: (t[0] is None, t))
    assert rows == [(1, "a", 17), (None, "n", 8)]
