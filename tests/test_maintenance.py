"""Maintenance on the transaction log. Clustered compaction leaves
per-file key ranges narrow enough for footer stats to skip files. Erasure
rewrites only the files that carry an erase key, partition layout and NULL
keys survive, and the Bloom point index keeps answering lookups
afterwards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.txlog import (
    tx_append,
    tx_compact,
    tx_erase_keys,
    tx_read,
    tx_snapshot,
)
from weather_data_warehouse_aws_spark.sources.tables import load_table


def _file_ranges(table, col):
    """Per-live-file [min, max] of `col` from the commit-recorded stats."""
    snap = tx_snapshot(table)
    return [tuple(snap["stats"][rel]["cols"][col][:2]) for rel in snap["files"]]


def test_write_sorted_produces_disjoint_key_ranges(spark, sf_dir, tmp_path_factory):
    """Clustered layout: after tx_compact(sort_by=...) the live files'
    [min,max] of the sort key must be pairwise disjoint (this is what lets
    footer stats skip files); the hash-partitioned append it replaced must
    NOT have that property."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")

    t = str(tmp_path_factory.mktemp("ev_sorted")) + "/events"
    tx_append(ev.repartition(6), t)
    u = sorted(_file_ranges(t, "user_id"))
    overlaps = sum(1 for (a, b), (c, d) in zip(u, u[1:]) if b > c)
    assert overlaps > 0, "hash-partitioned files were accidentally disjoint"

    assert tx_compact(spark, t, target_files=6, sort_by=["user_id"]) is not None
    ranges = sorted(_file_ranges(t, "user_id"))
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"

    # content is unchanged by the re-layout
    assert (
        tx_read(spark, t).orderBy("event_id").collect()
        == ev.orderBy("event_id").collect()
    )


def test_write_zorder_narrows_ranges_on_both_dimensions(spark, sf_dir, tmp_path_factory):
    """Z-order layout: per-file spans must be substantially narrower than
    the global span on BOTH clustered columns — the multi-dimensional
    skipping property a single-column sort cannot provide (its second
    column spans ~everything in every file). Content must be unchanged."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    stats = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    uspan = stats[1] - stats[0]
    vspan = stats[3] - stats[2]

    def mean_span(table, col, width):
        rng = _file_ranges(table, col)
        assert len(rng) >= 8
        return sum((hi - lo) for lo, hi in rng) / len(rng) / width

    z = str(tmp_path_factory.mktemp("ev_zorder")) + "/events"
    tx_append(ev.repartition(16), z)
    assert tx_compact(spark, z, target_files=16, zorder_by=["user_id", "value"])
    zu, zv = mean_span(z, "user_id", uspan), mean_span(z, "value", vspan)

    s = str(tmp_path_factory.mktemp("ev_single")) + "/events"
    tx_append(ev.repartition(16), s)
    assert tx_compact(spark, s, target_files=16, sort_by=["user_id"])
    su, sv = mean_span(s, "user_id", uspan), mean_span(s, "value", vspan)

    # single-col sort: first col razor-thin, second col still wide
    assert su < 0.2 and sv > 0.5, (su, sv)
    # z-order: BOTH columns substantially narrowed
    assert zu < 0.6 and zv < 0.6, (zu, zv)
    # and the z-layout's worst dimension beats single-col's worst dimension
    assert max(zu, zv) < 0.75 * max(su, sv)

    assert (
        tx_read(spark, z).orderBy("event_id").collect()
        == ev.orderBy("event_id").collect()
    )


def test_erase_keys_bloom_pruned(spark, sf_smoke_dir, tmp_path_factory):
    """Erasure removes exactly the target rows, rewrites only the files
    that hold them (every other live file is reused by the commit), and
    the Bloom index built before the erase still serves lookups with no
    false negatives."""
    from weather_data_warehouse_aws_spark.operators.file_index import (
        build_bloom_index,
        prune_files,
        read_with_index,
    )

    t = str(tmp_path_factory.mktemp("erase")) + "/t"
    docs = load_table(spark, sf_smoke_dir, "documents").select("doc_id", "text")
    tx_append(docs.repartition(16, "doc_id"), t)
    build_bloom_index(spark, t, "doc_id", fpr=0.001)
    before = set(tx_snapshot(t)["files"])
    n_before = tx_read(spark, t).count()
    # the index names the files holding the keys: the erase must rewrite
    # those and nothing else (hash-partitioned: 3 keys in ≤3 files)
    hit = {
        f for k in (7, 123, 400) for f in prune_files(spark, t, "doc_id", k)
    }

    stats = tx_erase_keys(spark, t, "doc_id", [7, 123, 400])
    assert stats["rows_removed"] == 3
    assert 1 <= stats["files_rewritten"] <= 3

    after = tx_read(spark, t)
    assert after.count() == n_before - 3
    assert after.filter(F.col("doc_id").isin(7, 123, 400)).count() == 0
    rewritten = before - set(tx_snapshot(t)["files"])
    assert len(rewritten) == stats["files_rewritten"]
    assert {os.path.join(t, f) for f in rewritten} <= hit
    assert len(before) - len(rewritten) >= 13
    # index still no-false-negative after the erase
    assert read_with_index(spark, t, "doc_id", 8).count() == 1
    assert read_with_index(spark, t, "doc_id", 7).count() == 0


def test_erase_keys_partitioned_table(spark, tmp_path_factory):
    """Hive-partitioned table: partition columns survive the rewrite and
    rows land back in their partitions."""
    t = str(tmp_path_factory.mktemp("erasep")) + "/t"
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(30)], "k int, part string, v int"
    )
    tx_append(df, t, partition_by=["part"])
    stats = tx_erase_keys(spark, t, "k", [4, 17])
    assert stats["rows_removed"] == 2
    assert stats["files_rewritten"] == 2  # k=4 in p1, k=17 in p2; p0 kept
    assert all(f.startswith("part=") for f in tx_snapshot(t)["files"])
    back = tx_read(spark, t)
    assert back.count() == 28
    assert back.filter(F.col("k").isin(4, 17)).count() == 0
    assert {r.part for r in back.select("part").distinct().collect()} == {"p0", "p1", "p2"}
    assert back.filter("part = 'p1'").count() == 9  # 10 minus k=4 (4 % 3 = 1)


def test_erase_keys_none_in_values_is_safe(spark, tmp_path_factory):
    """SQL IN with a NULL member makes ~isin() NULL for every non-matching
    row — unguarded, an erase list containing None would wipe the table.
    None is stripped (NULL is never an erase target); an all-None batch
    raises; a literally-empty batch is a no-op."""
    t = str(tmp_path_factory.mktemp("erasen")) + "/t"
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(20)] + [(None, 999)], "k int, v int"
    )
    tx_append(df.repartition(4), t)

    stats = tx_erase_keys(spark, t, "k", [3, None, 11])
    assert stats["rows_removed"] == 2  # only 3 and 11; everything else KEPT
    back = tx_read(spark, t)
    assert back.count() == 19
    assert back.filter(F.col("k").isNull()).count() == 1  # NULL row survives

    with pytest.raises(ValueError, match="only None"):
        tx_erase_keys(spark, t, "k", [None, None])
    assert tx_erase_keys(spark, t, "k", []) == {
        "version": None, "files_rewritten": 0, "rows_removed": 0,
    }
    assert tx_read(spark, t).count() == 19
