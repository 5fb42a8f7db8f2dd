"""CDC snapshot diff + incremental aggregate maintenance units.

The driver-facing differential rides the `set_ops` entry (cdc_* / ivm
branches); these units pin the operator semantics on hand-built frames:
op classification incl. null-safe compares, group-moving updates, groups
draining to zero, and the incremental ≡ full-recompute invariant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.cdc import (
    apply_agg_delta,
    grouped_sums,
    snapshot_diff,
)


def _frames(spark):
    old = spark.createDataFrame(
        [
            (1, "a", 10, None),   # unchanged
            (2, "a", 20, "x"),    # value change -> U
            (3, "b", 30, None),   # deleted -> D
            (4, "b", 40, "y"),    # group moves b->a -> U
            (5, "c", 50, None),   # null -> value change -> U
        ],
        "k int, grp string, amt int, note string",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10, None),
            (2, "a", 25, "x"),
            (4, "a", 40, "y"),
            (5, "c", 50, "now"),
            (6, "c", 60, None),   # inserted -> I
        ],
        "k int, grp string, amt int, note string",
    )
    return old, new


def test_snapshot_diff_classification(spark):
    old, new = _frames(spark)
    rows = {
        r["k"]: r
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert set(rows) == {2, 3, 4, 5, 6}  # key 1 unchanged -> dropped
    assert rows[2]["op"] == "U" and rows[2]["old_amt"] == 20 and rows[2]["new_amt"] == 25
    assert rows[3]["op"] == "D" and rows[3]["new_grp"] is None
    assert rows[4]["op"] == "U" and (rows[4]["old_grp"], rows[4]["new_grp"]) == ("b", "a")
    # NULL -> value counts as a change (null-safe compare)
    assert rows[5]["op"] == "U" and rows[5]["old_note"] is None and rows[5]["new_note"] == "now"
    assert rows[6]["op"] == "I" and rows[6]["old_grp"] is None and rows[6]["new_amt"] == 60


def test_snapshot_diff_compare_cols_subset(spark):
    old, new = _frames(spark)
    # compare only grp+amt: key 5's note-only change no longer registers
    ks = {
        r["k"]
        for r in snapshot_diff(old, new, ["k"], compare_cols=["grp", "amt"]).collect()
    }
    assert ks == {2, 3, 4, 6}


def test_snapshot_diff_schema_mismatch(spark):
    old, new = _frames(spark)
    with pytest.raises(ValueError):
        snapshot_diff(old, new.drop("note"), ["k"])


def test_apply_agg_delta_matches_recompute(spark):
    old, new = _frames(spark)
    prior = grouped_sums(old, ["grp"], ["amt"])
    diff = snapshot_diff(old, new, ["k"])
    maintained = apply_agg_delta(prior, diff, ["grp"], ["amt"])
    direct = grouped_sums(new, ["grp"], ["amt"])
    m = {r["grp"]: (r["sum_amt"], r["n_rows"]) for r in maintained.collect()}
    d = {r["grp"]: (r["sum_amt"], r["n_rows"]) for r in direct.collect()}
    # group b drained to zero by the delete + the b->a move: absent in both
    assert "b" not in m
    assert m == d


def test_apply_agg_delta_zero_delta_groups_untouched(spark):
    old, _ = _frames(spark)
    prior = grouped_sums(old, ["grp"], ["amt"])
    empty = snapshot_diff(old, old, ["k"])
    assert empty.count() == 0
    maintained = apply_agg_delta(prior, empty, ["grp"], ["amt"])
    assert sorted(maintained.collect()) == sorted(prior.collect())


def test_snapshot_diff_rejects_colliding_output_names(spark):
    old, new = _frames(spark)
    renamed_old = old.withColumnRenamed("note", "old_amt")
    renamed_new = new.withColumnRenamed("note", "old_amt")
    import pytest

    with pytest.raises(ValueError, match="collide"):
        snapshot_diff(renamed_old, renamed_new, ["k"])
    with pytest.raises(ValueError, match="collide"):
        snapshot_diff(
            old.withColumnRenamed("note", "op"),
            new.withColumnRenamed("note", "op"),
            ["k"],
        )


def test_apply_agg_delta_new_group_from_insert(spark):
    old, _ = _frames(spark)
    new = old.unionByName(
        old.sparkSession.createDataFrame(
            [(9, "z", 7, None)], "k int, grp string, amt int, note string"
        )
    )
    maintained = apply_agg_delta(
        grouped_sums(old, ["grp"], ["amt"]),
        snapshot_diff(old, new, ["k"]),
        ["grp"],
        ["amt"],
    )
    z = maintained.filter(F.col("grp") == "z").collect()
    assert len(z) == 1 and z[0]["sum_amt"] == 7 and z[0]["n_rows"] == 1


def test_apply_join_delta_matches_recompute(spark):
    """Delta-maintained join ≡ full re-join, across inserts, deletes,
    updates (including one that MOVES the join key), and an unchanged row."""
    from weather_data_warehouse_aws_spark.operators.cdc import apply_join_delta

    old = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 10, "c"), (4, 30, "d")],
        "k int, fk int, payload string",
    )
    new = spark.createDataFrame(
        [(1, 10, "a"),            # unchanged
         (2, 30, "b"),            # join key moved 20 -> 30
         (4, 30, "D4"),           # payload updated
         (5, 20, "e")],           # inserted (3 deleted)
        "k int, fk int, payload string",
    )
    dim = spark.createDataFrame(
        [(10, "x"), (20, "y"), (30, "z")], "fk int, attr string"
    )
    prior = old.join(dim, "fk")
    diff = snapshot_diff(old, new, ["k"])
    got = apply_join_delta(prior, diff, dim, ["k"], ["fk"])
    want = new.join(dim, "fk")
    assert sorted(map(str, got.select(sorted(got.columns)).collect())) == sorted(
        map(str, want.select(sorted(want.columns)).collect())
    )


def test_apply_join_delta_missing_image_raises(spark):
    from weather_data_warehouse_aws_spark.operators.cdc import apply_join_delta

    old = spark.createDataFrame([(1, 10, "a")], "k int, fk int, payload string")
    new = spark.createDataFrame([(1, 10, "b")], "k int, fk int, payload string")
    dim = spark.createDataFrame([(10, "x")], "fk int, attr string")
    prior = old.join(dim, "fk")
    bad_diff = snapshot_diff(old, new, ["k"]).drop("new_payload")
    import pytest

    with pytest.raises(ValueError, match="new-images"):
        apply_join_delta(prior, bad_diff, dim, ["k"], ["fk"])


def test_streaming_incremental_agg_tx_state_store(spark, tmp_path_factory):
    """Changefeed slices applied per micro-batch into a transaction-log
    state table: the maintained aggregate equals a full recompute over the
    final snapshot, a re-run against the drained checkpoint commits
    nothing, and the previous batch's state stays time-travelable."""
    import time

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_history,
        tx_read,
        tx_snapshot,
    )
    from weather_data_warehouse_aws_spark.streaming.jobs import (
        read_current_agg,
        run_incremental_agg_foreachbatch,
    )

    feed = str(tmp_path_factory.mktemp("txs_feed"))
    aggd = str(tmp_path_factory.mktemp("txs_agg")) + "/agg"
    ckpt = str(tmp_path_factory.mktemp("txs_ckpt"))

    s0, s1 = _frames(spark)
    s2 = s1.filter(F.col("k") != 2).unionByName(
        spark.createDataFrame(
            [(7, "b", 70, None)], "k int, grp string, amt int, note string"
        )
    )
    snapshot_diff(s0, s1, ["k"]).coalesce(1).write.parquet(f"{feed}/d1")
    time.sleep(1.1)
    snapshot_diff(s1, s2, ["k"]).coalesce(1).write.parquet(f"{feed}/d2")

    diff_schema = snapshot_diff(s0, s1, ["k"]).schema

    def _stream():
        return (
            spark.readStream.schema(diff_schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(feed)
        )

    run_incremental_agg_foreachbatch(
        _stream(), aggd, ckpt, ["grp"], ["amt"],
        initial_agg=grouped_sums(s0, ["grp"], ["amt"]),
    )
    direct = grouped_sums(s2, ["grp"], ["amt"])
    assert sorted(map(tuple, read_current_agg(spark, aggd).collect())) == sorted(
        map(tuple, direct.collect())
    )
    # two batches folded -> two overwrite commits with txn tokens
    snap = tx_snapshot(aggd)
    assert snap["txns"].get("incremental_agg") == 1
    ops = [h["op"] for h in tx_history(aggd)]
    assert ops.count("overwrite") == 2

    # drained checkpoint: re-run is a no-op (no new commits)
    v_before = tx_snapshot(aggd)["version"]
    run_incremental_agg_foreachbatch(
        _stream(), aggd, ckpt, ["grp"], ["amt"],
        initial_agg=grouped_sums(s0, ["grp"], ["amt"]),
    )
    assert tx_snapshot(aggd)["version"] == v_before

    # time travel: the state right after batch 0 = grouped_sums(s1)
    v_b0 = next(
        h["version"] for h in tx_history(aggd) if h["op"] == "overwrite"
    )
    after_b0 = tx_read(spark, aggd, version=v_b0)
    assert sorted(map(tuple, after_b0.collect())) == sorted(
        map(tuple, grouped_sums(s1, ["grp"], ["amt"]).collect())
    )
