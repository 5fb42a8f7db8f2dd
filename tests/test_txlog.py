"""Transaction-log table format (operators/txlog.py): atomic commits,
snapshot isolation, time travel, conflict detection, vacuum horizon,
schema survival past the last row.

EVERY test in this module runs twice — once on the POSIX-default
DataStore and once against `BucketFSDataStore`, an object-store
emulation (publish is whole-object COPY, no rename; per-key deletes; no
directory pruning; data NEVER lands under the table root). Any txlog /
txtable code path that bypasses the DataStore protocol fails loudly
under the second run, because the file it expects under the table root
does not exist — the same proof strategy the InMemoryLogStore gives the
commit protocol."""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators import txlog as _txmod
from weather_data_warehouse_aws_spark.operators.txlog import (
    CHECKPOINT_INTERVAL,
    TxConflict,
    _commit,
    get_data_store,
    register_data_store,
    tx_append,
    tx_compact,
    tx_erase_keys,
    tx_history,
    tx_overwrite,
    tx_read,
    tx_snapshot,
    tx_vacuum,
)


from tests.bucket_store import BucketFSDataStore  # noqa: E402


@pytest.fixture(autouse=True, params=["localfs", "bucket"])
def data_store_mode(request, tmp_path_factory):
    """Parametrizes the WHOLE module over the two data planes (module
    docstring). The bucket store is registered for the entire pytest tmp
    tree, so tables made via tmp_path AND tmp_path_factory both route
    through it."""
    if request.param == "localfs":
        yield request.param
        return
    bucket = str(tmp_path_factory.mktemp("bucket"))
    prefix = str(tmp_path_factory.getbasetemp())
    register_data_store(prefix, BucketFSDataStore(bucket))
    try:
        yield request.param
    finally:
        _txmod._DATA_STORES.pop(prefix, None)


def _mk(spark, rows):
    return spark.createDataFrame([Row(id=i, val=f"v{i}") for i in rows])


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def _data_path(t: str, rel: str) -> str:
    """Where the table's DataStore keeps `rel` — the mode-agnostic spelling
    of the old `os.path.join(t, rel)` assertions."""
    return get_data_store(t).read_uri(t, rel)


def _data_exists(t: str, rel: str) -> bool:
    return os.path.exists(_data_path(t, rel))


def _data_root(t: str) -> str:
    """The directory a naive (non-log-aware) reader would glob."""
    return os.path.dirname(_data_path(t, "x"))


def test_append_read_roundtrip_and_versions(spark, tmp_path):
    t = str(tmp_path / "t")
    v0 = tx_append(_mk(spark, range(5)), t)
    v1 = tx_append(_mk(spark, range(5, 8)), t)
    assert (v0, v1) == (0, 1)
    assert _ids(tx_read(spark, t)) == list(range(8))
    # time travel: version 0 sees only the first append
    assert _ids(tx_read(spark, t, version=0)) == list(range(5))
    hist = tx_history(t)
    assert [h["op"] for h in hist] == ["append", "append"]
    assert hist[0]["n_added"] >= 1 and hist[0]["n_removed"] == 0


def test_overwrite_replaces_but_history_remains(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(4)), t)
    v = tx_overwrite(_mk(spark, [100, 101]), t)
    assert _ids(tx_read(spark, t)) == [100, 101]
    assert _ids(tx_read(spark, t, version=0)) == [0, 1, 2, 3]
    # idempotent re-run (the M4 fix shape): same result, new version
    tx_overwrite(_mk(spark, [100, 101]), t)
    assert _ids(tx_read(spark, t)) == [100, 101]
    assert tx_snapshot(t)["version"] == v + 1


def test_compact_preserves_rows_and_old_snapshots(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        tx_append(_mk(spark, range(i * 10, i * 10 + 10)), t)
    before = tx_snapshot(t)
    assert len(before["files"]) >= 4
    # a concurrent reader resolves its snapshot BEFORE the compaction...
    old_files = before["files"]
    v = tx_compact(spark, t, target_files=1)
    after = tx_snapshot(t)
    assert v == after["version"] and len(after["files"]) == 1
    assert _ids(tx_read(spark, t)) == list(range(40))
    # ...and still reads its own (uncompacted) files afterwards
    assert _ids(tx_read(spark, t, version=before["version"])) == list(range(40))
    assert all(_data_exists(t, f) for f in old_files)
    # already compact → no-op
    assert tx_compact(spark, t, target_files=1) is None


def test_conflicting_remove_sets_raise(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(10)), t)
    doomed = tx_snapshot(t)["files"][0]
    _commit(t, "erase", lambda s: ([], [doomed], {}))
    # a second writer whose stale snapshot still references the file
    with pytest.raises(TxConflict):
        _commit(t, "compact", lambda s: ([], [doomed], {}))


def test_append_races_retry_past_claimed_version(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)
    # another writer claims version 1 out from under us
    claimed = os.path.join(t, "_txn_log", f"{1:020d}.json")
    with open(claimed, "x") as f:
        json.dump({"version": 1, "op": "append", "add": [], "remove": [],
                   "meta": {}}, f)
    v = tx_append(_mk(spark, range(3, 6)), t)
    assert v == 2  # lost the race for 1, won 2
    assert _ids(tx_read(spark, t)) == list(range(6))


def test_erase_keys_is_surgical_and_time_travelable(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(100)), t)       # file(s) A
    tx_append(_mk(spark, range(100, 200)), t)  # file(s) B
    snap = tx_snapshot(t)
    mtimes = {
        f: os.path.getmtime(_data_path(t, f)) for f in snap["files"]
    }
    res = tx_erase_keys(spark, t, "id", [150, 160, None])
    assert res["rows_removed"] == 2
    assert set(_ids(tx_read(spark, t))) == set(range(200)) - {150, 160}
    # only files containing hits were rewritten; the rest are untouched
    survivors = set(tx_snapshot(t)["files"])
    untouched = survivors & set(snap["files"])
    assert untouched, "files without hits must be reused verbatim"
    for f in untouched:
        assert os.path.getmtime(_data_path(t, f)) == mtimes[f]
    # erased rows remain in pre-erase versions until vacuum (documented)
    assert 150 in _ids(tx_read(spark, t, version=snap["version"]))
    # all-None erase list is a caller bug; empty list is a no-op
    with pytest.raises(ValueError):
        tx_erase_keys(spark, t, "id", [None])
    assert tx_erase_keys(spark, t, "id", [])["rows_removed"] == 0
    # no-hit erase commits nothing
    assert tx_erase_keys(spark, t, "id", [10**9])["version"] is None


def test_erase_to_empty_keeps_schema(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, [1, 2]), t)
    tx_erase_keys(spark, t, "id", [1, 2])
    out = tx_read(spark, t)
    assert out.count() == 0
    assert set(out.columns) == {"id", "val"}


def test_vacuum_deletes_unreachable_and_gates_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(3):
        tx_append(_mk(spark, range(i * 5, i * 5 + 5)), t)
    pre = tx_snapshot(t)
    tx_compact(spark, t, target_files=1)  # version 3 replaces all files
    res = tx_vacuum(t, retain_versions=1)
    assert res["horizon"] == 3
    # every pre-compaction file is physically gone
    for f in pre["files"]:
        assert not _data_exists(t, f)
    # latest still reads fine; vacuumed versions fail at RESOLUTION
    assert _ids(tx_read(spark, t)) == list(range(15))
    with pytest.raises(ValueError, match="vacuum"):
        tx_snapshot(t, version=pre["version"])
    # live files never vacuumed even with retain_versions=1
    assert _ids(tx_read(spark, t)) == list(range(15))


def test_vacuum_orphan_sweep(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(5)), t)
    orphan = _data_path(t, "part-deadbeef-crashed.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    # default vacuum leaves unreferenced files alone (writer may be mid-flight)
    tx_vacuum(t, retain_versions=1)
    assert os.path.exists(orphan)
    res = tx_vacuum(t, retain_versions=1, include_orphans=True)
    assert os.path.basename(orphan) in [os.path.basename(d) for d in res["deleted"]]
    assert not os.path.exists(orphan)
    assert _ids(tx_read(spark, t)) == list(range(5))


def test_checkpoint_written_and_equivalent(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _mk(spark, [0])
    for _ in range(CHECKPOINT_INTERVAL + 2):
        tx_append(df, t)
    # the default checkpoint format is parquet (columnar live set; table
    # state in the footer KV metadata) — the round-9 scale change
    cp = os.path.join(
        t, "_txn_log", f"{CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    )
    assert os.path.exists(cp)
    cp_state = _tx._load_checkpoint(t, CHECKPOINT_INTERVAL)
    # checkpoint live set == replay-from-zero live set at that version
    full = tx_snapshot(t, version=CHECKPOINT_INTERVAL)
    assert sorted(cp_state["files"]) == full["files"]
    # and the latest snapshot (checkpoint + tail) counts every append
    n_files_latest = len(tx_snapshot(t)["files"])
    assert tx_read(spark, t).count() == CHECKPOINT_INTERVAL + 2
    assert n_files_latest >= CHECKPOINT_INTERVAL + 2


def test_schema_evolution_reads_union(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(spark.createDataFrame([Row(id=1, val="a")]), t)
    tx_append(spark.createDataFrame([Row(id=2, val="b", extra=9)]), t)
    out = tx_read(spark, t)
    assert set(out.columns) == {"id", "val", "extra"}
    got = {r["id"]: r["extra"] for r in out.collect()}
    assert got == {1: None, 2: 9}


def test_schema_evolution_union_on_string_partitioned_table(spark, tmp_path):
    """Evolution parity across partition-column types: a STRING-partitioned
    table reads through a pinned schema (type inference would corrupt
    '0123' → '123'), which used to DROP columns only older files carry.
    The pinned schema must be the logged ∪ file-present union — same
    answer the int-partitioned mergeSchema branch gives — while the
    string partition value stays exact."""
    t = str(tmp_path / "t")
    tx_append(
        spark.createDataFrame([Row(id=1, old_col="keepme", city="0123")]),
        t, partition_by=["city"],
    )
    # evolved writer: old_col gone, new_col added
    tx_append(
        spark.createDataFrame([Row(id=2, new_col=7, city="0123")]),
        t, partition_by=["city"],
    )
    out = tx_read(spark, t)
    assert set(out.columns) == {"id", "old_col", "new_col", "city"}
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["old_col"] == "keepme" and rows[1]["new_col"] is None
    assert rows[2]["old_col"] is None and rows[2]["new_col"] == 7
    # numeric-looking string partition value survives exactly
    assert {r["city"] for r in rows.values()} == {"0123"}


def test_plain_directory_read_is_wrong_by_design(spark, tmp_path):
    """The log, not the listing, defines the table: a raw parquet read of
    the directory sees removed-but-unvacuumed files (duplicates after
    compaction). This pins WHY readers must go through tx_read."""
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(10)), t)
    tx_append(_mk(spark, range(10, 20)), t)
    tx_compact(spark, t, target_files=1)
    raw = spark.read.parquet(_data_root(t)).count()
    assert raw == 40  # old + compacted copies both on disk pre-vacuum
    assert tx_read(spark, t).count() == 20
    tx_vacuum(t, retain_versions=1)
    assert spark.read.parquet(_data_root(t)).count() == 20


# ---------------------------------------------------------------------------
# per-file stats, data skipping, MERGE, exactly-once streaming sink
# ---------------------------------------------------------------------------

from weather_data_warehouse_aws_spark.operators.txlog import (  # noqa: E402
    tx_merge,
    tx_prune,
    tx_stream_sink,
)


def test_stats_recorded_and_range_pruning(spark, tmp_path):
    t = str(tmp_path / "t")
    # two appends with disjoint id ranges -> disjoint per-file [min,max]
    tx_append(_mk(spark, range(0, 100)), t)
    tx_append(_mk(spark, range(1000, 1100)), t)
    snap = tx_snapshot(t)
    assert all(
        "id" in snap["stats"][f]["cols"] for f in snap["files"]
    ), "numeric column stats must be recorded from the footers"
    # string BOUNDS are recorded too (bound-preserving truncation keeps
    # them sound; round 9) — and they prune: "v50" sorts ABOVE the
    # second file's entire ["v1000","v1099"] range
    assert all(
        isinstance(snap["stats"][f]["cols"]["val"][0], str)
        for f in snap["files"]
    )
    kept_s, skipped_s = tx_prune(t, [("val", "=", "v50")])
    assert len(kept_s) >= 1 and len(skipped_s) >= 1
    assert sorted(
        r["val"] for r in
        tx_read(spark, t, predicate=[("val", "=", "v50")]).collect()
    ) == ["v50"]
    kept, skipped = tx_prune(t, [("id", ">=", 1000)])
    assert skipped and kept
    # every skipped file provably tops out below 1000
    assert all(snap["stats"][f]["cols"]["id"][1] < 1000 for f in skipped)
    assert _ids(tx_read(spark, t, predicate=[("id", ">=", 1000)])) == list(
        range(1000, 1100)
    )
    # point lookup: exactly the same rows a full-scan filter yields
    assert _ids(tx_read(spark, t, predicate=[("id", "=", 1050)])) == [1050]
    # a predicate no file admits reads nothing but stays schema-correct
    none = tx_read(spark, t, predicate=[("id", ">", 10**9)])
    assert none.count() == 0 and set(none.columns) == {"id", "val"}
    with pytest.raises(ValueError, match="unsupported op"):
        tx_prune(t, [("id", "!=", 5)])


def test_pruning_never_drops_rows_with_nulls_or_unstatted_files(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = [Row(id=i, val=f"v{i}") for i in range(50)] + [
        Row(id=None, val="nullkey")
    ]
    tx_append(spark.createDataFrame(rows).coalesce(1), t)
    # hand-commit a file with NO stats (e.g. written by a foreign writer)
    src = tx_snapshot(t)["files"][0]
    foreign = "part-foreign.parquet"
    import shutil as _sh

    _sh.copy(_data_path(t, src), _data_path(t, foreign))
    _commit(t, "append", lambda s: ([foreign], [], {}))
    kept, _ = tx_prune(t, [("id", "<", 10)])
    assert foreign in kept, "files without stats must never be skipped"
    got = tx_read(spark, t, predicate=[("id", "<", 10)])
    # NULL ids match no comparison; the foreign copy duplicates ids 0-9
    assert sorted(r["id"] for r in got.collect()) == sorted(
        list(range(10)) * 2
    )


def test_merge_rewrites_only_files_with_matched_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(0, 50)), t)      # low-range files
    tx_append(_mk(spark, range(1000, 1050)), t)  # high-range files
    n_live = len(tx_snapshot(t)["files"])
    src = spark.createDataFrame(
        [Row(id=1010, val="UPDATED"), Row(id=7777, val="INSERTED")]
    )
    res = tx_merge(spark, t, src, ["id"])
    assert res["files_rewritten"] >= 1
    assert res["files_skipped"] >= 1, (
        "low-range files hold no matched key and must be reused verbatim"
    )
    assert res["files_rewritten"] + res["files_skipped"] == n_live
    out = {r["id"]: r["val"] for r in tx_read(spark, t).collect()}
    assert out[1010] == "UPDATED" and out[7777] == "INSERTED"
    assert out[0] == "v0" and len(out) == 101
    # pre-merge snapshot still shows the old image (time travel)
    old = {r["id"]: r["val"] for r in tx_read(spark, t, version=1).collect()}
    assert old[1010] == "v1010" and 7777 not in old


def test_merge_matched_delete_and_by_source_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(10)), t)
    src = spark.createDataFrame([Row(id=3, val="x"), Row(id=4, val="keep")])
    tx_merge(
        spark, t, src, ["id"],
        when_matched_delete=F.col("__src_val") == "x",
    )
    assert _ids(tx_read(spark, t)) == [i for i in range(10) if i != 3]
    # not-matched-by-source delete forces a full rewrite (all files candidates)
    res = tx_merge(
        spark, t, src.filter("id = 4"), ["id"],
        when_not_matched_by_source_delete=F.lit(True),
    )
    assert res["files_skipped"] == 0
    assert _ids(tx_read(spark, t)) == [4]


def test_merge_first_write_guards_duplicates(spark, tmp_path):
    t = str(tmp_path / "t")
    dup = spark.createDataFrame([Row(id=1, val="a"), Row(id=1, val="b")])
    with pytest.raises(Exception, match="multiple source rows"):
        tx_merge(spark, t, dup, ["id"])
    ok = tx_merge(spark, t, _mk(spark, range(5)), ["id"])
    assert ok["version"] is not None
    assert _ids(tx_read(spark, t)) == list(range(5))
    # second merge into the now-existing table updates in place
    tx_merge(spark, t, spark.createDataFrame([Row(id=2, val="Z")]), ["id"])
    assert {r["val"] for r in tx_read(spark, t).filter("id=2").collect()} == {"Z"}


def test_stream_sink_is_exactly_once_under_replay(spark, tmp_path):
    t = str(tmp_path / "t")
    sink = tx_stream_sink(t, "q1")
    sink(_mk(spark, range(5)), 0)
    sink(_mk(spark, range(5, 10)), 1)
    v_before = tx_snapshot(t)["version"]
    # foreachBatch is at-least-once: batch 1 is REDELIVERED after a crash
    sink(_mk(spark, range(5, 10)), 1)
    assert tx_snapshot(t)["version"] == v_before, "replay must commit nothing"
    assert _ids(tx_read(spark, t)) == list(range(10))
    # the replay's staged files were dropped, not stranded as orphans
    on_disk = set(get_data_store(t).list_files(t))
    assert on_disk == set(tx_snapshot(t)["files"])
    # a DIFFERENT app's batch 1 is its own token space
    sink2 = tx_stream_sink(t, "q2")
    sink2(_mk(spark, range(10, 12)), 1)
    assert _ids(tx_read(spark, t)) == list(range(12))
    assert tx_snapshot(t)["txns"] == {"q1": 1, "q2": 1}


def test_checkpoint_folds_stats_and_txns(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(CHECKPOINT_INTERVAL + 1):
        tx_append(_mk(spark, range(i * 10, i * 10 + 10)), t,
                  txn=("loader", i))
    # drop every pre-checkpoint commit file: replay must succeed from the
    # checkpoint alone (log truncation, as Delta does after checkpointing)
    for v in range(CHECKPOINT_INTERVAL):
        os.remove(os.path.join(t, "_txn_log", f"{v:020d}.json"))
    snap = tx_snapshot(t)
    assert snap["txns"]["loader"] == CHECKPOINT_INTERVAL
    assert len(snap["files"]) >= CHECKPOINT_INTERVAL + 1
    # stats survived through the checkpoint: pruning still works
    kept, skipped = tx_prune(t, [("id", ">=", 100)])
    assert skipped and kept
    assert _ids(tx_read(spark, t, predicate=[("id", ">=", 100)])) == list(
        range(100, 110)
    )
    # and the idempotence token still gates a pre-checkpoint batch replay
    assert tx_append(_mk(spark, [999]), t, txn=("loader", 3)) is None


def test_parquet_checkpoint_rich_state_mixed_eras(spark, tmp_path):
    """The parquet checkpoint (columnar live set + table state in footer
    KV metadata) must fold EVERY piece of versioned state identically to
    a scratch replay — partition scheme, footer stats, deletion vectors,
    constraints, column mapping — and json-era / parquet-era checkpoints
    must coexist in one log: a version checkpointed in both spellings
    lists once, reads identically, and cleanup retires both."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_cleanup_log,
        tx_delete_where,
        tx_rename_column,
        tx_set_constraint,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(8)],
        "id long, grp string, v double",
    )
    tx_append(df.coalesce(1), t, partition_by=["grp"])   # v0
    tx_rename_column(t, "v", "val")                      # v1
    tx_set_constraint(spark, t, "v_nonneg", "val >= 0")  # v2
    tx_delete_where(spark, t, "id = 3")                  # v3: a DV
    row = spark.createDataFrame(
        [(100, "g0", 1.0)], "id long, grp string, val double"
    ).coalesce(1)
    for _ in range(CHECKPOINT_INTERVAL):                 # cross v10
        tx_append(row, t, partition_by=["grp"])
    log = os.path.join(t, "_txn_log")
    cp_pq = os.path.join(
        log, f"{CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    )
    assert os.path.exists(cp_pq)

    # checkpoint-replayed state ≡ scratch-replayed state, field for field
    with_cp = tx_snapshot(t, version=CHECKPOINT_INTERVAL)
    saved = open(cp_pq, "rb").read()
    os.remove(cp_pq)
    assert tx_snapshot(t, version=CHECKPOINT_INTERVAL) == with_cp
    with open(cp_pq, "wb") as fh:
        fh.write(saved)
    assert with_cp["dvs"] and with_cp["column_map"] == {"val": "v"}
    assert with_cp["constraints"] == {"v_nonneg": "val >= 0"}

    # json era resumes (a pre-round-9 writer): checkpoint at v20 is json
    v20 = 2 * CHECKPOINT_INTERVAL
    for _ in range(CHECKPOINT_INTERVAL - 3):             # v14..v20
        tx_append(row, t, partition_by=["grp"])
    cp_js = os.path.join(log, f"{v20:020d}.checkpoint.json")
    state = {**_tx._replay(t, v20), "version": v20}
    os.remove(os.path.join(log, f"{v20:020d}.checkpoint.parquet"))
    assert _tx.get_log_store(t).put_if_absent(
        log, os.path.basename(cp_js),
        json.dumps({k: state.get(k) for k in
                    (*_tx._CP_STATE_KEYS, "files", "stats", "dvs")}),
    )
    from_js = _tx._load_checkpoint(t, v20)
    assert from_js["files"] == state["files"]
    assert from_js["column_map"] == {"val": "v"}
    for _ in range(3):                                   # v21..v23
        tx_append(row, t, partition_by=["grp"])
    # ...and a parquet re-checkpoint of the SAME version coexists
    _tx._write_checkpoint(
        _tx.get_log_store(t), t, 2 * CHECKPOINT_INTERVAL
    )
    _, checkpoints = _tx._list_log(t)
    assert checkpoints.count(2 * CHECKPOINT_INTERVAL) == 1  # listed once
    both = _tx._load_checkpoint(t, 2 * CHECKPOINT_INTERVAL)
    assert both["files"] == tx_snapshot(
        t, version=2 * CHECKPOINT_INTERVAL
    )["files"]

    # the table reads correctly across all three checkpoint eras
    ids = sorted(r["id"] for r in tx_read(spark, t).collect())
    assert ids == sorted(
        [i for i in range(8) if i != 3] + [100] * 2 * CHECKPOINT_INTERVAL
    )

    # cleanup retires BOTH spellings below the floor
    tx_vacuum(t, retain_versions=1)
    res = tx_cleanup_log(t)
    assert res["floor"] == 2 * CHECKPOINT_INTERVAL
    assert res["deleted_checkpoints"] == 1  # v10 (parquet)
    assert not os.path.exists(cp_pq)
    assert os.path.exists(cp_js)  # the floor checkpoint survives (json)
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == ids


def _mk_pruning_table(spark, t):
    """A table exercising every pruning proof class: hive partitions, a
    renamed column, a NaN float, date stats, a DV delete, a checkpoint
    crossing, and a partition-spec evolution (flat-era file)."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_rename_column,
        tx_set_partition_spec,
    )

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i) if i != 7 else float("nan"),
          dt.date(2024, 1, 1 + i % 5)) for i in range(20)],
        "id long, grp string, v double, d date",
    )
    tx_append(df.repartition(4, "grp"), t, partition_by=["grp"])  # v0
    tx_rename_column(t, "v", "val")                               # v1
    tx_delete_where(spark, t, "id = 2")                           # v2
    row = spark.createDataFrame(
        [(100, "g9", 5.0, dt.date(2024, 2, 1))],
        "id long, grp string, val double, d date",
    )
    for _ in range(10):                                           # cross v10
        tx_append(row, t, partition_by=["grp"])
    tx_set_partition_spec(t, [])                                  # v13
    tx_append(
        spark.createDataFrame([(200, "g0", -1.0, dt.date(2024, 3, 1))],
                              "id long, grp string, val double, d date"),
        t,                                                        # flat era
    )


def test_string_stats_truncation_soundness(spark, tmp_path):
    """String footer bounds survive truncation SOUNDLY: the recorded
    [mn, mx] brackets every value (mn a prefix lower bound, mx the
    increment-adjusted upper bound), long shared-prefix strings never
    falsely skip, and commit records stay JSON-encodable. Plus the
    bound-property check over crafted and randomized inputs."""
    import random

    from weather_data_warehouse_aws_spark.operators.txlog import (
        _STR_STATS_MAX,
        _str_upper_bound,
        tx_prune,
    )

    # -- pure bound property ------------------------------------------
    assert _str_upper_bound("short") == "short"
    long_a = "a" * 100
    ub = _str_upper_bound(long_a)
    assert ub == "a" * (_STR_STATS_MAX - 1) + "b" and ub > long_a
    # increment would land in the surrogate block -> jumps past it
    s = "x" * (_STR_STATS_MAX - 1) + chr(0xD7FF) + "tail"
    ub = _str_upper_bound(s)
    assert ub == "x" * (_STR_STATS_MAX - 1) + chr(0xE000) and ub > s
    # un-incrementable prefix -> no representable bound
    assert _str_upper_bound(chr(0x10FFFF) * 70) is None
    # tail char at U+10FFFF: the increment walks left
    s = "m" * (_STR_STATS_MAX - 1) + chr(0x10FFFF) + "rest"
    ub = _str_upper_bound(s)
    assert ub == "m" * (_STR_STATS_MAX - 2) + "n" and ub > s
    rng = random.Random(7)
    pool = [i for i in range(1, 0x110000) if not 0xD800 <= i <= 0xDFFF]
    for _ in range(500):
        n = rng.randint(_STR_STATS_MAX + 1, _STR_STATS_MAX * 3)
        s = "".join(chr(rng.choice(pool)) for _ in range(n))
        ub = _str_upper_bound(s)
        if ub is not None:
            assert ub >= s and len(ub) <= _STR_STATS_MAX, repr(s)

    # -- end to end through commit stats ------------------------------
    t = str(tmp_path / "t")
    base = "commonprefix/" * 7  # 91 chars, beyond _STR_STATS_MAX
    a = spark.createDataFrame(
        [(i, base + f"doc-{i:03d}") for i in range(5)], "id long, u string"
    )
    z = spark.createDataFrame(
        [(i, "zzz-" + str(i)) for i in range(5, 8)], "id long, u string"
    )
    tx_append(a.coalesce(1), t)
    tx_append(z.coalesce(1), t)
    snap = tx_snapshot(t)
    json.dumps(snap["stats"])  # truncated bounds stay JSON-clean
    lo, hi = next(
        st["cols"]["u"][:2] for st in snap["stats"].values()
        if st["cols"]["u"][0].startswith("commonprefix")
    )
    assert len(lo) <= 64 and (hi is None or len(hi) <= 64)
    assert lo <= base + "doc-000" and (hi is None or hi >= base + "doc-004")
    # a probe inside the long-prefix file's range prunes the zzz file...
    kept, skipped = tx_prune(t, [("u", "=", base + "doc-002")])
    assert len(kept) == 1 and len(skipped) == 1
    # ...and the predicated read equals the full-scan filter exactly
    got = sorted(
        r["id"] for r in
        tx_read(spark, t, predicate=[("u", "=", base + "doc-002")]).collect()
    )
    assert got == [2]
    # sound superset: a value between the true max and the adjusted upper
    # bound keeps the file (reads empty) — never a wrong answer
    probe = base + "doc-999"
    assert tx_read(spark, t, predicate=[("u", "=", probe)]).count() == 0


@pytest.fixture(params=["localfs", "opaque"])
def log_store_mode(request, tmp_path):
    """Parametrizes the distributed-planning tests over the two LOG
    planes: the POSIX store (native spark_uri — executors scan the
    checkpoint in place) and an opaque store (spark_uri None — the
    checkpoint must reach executors through the scratch spool, the 100 TB
    object-store path). Complements the module-wide data_store_mode
    fixture."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        register_log_store,
    )

    if request.param == "localfs":
        yield request.param
        return
    store = InMemoryLogStore()
    prefix = str(tmp_path)
    register_log_store(prefix, store)
    try:
        yield request.param
    finally:
        _tx._STORES.pop(prefix, None)


def _assert_spool_engaged(t: str, mode: str):
    """In opaque mode the distributed base MUST have come from the
    checkpoint spool — driver materialization would silently satisfy the
    row assertions while abandoning the scale path."""
    spooled = any(k[0] == os.path.abspath(t) for k in _tx._SPOOL_MEMO)
    assert spooled == (mode == "opaque")


def test_files_df_matches_snapshot(spark, tmp_path, log_store_mode):
    """`tx_files_df` — the distributed metadata plane — must agree with
    the driver snapshot exactly: same rels, same per-file stats, at head
    AND at a time-traveled version (checkpoint base + tail on one side,
    scratch replay on the other) — on BOTH log planes."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_files_df

    t = str(tmp_path / "t")
    _mk_pruning_table(spark, t)
    for v in (None, 3, CHECKPOINT_INTERVAL):
        snap = tx_snapshot(t, version=v)
        rows = tx_files_df(spark, t, version=v).collect()
        assert sorted(r["rel"] for r in rows) == snap["files"]
        got = {r["rel"]: (json.loads(r["stats_json"])
                          if r["stats_json"] else {}) for r in rows}
        assert got == snap["stats"]
    _assert_spool_engaged(t, log_store_mode)
    # version/horizon validation parity with tx_snapshot
    with pytest.raises(ValueError, match="does not exist"):
        tx_files_df(spark, t, version=999)


def test_files_df_via_opaque_log_store(spark, tmp_path, mem_store):
    """A LogStore with no spark_uri (object-store mutex services,
    in-memory emulations) serves tx_files_df through the checkpoint
    SPOOL — one GET of the bytes onto scratch, scanned by executors —
    never driver materialization; tail fold unchanged."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_files_df

    t = str(tmp_path / "t")
    row = _mk(spark, [1]).coalesce(1)
    for _ in range(CHECKPOINT_INTERVAL + 2):
        tx_append(row, t)
    snap = tx_snapshot(t)
    rows = tx_files_df(spark, t).collect()
    assert sorted(r["rel"] for r in rows) == snap["files"]
    _assert_spool_engaged(t, "opaque")


def test_file_stats_distributed_equals_driver(spark, tmp_path, monkeypatch):
    """Commit-time stats collected by the executor fan-out must be
    byte-identical to the serial driver loop on every stats class the
    pruner consumes — numeric, string (truncated bounds), date (kind
    marker), NaN floats, nulls, hive-partitioned rels — since pruning
    proofs are only as sound as the stats under them."""
    t = str(tmp_path / "t")
    _mk_pruning_table(spark, t)
    rels = tx_snapshot(t)["files"]
    assert len(rels) > 3
    driver = _tx._file_stats(t, rels)
    monkeypatch.setattr(_tx, "_STATS_DISTRIBUTED_MIN", 1)
    distributed = _tx._file_stats(t, rels, spark=spark)
    assert distributed == driver
    # the date kind marker must survive the Arrow/json hop
    assert any(
        len(b) == 4 and b[3] == "date"
        for st in distributed.values() for b in st["cols"].values()
    )


def test_tx_prune_distributed_equals_driver(spark, tmp_path,
                                            log_store_mode):
    """`tx_prune(spark=...)` runs the SAME `_skip_row` proof as the
    driver loop, Arrow-batched over `tx_files_df` — results must be
    bit-for-bit equal on every proof class: range/equality on stats,
    exact hive path proofs (strings, dates), IN with a NULL member
    (3VL), is_null/not_null from footer null counts, the NaN footer
    hazard (file holding NaN must survive `>` pruning), renamed columns,
    mixed layout eras, and time travel — on BOTH log planes (the opaque
    one proves the identical-prune claim through the scratch spool)."""
    import datetime as dt

    t = str(tmp_path / "t")
    _mk_pruning_table(spark, t)
    preds = [
        [("id", "<=", 3)],
        [("grp", "=", "g1")],
        [("grp", "in", ["g0", "g9", None])],
        [("val", ">", 50.0)],   # NaN file must be kept
        [("val", "<", 0.0)],
        [("d", "=", dt.date(2024, 2, 1))],
        [("id", "is_null", None)],
        [("id", "not_null", None)],
        [("id", ">=", 100), ("grp", "=", "g9")],
    ]
    for p in preds:
        assert tx_prune(t, p) == tx_prune(t, p, spark=spark), p
    # at least one predicate must actually prune for the test to bite
    kept, skipped = tx_prune(t, [("id", "<=", 3)], spark=spark)
    assert kept and skipped
    # time travel through the distributed path
    assert tx_prune(t, preds[0], 3) == tx_prune(t, preds[0], 3, spark=spark)


def test_parquet_checkpoint_via_bytes_bridge(spark, tmp_path, mem_store):
    """A LogStore that implements only the four str methods still carries
    parquet checkpoints: the base-class bytes methods bridge via latin-1,
    lossless for any store that keeps the payload string verbatim."""
    t = str(tmp_path / "t")
    row = _mk(spark, [1]).coalesce(1)
    for _ in range(CHECKPOINT_INTERVAL + 1):
        tx_append(row, t)
    names = mem_store.list(os.path.join(t, "_txn_log"))
    cp_name = f"{CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    assert cp_name in names
    with_cp = tx_snapshot(t)
    mem_store.delete(os.path.join(t, "_txn_log"), cp_name)
    assert tx_snapshot(t) == with_cp  # bridge roundtrip was lossless


def test_merge_reserved_tx_file_name_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)
    bad = spark.createDataFrame([Row(id=1, val="x", __tx_rel="boom")])
    with pytest.raises(ValueError, match="__tx_rel"):
        tx_merge(spark, t, bad, ["id"])
    with pytest.raises(ValueError, match="__tx_pos"):
        tx_merge(spark, t, bad.withColumnRenamed("__tx_rel", "z"),
                 ["__tx_pos"])


def test_cli_tx_roundtrip(spark, tmp_path, capsys):
    """CLI smoke: append via API, then merge / read --where / history /
    compact / vacuum through the `tx` subcommand."""
    from weather_data_warehouse_aws_spark.__main__ import main

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(0, 50)), t)
    tx_append(_mk(spark, range(1000, 1050)), t)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(id=1010, val="UPD"), Row(id=9999, val="NEW")]
    ).write.parquet(src)
    assert main(["tx", "merge", "--table", t, "--source", src,
                 "--keys", "id"]) == 0
    out = capsys.readouterr().out
    assert "rewrote" in out and "skipped" in out
    assert main(["tx", "read", "--table", t,
                 "--where", "id >= 1000", "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "stats pruning" in out and "skipped" in out
    assert "52 rows" not in out  # predicate applied: only the high range
    assert main(["tx", "history", "--table", t]) == 0
    hist = capsys.readouterr().out
    assert "merge" in hist and "append" in hist
    assert main(["tx", "compact", "--table", t]) == 0
    assert main(["tx", "vacuum", "--table", t]) == 0
    assert _ids(tx_read(spark, t)) == sorted(
        list(range(0, 50)) + list(range(1000, 1050)) + [9999]
    )


def test_cli_tx_merge_sync_deletes(spark, tmp_path, capsys):
    """`tx merge --sync-deletes` is a full sync: matched keys update,
    unmatched source keys insert, and target rows whose key the source
    lacks are deleted table-wide."""
    from weather_data_warehouse_aws_spark.__main__ import main

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(0, 5)), t)
    tx_append(_mk(spark, range(100, 105)), t)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(id=2, val="UPD"), Row(id=103, val="UPD"), Row(id=7, val="NEW")]
    ).write.parquet(src)
    assert main(["tx", "merge", "--table", t, "--source", src,
                 "--keys", "id", "--sync-deletes"]) == 0
    assert "merged at v" in capsys.readouterr().out
    got = {r.id: r.val for r in tx_read(spark, t).collect()}
    assert got == {2: "UPD", 103: "UPD", 7: "NEW"}


# ---------------------------------------------------------------------------
# round-6 hardening: LogStore seam, torn-tail recovery, stray-file tolerance,
# NaN-safe float pruning, vacuum horizon race, stage-dir sweep
# ---------------------------------------------------------------------------

from weather_data_warehouse_aws_spark.operators import txlog as _tx
from weather_data_warehouse_aws_spark.operators.txlog import (
    LogStore,
    TxCorruption,
    register_log_store,
)


class InMemoryLogStore(LogStore):
    """Dict-backed fake proving _commit/_replay depend only on the
    protocol (put_if_absent / list / read) — the seam a cluster
    object-store implementation plugs into."""

    def __init__(self):
        self.entries: dict[tuple[str, str], str] = {}
        self.on_put = None  # one-shot hook to inject a racing commit

    def put_if_absent(self, log_dir, name, payload):
        if self.on_put is not None:
            hook, self.on_put = self.on_put, None
            hook()
        if (log_dir, name) in self.entries:
            return False
        self.entries[(log_dir, name)] = payload
        return True

    def list(self, log_dir):
        return sorted(n for d, n in self.entries if d == log_dir)

    def read(self, log_dir, name):
        return self.entries[(log_dir, name)]

    def delete(self, log_dir, name):
        self.entries.pop((log_dir, name), None)


@pytest.fixture
def mem_store(tmp_path):
    store = InMemoryLogStore()
    prefix = str(tmp_path)
    register_log_store(prefix, store)
    yield store
    _tx._STORES.pop(prefix, None)


def test_inmemory_store_roundtrip(spark, tmp_path, mem_store):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(5)), t)
    tx_overwrite(_mk(spark, range(5, 8)), t)
    assert _ids(tx_read(spark, t)) == [5, 6, 7]
    assert _ids(tx_read(spark, t, version=0)) == [0, 1, 2, 3, 4]
    # the log lives ONLY in the store — nothing on disk under _txn_log
    assert not os.path.isdir(os.path.join(t, "_txn_log"))
    assert len(mem_store.entries) == 2


def test_lost_race_retries_on_fresh_snapshot(spark, tmp_path, mem_store):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)  # version 0

    def racing_commit():
        _commit(t, "noop", lambda s: ([], [], {"racer": True}),
                validate_remove_live=False)

    mem_store.on_put = racing_commit  # fires inside the append's first try
    v = tx_append(_mk(spark, range(10, 13)), t)
    assert v == 2  # lost version 1 to the racer, retried, won version 2
    ops = [h["op"] for h in tx_history(t)]
    assert ops == ["append", "noop", "append"]
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 10, 11, 12]


def test_stray_files_in_log_dir_are_ignored(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(4)), t)
    log = tmp_path / "t" / "_txn_log"
    (log / "notes.json").write_text("not a commit")          # non-numeric
    (log / "00000000000000000000.json.bak").write_text("x")  # editor backup
    (log / ".tmp-deadbeef").write_text("{")                  # torn staging
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3]
    assert tx_append(_mk(spark, [9]), t) == 1


def test_torn_newest_commit_reads_as_aborted_and_commit_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)            # v0
    tx_append(_mk(spark, range(10, 12)), t)       # v1
    torn = tmp_path / "t" / "_txn_log" / f"{2:020d}.json"
    torn.write_text('{"version": 2, "op": "append", "ad')  # crashed mid-dump
    # reads: torn tail = aborted commit, table serves v1
    assert tx_snapshot(t)["version"] == 1
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 10, 11]
    # writes: version 2 is claimed but unparseable -> loud recovery hint
    with pytest.raises(TxCorruption, match="torn|unparseable"):
        tx_append(_mk(spark, [99]), t)
    torn.unlink()
    assert tx_append(_mk(spark, [99]), t) == 2


def test_interior_corruption_raises_not_heals(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)
    tx_append(_mk(spark, range(5, 8)), t)
    tx_append(_mk(spark, range(10, 12)), t)
    # damage an INTERIOR commit: replay must refuse, not silently skip
    (tmp_path / "t" / "_txn_log" / f"{1:020d}.json").write_text("{bad")
    with pytest.raises((TxCorruption, ValueError)):
        tx_read(spark, t).collect()


def test_float_stats_never_skip_nan_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    nan = float("nan")
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, nan)], "id int, x double"
    ).coalesce(1).write.format("noop").mode("overwrite").save()  # warm
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, nan)], "id int, x double"
    ).coalesce(1)
    tx_append(df, t)
    # Spark orders NaN above every double: x > 5.0 matches the NaN row.
    # Footer stats say max=2.0 (parquet excludes NaN) — the file must NOT
    # be pruned, or the row is silently lost.
    got = tx_read(spark, t, predicate=[("x", ">", 5.0)]).collect()
    assert [r["id"] for r in got] == [3]
    # lower-bound proofs stay usable on float stats (NaN can't sort low):
    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune
    t2 = str(tmp_path / "t2")
    tx_append(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, x double")
        .coalesce(1),
        t2,
    )
    kept, skipped = tx_prune(t2, [("x", "<", 5.0)])
    assert kept == [] and len(skipped) == 1


def test_vacuum_loser_inherits_winner_horizon(spark, tmp_path, mem_store):
    t = str(tmp_path / "t")
    for i in range(6):
        tx_overwrite(_mk(spark, range(i, i + 2)), t)  # versions 0..5

    winner_horizon = {}

    def racing_vacuum():
        # aggressive concurrent vacuum wins the version this caller wanted
        winner_horizon["h"] = tx_vacuum(t, retain_versions=1)["horizon"]

    mem_store.on_put = racing_vacuum
    # the loser asked to RETAIN more (lower horizon) — its retry must
    # commit the winner's higher horizon, never roll it back
    res = tx_vacuum(t, retain_versions=4)
    assert res["horizon"] == winner_horizon["h"] == 5
    assert tx_snapshot(t)["horizon"] == 5
    # deletes are idempotent (the winner already dropped them from disk);
    # what matters is the latest version still reads clean afterwards
    assert _ids(tx_read(spark, t)) == [5, 6]
    with pytest.raises(ValueError, match="vacuumed"):
        tx_read(spark, t, version=3)


def test_vacuum_sweeps_stage_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)
    # a crashed writer strands a staged write wherever the table's
    # DataStore stages (local: the __tx_stage sibling; bucket: _stage/)
    stage = get_data_store(t).stage_uri(t)
    os.makedirs(stage)
    with open(os.path.join(stage, "part-000.parquet"), "wb") as fh:
        fh.write(b"stranded")
    tx_vacuum(t, include_orphans=True)
    assert not os.path.exists(stage)
    assert _ids(tx_read(spark, t)) == [0, 1, 2]


# ---------------------------------------------------------------------------
# round-6 ops: replace_where, restore, change feed
# ---------------------------------------------------------------------------

from weather_data_warehouse_aws_spark.operators.txlog import (
    tx_changes,
    tx_replace_where,
    tx_restore,
)


def _day(spark, d, ids):
    return spark.createDataFrame(
        [Row(id=i, day=d, val=f"d{d}v{i}") for i in ids]
    )


def test_replace_where_swaps_only_matching_region(spark, tmp_path):
    t = str(tmp_path / "t")
    # seed: day 1 and day 2 in separate files
    tx_append(_day(spark, 1, range(3)).coalesce(1), t)
    tx_append(_day(spark, 2, range(10, 13)).coalesce(1), t)
    n_before = len(tx_snapshot(t)["files"])
    # recompute day 2 → different rows
    res = tx_replace_where(
        spark, t, _day(spark, 2, range(20, 22)).coalesce(1), "day = 2"
    )
    assert res["rows_deleted"] == 3
    assert res["files_rewritten"] >= 1
    got = tx_read(spark, t)
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 20, 21]
    # day-1 file untouched (skipped, not rewritten)
    assert res["files_skipped"] == n_before - res["files_rewritten"]
    # old state still time-travelable
    assert sorted(
        r["id"] for r in tx_read(spark, t, version=1).collect()
    ) == [0, 1, 2, 10, 11, 12]


def test_replace_where_validates_payload(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_day(spark, 1, range(3)).coalesce(1), t)
    v_before = tx_snapshot(t)["version"]
    with pytest.raises(Exception, match="does not satisfy"):
        # payload claims day=2 but carries a day=3 row → abort pre-commit
        tx_replace_where(spark, t, _day(spark, 3, [99]), "day = 2")
    assert tx_snapshot(t)["version"] == v_before  # nothing committed


def test_replace_where_keeps_null_condition_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1), (2, None), (3, 2)], "id int, day int"
    ).coalesce(1)
    tx_append(df, t)
    tx_replace_where(
        spark, t,
        spark.createDataFrame([(10, 1)], "id int, day int"),
        "day = 1",
    )
    # NULL-day row is NOT in the delete region (3VL) — must survive
    assert sorted(
        r["id"] for r in tx_read(spark, t).collect()
    ) == [2, 3, 10]


def test_replace_where_first_write_and_prune(spark, tmp_path):
    t = str(tmp_path / "t")
    res = tx_replace_where(spark, t, _day(spark, 1, range(3)), "day = 1")
    assert res["version"] == 0 and res["rows_deleted"] == 0
    tx_append(_day(spark, 9, range(50, 53)).coalesce(1), t)
    # stats prune: the day=9 file's [min,max] excludes day=1 → not scanned
    res = tx_replace_where(
        spark, t, _day(spark, 1, [7]), "day = 1", prune=[("day", "=", 1)]
    )
    assert res["files_rewritten"] >= 1
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [7, 50, 51, 52]


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)            # v0
    tx_overwrite(_mk(spark, range(10, 12)), t)    # v1
    tx_append(_mk(spark, [20]), t)                # v2
    v = tx_restore(t, 0)
    assert v == 3
    assert _ids(tx_read(spark, t)) == [0, 1, 2]
    # restore of current state is a no-op
    assert tx_restore(t, 3) is None
    # the rollback itself is in history and time travel still works
    assert [h["op"] for h in tx_history(t)][-1] == "restore"
    assert _ids(tx_read(spark, t, version=2)) == [10, 11, 20]


def test_changes_feed_transforms_snapshots_exactly(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)                      # v0: +3
    tx_append(_mk(spark, range(10, 12)), t)                 # v1: +2
    tx_erase_keys(spark, t, "id", [1, 10])                  # v2: rewrite
    tx_append(_mk(spark, [30]), t)                          # v3: +1
    ch = tx_changes(spark, t, from_version=1)
    rows = ch.collect()
    assert set(r["_change_type"] for r in rows) <= {"insert", "delete"}
    # apply the feed to snapshot v1 -> must equal latest snapshot
    base = {r["id"] for r in tx_read(spark, t, version=1).collect()}
    for v in sorted({r["_commit_version"] for r in rows}):
        dels = {r["id"] for r in rows
                if r["_commit_version"] == v and r["_change_type"] == "delete"}
        ins = {r["id"] for r in rows
               if r["_commit_version"] == v and r["_change_type"] == "insert"}
        base = (base - dels) | ins
    assert base == set(_ids(tx_read(spark, t)))
    # pure-append range is insert-only
    ch3 = tx_changes(spark, t, from_version=2, to_version=3)
    assert {r["_change_type"] for r in ch3.collect()} == {"insert"}
    # empty range returns an empty frame with the CDC columns
    ch0 = tx_changes(spark, t, from_version=tx_snapshot(t)["version"])
    assert ch0.count() == 0 and "_change_type" in ch0.columns
    # vacuumed-away from_version fails loudly
    tx_vacuum(t, retain_versions=1)
    with pytest.raises(ValueError, match="horizon"):
        tx_changes(spark, t, from_version=0)


def test_clustered_compaction_restores_skipping(spark, tmp_path):
    """tx_compact(sort_by=...) re-clusters during the rewrite: after
    unclustered appends nothing prunes; after a clustered compaction a
    range predicate opens a strict subset of files (and the result is
    unchanged). zorder_by narrows BOTH clustered columns' spans."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 100, f"p{i}") for i in range(4000)], "id int, x int, val string"
    )
    # hash-shuffled appends: every file spans ~the whole id range
    for k in range(4):
        tx_append(df.filter(F.col("id") % 4 == k).repartition(3), t)
    kept, skipped = tx_prune(t, [("id", "<", 100)])
    assert skipped == []  # nothing prunable on the unclustered layout

    v = tx_compact(spark, t, target_files=8, sort_by=["id"])
    assert v is not None
    kept2, skipped2 = tx_prune(t, [("id", "<", 100)])
    assert len(skipped2) >= 6  # narrow disjoint ranges -> most files skip
    got = tx_read(spark, t, predicate=[("id", "<", 100)])
    assert got.count() == 100

    # zorder: re-cluster the SAME table on (id, x); both columns prune now
    v2 = tx_compact(spark, t, target_files=8, zorder_by=["id", "x"])
    assert v2 == v + 1  # recluster runs even though count is at target
    _, skip_id = tx_prune(t, [("id", "<", 100)])
    _, skip_x = tx_prune(t, [("x", ">=", 90)])
    assert skip_id and skip_x, "both z-ordered columns must skip files"
    assert tx_read(spark, t).count() == 4000


def test_zorder_key_temporal_and_unsupported_types(spark):
    """Timestamp/date columns cluster via epoch conversion; strings raise a
    descriptive TypeError up front (not a float() crash mid-plan)."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import zorder_key

    df = spark.createDataFrame(
        [
            (1.0, dt.datetime(2024, 1, 1), dt.date(2024, 1, 1), "a"),
            (9.0, dt.datetime(2024, 6, 1), dt.date(2024, 6, 1), "b"),
        ],
        "x double, ts timestamp, d date, s string",
    )
    out, key = zorder_key(df, ["x", "ts", "d"], bits=4)
    zs = [r[key] for r in out.collect()]
    assert len(set(zs)) == 2 and all(z >= 0 for z in zs)

    with pytest.raises(TypeError, match="unsupported type"):
        zorder_key(df, ["x", "s"])


def test_cli_tx_restore_and_changes(spark, tmp_path, capsys):
    from weather_data_warehouse_aws_spark.__main__ import main

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(5)), t)
    tx_overwrite(_mk(spark, [9]), t)
    assert main(["tx", "changes", "--table", t, "--from-version", "0"]) == 0
    out = capsys.readouterr().out
    assert "delete" in out and "insert" in out
    assert main(["tx", "restore", "--table", t, "--version", "0"]) == 0
    assert "restored to v0" in capsys.readouterr().out
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3, 4]
    assert main(["tx", "compact", "--table", t, "--sort-by", "id"]) == 0
    assert "compacted" in capsys.readouterr().out
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3, 4]


# ---------------------------------------------------- partitioned tables
def test_partitioned_table_roundtrip_and_exact_pruning(spark, tmp_path):
    """Hive-partitioned tx tables: the log-relative path carries the
    partition values, so pruning is EXACT on partition columns — strings
    and dates included, which footer min/max stats can never prune — and
    every rewrite op preserves the layout."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_prune,
        tx_replace_where,
        tx_restore,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (i, dt.date(2024, 1, 1 + i % 5), ["0123", "NYC", "SF"][i % 3], float(i))
            for i in range(100)
        ],
        "id int, d date, city string, v double",
    )
    tx_append(df.repartition(2), t, partition_by=["d"])
    snap = tx_snapshot(t)
    assert snap["partition_by"] == ["d"]
    assert all(f.startswith("d=") for f in snap["files"])

    # read-back: logged column ORDER and TYPES survive partition recovery
    out = tx_read(spark, t)
    assert out.columns == ["id", "d", "city", "v"]
    assert dict(out.dtypes)["d"] == "date"
    assert out.count() == 100

    # exact pruning on the DATE partition (stats-only tables can't skip
    # non-numerics; the partition path can)
    kept, skipped = tx_prune(t, [("d", "=", dt.date(2024, 1, 3))])
    assert skipped and len(kept) < len(snap["files"])
    assert (
        tx_read(spark, t, predicate=[("d", "=", dt.date(2024, 1, 3))]).count()
        == 20
    )

    # a mismatched append layout is rejected
    with pytest.raises(ValueError, match="partitioned by"):
        tx_append(df.limit(1), t, partition_by=["city"])

    # erase + replace_where + compact all preserve the layout
    tx_erase_keys(spark, t, "id", [7, 13])
    assert tx_read(spark, t).count() == 98
    res = tx_replace_where(
        spark,
        t,
        tx_read(spark, t).limit(0),
        "d = DATE'2024-01-05'",
        prune=[("d", "=", dt.date(2024, 1, 5))],
    )
    assert res["files_skipped"] > 0  # untouched partitions never opened
    assert (
        tx_read(spark, t)
        .filter(F.col("d") == F.lit(dt.date(2024, 1, 5)))
        .count()
        == 0
    )
    tx_compact(spark, t, target_files=4)
    snap2 = tx_snapshot(t)
    assert snap2["partition_by"] == ["d"]
    assert all(f.startswith("d=") for f in snap2["files"])

    # restore carries the scheme back with the old file set
    tx_restore(t, 0)
    assert tx_snapshot(t)["partition_by"] == ["d"]
    assert tx_read(spark, t).count() == 100


def test_partitioned_string_values_roundtrip_exactly(spark, tmp_path):
    """A STRING partition column must come back byte-exact — partition
    type inference would corrupt a numeric-looking value ('0123' → 123),
    so string-partitioned tables read through the logged schema."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "0123"), (2, "NYC"), (3, "007")], "id int, city string"
    )
    tx_append(df, t, partition_by=["city"])
    vals = sorted(r[0] for r in tx_read(spark, t).select("city").collect())
    assert vals == ["007", "0123", "NYC"]
    # exact equality pruning on the string partition
    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune

    kept, skipped = tx_prune(t, [("city", "=", "NYC")])
    assert len(kept) == 1 and len(skipped) == 2


def test_null_partition_value_skips_all_comparisons(spark, tmp_path):
    """NULL partition rows land in __HIVE_DEFAULT_PARTITION__; SQL
    comparisons never match NULL, so those files are always skippable —
    and the rows still read back as NULL."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, None)], "id int, d date"
    )
    tx_append(df.coalesce(1), t, partition_by=["d"])
    assert tx_read(spark, t).filter(F.col("d").isNull()).count() == 1
    kept, skipped = tx_prune(t, [("d", "=", dt.date(2024, 1, 1))])
    assert len(kept) == 1 and len(skipped) == 1  # the NULL file skips
    assert (
        tx_read(spark, t, predicate=[("d", "=", dt.date(2024, 1, 1))]).count()
        == 1
    )


def test_date_footer_stats_prune_unpartitioned(spark, tmp_path):
    """DATE columns ride the footer stats as ISO strings (int32-backed —
    exact, unlike truncatable binary stats): a date-clustered flat table
    prunes date ranges with no partitioning at all."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 8)) for i in range(400)],
        "id int, d date",
    )
    tx_append(df.repartitionByRange(4, "d").sortWithinPartitions("d"), t)
    snap = tx_snapshot(t)
    some_stats = next(iter(snap["stats"].values()))
    assert "d" in some_stats["cols"], "date column must carry footer stats"
    kept, skipped = tx_prune(t, [("d", "=", dt.date(2024, 1, 1))])
    assert skipped, "clustered date layout must skip files"
    assert (
        tx_read(spark, t, predicate=[("d", "=", dt.date(2024, 1, 1))]).count()
        == 50
    )
    # string BOUNDS are recorded since round 9 (bound-preserving
    # truncation keeps them sound) — short values are exact, and both
    # membership and range proofs fire on them
    t2 = str(tmp_path / "t2")
    tx_append(
        spark.createDataFrame(
            [(1, "aaa"), (2, "zzz")], "id int, s string"
        ).coalesce(1),
        t2,
    )
    st2 = next(iter(tx_snapshot(t2)["stats"].values()))
    assert st2["cols"]["s"][:2] == ["aaa", "zzz"]
    from weather_data_warehouse_aws_spark.operators.txlog import _can_skip

    assert not _can_skip(st2, "s", "=", "zzz")   # in range — must read
    assert not _can_skip(st2, "s", ">", "a")     # range overlaps
    assert _can_skip(st2, "s", "=", "zzzz")      # above the max — skip
    assert _can_skip(st2, "s", "<", "aaa")       # below the min — skip
    assert _can_skip(st2, "s", "is_null", None)  # null_count == 0 proves


def test_date_literal_vs_string_bounds_never_proves(spark, tmp_path):
    """Cross-type skip proofs must be refused, both directions.

    (a) A date literal against a STRING column's bounds: Spark casts the
    string COLUMN to date, so a file bounded ['2024-1-1','2024-1-9']
    matches DATE'2024-01-05' even though the ISO literal sorts outside
    those bounds lexicographically — skipping it would silently drop the
    row. (b) An unpadded string literal against a DATE column's ISO
    bounds: Spark casts the LITERAL to date, so '2024-1-5' matches
    2024-01-05 even though '2024-1-5' > '2024-01-09' as a string. The
    kind marker on date-path bounds is what keeps both sound."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import (
        _can_skip,
        tx_prune,
    )

    # (a) string column holding unpadded date-like values
    t = str(tmp_path / "t")
    tx_append(
        spark.createDataFrame(
            [(i, f"2024-1-{i}") for i in range(1, 10)], "id int, s string"
        ).coalesce(1),
        t,
    )
    st = next(iter(tx_snapshot(t)["stats"].values()))
    assert st["cols"]["s"][:2] == ["2024-1-1", "2024-1-9"]
    assert len(st["cols"]["s"]) == 3, "string bounds must carry no marker"
    lit = dt.date(2024, 1, 5)
    assert not _can_skip(st, "s", "=", lit), "date-vs-string must not prove"
    kept, skipped = tx_prune(t, [("s", "=", lit)])
    assert kept and not skipped
    # end-to-end: Spark casts the string column to date; the row survives
    assert tx_read(spark, t, predicate=[("s", "=", lit)]).count() == 1

    # (b) date column bounds meet an unpadded string literal
    t2 = str(tmp_path / "t2")
    tx_append(
        spark.createDataFrame(
            [(i, dt.date(2024, 1, i)) for i in range(1, 10)],
            "id int, d date",
        ).coalesce(1),
        t2,
    )
    st2 = next(iter(tx_snapshot(t2)["stats"].values()))
    assert st2["cols"]["d"][3] == "date", "date bounds must carry the marker"
    assert not _can_skip(st2, "d", "=", "2024-1-5"), "normalizes, in range"
    assert _can_skip(st2, "d", "=", "2024-1-15")  # normalizes, out of range
    assert not _can_skip(st2, "d", "=", "garbage")  # unparseable: no proof
    assert not _can_skip(st2, "d", "=", 7)  # numeric vs date: no proof
    # date literals still prove against date bounds (the r9 behavior)
    assert _can_skip(st2, "d", "=", dt.date(2024, 2, 1))
    assert not _can_skip(st2, "d", "=", dt.date(2024, 1, 5))


# ----------------------------------------------------- deletion vectors
def test_delete_where_is_rewrite_free_and_time_travelable(spark, tmp_path):
    """tx_delete_where: row-level DELETE as a deletion-vector commit — no
    data file rewritten, rows gone logically, composable with a second
    delete, old versions still read the rows until vacuum."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_delete_where

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 5, f"v{i}") for i in range(100)], "id int, g int, val string"
    )
    tx_append(df.repartition(4), t)
    files_v0 = tx_snapshot(t)["files"]

    res = tx_delete_where(spark, t, "g = 3")
    assert res["rows_deleted"] == 20 and res["files_touched"] >= 1
    snap = tx_snapshot(t)
    assert snap["files"] == files_v0, "no data file may be rewritten"
    assert snap["dvs"], "the DV map must record the deletion"
    assert tx_read(spark, t).count() == 80
    assert tx_read(spark, t).filter("g = 3").count() == 0
    assert tx_read(spark, t, version=0).count() == 100  # time travel

    # DVs compose (set union of positions)
    tx_delete_where(spark, t, "id < 5")  # ids 0,1,2,4 still alive (3 has g=3)
    assert tx_read(spark, t).count() == 76

    # a no-match delete commits nothing
    r2 = tx_delete_where(spark, t, "id = -1")
    assert r2["version"] is None

    # rewrites MATERIALIZE: compaction clears the DV map, count unchanged
    tx_compact(spark, t, target_files=2)
    snap2 = tx_snapshot(t)
    assert not snap2["dvs"]
    assert tx_read(spark, t).count() == 76


def test_delete_where_change_feed_and_restore(spark, tmp_path):
    """The change feed is row-exact under DVs: a DV commit emits exactly
    the newly-deleted rows; a rewrite of a DV'd file emits only its
    LOGICAL rows on both sides; a restore that reverts a DV resurrects
    rows as inserts."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_changes,
        tx_delete_where,
        tx_restore,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 5) for i in range(50)], "id int, g int")
    tx_append(df.coalesce(2), t)            # v0
    tx_delete_where(spark, t, "g = 0")      # v1: 10 rows via DV
    ch = tx_changes(spark, t, 0, 1)
    assert ch.filter("_change_type='delete'").count() == 10
    assert ch.filter("_change_type='insert'").count() == 0

    tx_compact(spark, t, target_files=1)    # v2: materialize (40 logical)
    ch2 = tx_changes(spark, t, 1, 2)
    assert ch2.filter("_change_type='delete'").count() == 40
    assert ch2.filter("_change_type='insert'").count() == 40

    tx_append(df.filter("g = 0").coalesce(1), t)  # v3: 10 rows back
    tx_delete_where(spark, t, "id < 25")          # v4
    tx_restore(t, 3)                              # v5: un-deletes v4's rows
    ch3 = tx_changes(spark, t, 4, 5)
    assert ch3.filter("_change_type='insert'").count() == 25  # resurrected
    assert tx_read(spark, t).count() == 50


def test_delete_where_conflicts_with_concurrent_rewrite(spark, tmp_path):
    """Positions address physical rows: a rewrite racing a DV commit in
    either order must surface as TxConflict, never silent resurrection."""
    from unittest import mock

    from weather_data_warehouse_aws_spark.operators import txlog as TX

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(20)).repartition(2), t)  # 2 files: compact is real

    # DV loses: the covered file is compacted away between scan and commit
    real_commit = TX._commit

    def _race_then_commit(path, op, build, **kw):
        if op == "delete" and not getattr(_race_then_commit, "fired", False):
            _race_then_commit.fired = True
            TX.tx_compact(spark, t, target_files=1)
        return real_commit(path, op, build, **kw)

    with mock.patch.object(TX, "_commit", _race_then_commit):
        with pytest.raises(TxConflict, match="rewritten|no longer"):
            TX.tx_delete_where(spark, t, "id = 3")
    assert tx_read(spark, t).count() == 20

    # rewrite loses: a DV lands after the compaction took its snapshot
    snap = TX.tx_snapshot(t)
    df2 = TX._read_live(spark, t, snap["files"], snap).repartition(1)
    rels, stats = TX._write_new_files(df2, t)

    def _build(s):
        TX._dv_stable(snap, s, snap["files"])
        return (rels, snap["files"], {})

    TX.tx_delete_where(spark, t, "id = 7")
    with pytest.raises(TxConflict, match="deletion vectors"):
        TX._commit(t, "compact", _build, stats=stats)
    assert tx_read(spark, t).count() == 19  # the DV won; no resurrection


def test_vacuum_reclaims_dead_dvs_and_keeps_live_ones(spark, tmp_path):
    """A DV file dies with its covered data files: vacuum keeps it while
    the cover is live (readers need it!) and reclaims it after a rewrite
    pushes the cover below the horizon."""
    import os

    from weather_data_warehouse_aws_spark.operators.txlog import tx_delete_where

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(30)).repartition(2), t)  # v0 (2 files)
    tx_delete_where(spark, t, "id < 10")                # v1 -> dv file
    dv_rel = next(iter(tx_snapshot(t)["dvs"].values()))[0]
    assert dv_rel.startswith("dv-")
    assert _data_exists(t, dv_rel)

    # cover still live: vacuum must NOT touch the DV
    res = tx_vacuum(t, retain_versions=1)
    assert dv_rel not in res["deleted"]
    assert tx_read(spark, t).count() == 20

    # materialize (cover removed), vacuum past it: DV reclaimed
    tx_compact(spark, t, target_files=1)                # v3
    res2 = tx_vacuum(t, retain_versions=1)
    assert dv_rel in res2["deleted"]
    assert not _data_exists(t, dv_rel)
    assert tx_read(spark, t).count() == 20


def test_delete_where_on_partitioned_table_prunes(spark, tmp_path):
    """DVs compose with hive partitioning: the delete scan opens only the
    plausible partitions and the read-back recovers partition columns."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import tx_delete_where

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 4)) for i in range(80)], "id int, d date"
    )
    tx_append(df, t, partition_by=["d"])
    res = tx_delete_where(
        spark, t, "id < 40 AND d = DATE'2024-01-02'",
        prune=[("d", "=", dt.date(2024, 1, 2))],
    )
    assert res["rows_deleted"] == 10  # ids 1,5,...,37 live in d=2024-01-02
    out = tx_read(spark, t)
    assert out.count() == 70
    assert out.filter("d = DATE'2024-01-02'").count() == 10
    assert dict(out.dtypes)["d"] == "date"


def test_row_ops_on_url_encodable_paths(spark, tmp_path):
    """Row-level ops on partition values (and table roots) with
    URL-encodable characters: `_metadata.file_path` is a URI, so a
    'city=New York' directory scans as 'city=New%20York' — the scan-time
    relpath must be decoded back to the raw OS relpath the log and DV
    records store, or delete/update resolve to nonexistent files and die
    with a misleading TxConflict. A literal '+' must survive the decode
    (URLDecoder would turn it into a space)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_update_where,
    )

    t = str(tmp_path / "ware house" / "t")  # space in the root too
    df = spark.createDataFrame(
        [(i, ["New York", "São Paulo", "a+b c%20d"][i % 3], float(i))
         for i in range(30)],
        "id int, city string, v double",
    )
    tx_append(df, t, partition_by=["city"])

    res = tx_delete_where(spark, t, "city = 'New York' AND id < 15")
    assert res["rows_deleted"] == 5  # ids 0,3,6,9,12
    out = tx_read(spark, t)
    assert out.count() == 25
    assert out.filter("city = 'New York'").count() == 5

    r2 = tx_update_where(spark, t, "city = 'a+b c%20d'", {"v": "v + 0.5"})
    assert r2["rows_updated"] == 10
    assert tx_read(spark, t).filter(
        "city = 'a+b c%20d' AND v = id + 0.5"
    ).count() == 10
    # deleted rows stayed deleted through the update's rewrite-free path
    assert tx_read(spark, t).count() == 25


def test_update_where_merge_on_read(spark, tmp_path, capsys):
    """tx_update_where: matched rows' positions become a DV and their
    updated images append — ONE commit, untouched rows never rewritten,
    the change feed emits old images as deletes + new images as inserts,
    and it composes with prior deletes and partitioned layouts."""
    from weather_data_warehouse_aws_spark.__main__ import main
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_changes,
        tx_delete_where,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(100)], "id int, g int, v double"
    )
    tx_append(df.repartition(3), t)
    files0 = set(tx_snapshot(t)["files"])

    res = tx_update_where(spark, t, "g = 2", {"v": "v * 10", "g": "g + 100"})
    assert res["rows_updated"] == 25
    out = tx_read(spark, t)
    assert out.count() == 100
    assert out.filter("g = 2").count() == 0
    assert out.filter("g = 102 AND v = 20.0").count() == 1  # id=2: 2.0*10
    assert files0 < set(tx_snapshot(t)["files"]), "old files untouched"
    assert tx_read(spark, t, version=0).filter("g = 2").count() == 25

    ch = tx_changes(spark, t, 0, 1)
    assert ch.filter("_change_type='delete'").count() == 25
    assert ch.filter("_change_type='insert' AND g = 102").count() == 25

    # composes with a prior row delete (already-deleted rows can't match)
    tx_delete_where(spark, t, "id = 2")
    r2 = tx_update_where(spark, t, "g = 102", {"v": "v + 0.5"})
    assert r2["rows_updated"] == 24
    assert tx_read(spark, t).count() == 99

    # no-match: nothing committed; CLI surface
    assert tx_update_where(spark, t, "id = -1", {"v": "0.0"})["version"] is None
    assert main(["tx", "update", "--table", t,
                 "--where", "id = 7", "--set", "v=v+1", "--set", "g=0"]) == 0
    assert "updated 1 row(s)" in capsys.readouterr().out
    assert tx_read(spark, t).filter("id = 7 AND g = 0").count() == 1
    # a repeatable --set carries comma-bearing SQL expressions intact
    assert main(["tx", "update", "--table", t, "--where", "id = 7",
                 "--set", "v=greatest(v, 100.0)"]) == 0
    assert "updated 1 row(s)" in capsys.readouterr().out
    assert tx_read(spark, t).filter("id = 7 AND v = 100.0").count() == 1
    assert main(["tx", "update", "--table", t,
                 "--where", "id = 7", "--set", "nonsense"]) == 2


def test_concurrent_writers_stress(spark, tmp_path):
    """8 threads × mixed ops (append / delete_where / update_where /
    compact) race on one table: every commit that REPORTED success must
    be fully visible, versions are gapless, the final row accounting
    balances exactly, and losers failed loudly (TxConflict) — never by
    corrupting state."""
    import threading

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    tx_append(
        spark.createDataFrame(
            [(i, 0) for i in range(400)], "id int, touch int"
        ).repartition(4),
        t,
    )

    appended: list[int] = []          # per-thread appended row counts
    deleted: list[int] = []           # rows_deleted of successful deletes
    conflicts: list[str] = []
    lock = threading.Lock()

    def worker(k: int) -> None:
        try:
            if k % 4 == 0:  # append 10 fresh ids (never conflicts)
                base = 1000 + k * 100
                tx_append(
                    spark.createDataFrame(
                        [(base + j, 0) for j in range(10)], "id int, touch int"
                    ).coalesce(1),
                    t,
                )
                with lock:
                    appended.append(10)
            elif k % 4 == 1:  # row-level delete of a thread-unique slice
                res = tx_delete_where(
                    spark, t, f"id >= {k * 30} AND id < {k * 30 + 10}"
                )
                with lock:
                    deleted.append(res["rows_deleted"] or 0)
            elif k % 4 == 2:  # update a thread-unique slice
                tx_update_where(
                    spark, t,
                    f"id >= {k * 30} AND id < {k * 30 + 5}",
                    {"touch": "touch + 1"},
                )
            else:  # compaction — the rewrite that loses DV races
                tx_compact(spark, t, target_files=2)
        except TxConflict as e:
            with lock:
                conflicts.append(str(e))

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    # log integrity: gapless versions, snapshot resolves, reads work
    snap = tx_snapshot(t)
    versions = [h["version"] for h in tx_history(t)]
    assert versions == list(range(len(versions)))
    out = tx_read(spark, t)
    n = out.count()
    # accounting: initial 400 + successful appends − successful deletes
    assert n == 400 + sum(appended) - sum(deleted), (
        n, appended, deleted, conflicts
    )
    # every surviving row readable; updates (if they won) touched ≤5 rows each
    assert out.filter("touch > 1").count() == 0
    # DV'd positions never resurrect through any files left by losers
    if deleted and sum(deleted):
        assert out.filter("id >= 30 AND id < 40").count() in (0, 10)


def test_prune_ops_in_isnull_notnull(spark, tmp_path):
    """Extended predicate language: `in` (conjunction of = proofs, exact
    on partitions), `is_null` (footer null_count / NULL-partition aware —
    an all-null file MATCHES and must not skip), `not_null`."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune

    # flat table clustered on id: `in` prunes via footer stats
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, None if i < 50 else f"v{i}") for i in range(200)],
        "id int, val string",
    )
    tx_append(df.repartitionByRange(4, "id").sortWithinPartitions("id"), t)
    kept, skipped = tx_prune(t, [("id", "in", [3, 7, 199])])
    assert skipped and len(kept) == 2  # first and last range files
    got = tx_read(spark, t, predicate=[("id", "in", [3, 7, 199])])
    assert sorted(r["id"] for r in got.collect()) == [3, 7, 199]
    # NULL member never matches (3VL) and doesn't break pruning
    got2 = tx_read(spark, t, predicate=[("id", "in", [3, None])])
    assert [r["id"] for r in got2.collect()] == [3]
    # empty IN-list: everything prunes, zero rows
    kept3, skipped3 = tx_prune(t, [("id", "in", [])])
    assert not kept3
    assert tx_read(spark, t, predicate=[("id", "in", [])]).count() == 0

    # is_null / not_null via footer null_count: ids < 50 are the all-null
    # val rows and live in the first range file
    kept4, _ = tx_prune(t, [("val", "is_null", None)])
    assert len(kept4) >= 1 and len(kept4) < 4
    assert (
        tx_read(spark, t, predicate=[("val", "is_null", None)]).count() == 50
    )
    assert (
        tx_read(spark, t, predicate=[("val", "not_null", None)]).count() == 150
    )

    # partitioned: NULL partition answers both exactly
    t2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2)), (3, None)],
        "id int, d date",
    )
    tx_append(df2.repartition(3, "d"), t2, partition_by=["d"])
    k_null, s_null = tx_prune(t2, [("d", "is_null", None)])
    assert len(k_null) == 1  # only the __HIVE_DEFAULT_PARTITION__ file
    assert tx_read(spark, t2, predicate=[("d", "is_null", None)]).count() == 1
    assert tx_read(spark, t2, predicate=[("d", "not_null", None)]).count() == 2
    k_in, _ = tx_prune(
        t2, [("d", "in", [dt.date(2024, 1, 1), dt.date(2024, 1, 2)])]
    )
    assert len(k_in) == 2


def test_doctor_is_read_only(spark, tmp_path, capsys):
    """`doctor` only reports. On a log table carrying every state it
    inspects — deletion vectors, a checkpoint, log entries below the
    retention floor, write debris a `tx vacuum` would sweep — a run leaves
    the table's file listing, `_txn_log` included, byte-for-byte
    unchanged."""
    import hashlib

    from weather_data_warehouse_aws_spark.__main__ import main
    from weather_data_warehouse_aws_spark.operators.txlog import tx_delete_where

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(100)).repartition(4), t)
    for k in range(CHECKPOINT_INTERVAL):
        tx_append(_mk(spark, [1000 + k]), t)
    tx_delete_where(spark, t, "id < 10")
    tx_vacuum(t, retain_versions=1)
    os.makedirs(os.path.join(t, "_temporary", "0"))
    open(os.path.join(t, "part-junk.parquet"), "w").close()

    def listing():
        roots = [str(tmp_path)]
        bucket = getattr(get_data_store(t), "bucket", None)
        if bucket:
            roots.append(bucket)
        out = {}
        for root in roots:
            for d, dirs, names in os.walk(root):
                out.update({os.path.join(d, n): None for n in dirs})
                for n in names:
                    with open(os.path.join(d, n), "rb") as fh:
                        out[os.path.join(d, n)] = hashlib.sha256(
                            fh.read()).hexdigest()
        return out

    before = listing()
    assert any("_txn_log" in p for p in before)
    assert main(["doctor", "--table", t, "--skew-col", "id"]) == 0
    out = capsys.readouterr().out
    assert "logically-deleted row(s)" in out
    assert "below the retention floor" in out
    assert listing() == before


def test_doctor_reports_dv_debt_and_compaction_clears_it(spark, tmp_path, capsys):
    """`doctor` surfaces deletion-vector accumulation (how many live rows
    every scan's DV anti-join must filter) and recommends `tx compact`
    past the threshold; compaction materializes the deletes and the
    recommendation disappears."""
    from weather_data_warehouse_aws_spark.__main__ import main
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_compact,
        tx_delete_where,
        tx_dv_stats,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 10) for i in range(1000)], "id int, g int"
    )
    tx_append(df.repartition(4), t)
    tx_delete_where(spark, t, "g = 3")   # 100 rows -> DVs
    tx_delete_where(spark, t, "id < 50 AND g = 7")  # 5 more, second DV gen

    dv = tx_dv_stats(t)
    assert dv["rows_deleted"] == 105
    assert dv["rows_physical"] == 1000
    assert dv["deleted_pct"] == 0.105
    assert dv["files_with_dvs"] == 4 and dv["files_total"] == 4
    assert dv["dv_files"] >= 2
    assert dv["recommend_compact"]
    assert sum(n for _, n, _ in dv["worst_files"]) == 105
    for _rel, ndel, nrows in dv["worst_files"]:
        assert 0 < ndel <= nrows

    assert main(["doctor", "--table", t]) == 0
    out = capsys.readouterr().out
    assert "105 logically-deleted row(s)" in out
    assert "RECOMMEND: tx compact" in out
    # the txtable-source census rides the same report (round-8): a
    # healthy table is fully on the Arrow fast path
    assert "4/4 probed file(s) take the Arrow fast path" in out
    # the pruning surface lists per-column bound coverage (round 9)
    assert "prunable bounds: g:4/4, id:4/4" in out

    tx_compact(spark, t, target_files=2)
    dv2 = tx_dv_stats(t)
    assert dv2["rows_deleted"] == 0 and dv2["dv_files"] == 0
    assert not dv2["recommend_compact"]
    assert tx_read(spark, t).count() == 895
    assert main(["doctor", "--table", t]) == 0
    out = capsys.readouterr().out
    assert "0 logically-deleted row(s)" in out
    assert "RECOMMEND" not in out


def test_serializable_isolation_conflicts_with_concurrent_appends(spark, tmp_path):
    """Default isolation is snapshot-ordering: rows appended between a
    row-op's candidate scan and its commit survive even when they match
    the predicate (write skew, documented). isolation="serializable"
    gets Delta's ConcurrentAppendException instead — unless the
    concurrent add is PROVABLY outside the prune region, in which case
    it commits fine."""
    from unittest import mock

    from weather_data_warehouse_aws_spark.operators import txlog as TX

    def _racing(t, race_df, **race_kw):
        """Patch _commit so the first delete commit is preceded by a
        concurrent append — the landed rows postdate the scan."""
        real_commit = TX._commit
        state = {"fired": False}

        def _race(path, op, build, **kw):
            if op == "delete" and not state["fired"]:
                state["fired"] = True
                TX.tx_append(race_df, t, **race_kw)
            return real_commit(path, op, build, **kw)

        return mock.patch.object(TX, "_commit", _race)

    df = spark.createDataFrame([(i, i % 4) for i in range(40)], "id int, g int")

    # snapshot (default): append slips through, its matching rows survive
    t1 = str(tmp_path / "snap")
    tx_append(df, t1)
    with _racing(t1, df.filter("g = 1").selectExpr("id + 100 as id", "g")):
        res = TX.tx_delete_where(spark, t1, "g = 1")
    assert res["rows_deleted"] == 10
    assert tx_read(spark, t1).filter("g = 1").count() == 10  # the racers

    # serializable: the same race raises TxConflict
    t2 = str(tmp_path / "ser")
    tx_append(df, t2)
    with _racing(t2, df.filter("g = 1").selectExpr("id + 100 as id", "g")):
        with pytest.raises(TxConflict, match="appended concurrently"):
            TX.tx_delete_where(spark, t2, "g = 1", isolation="serializable")
    # nothing committed by the loser; the racer's append is intact
    assert tx_read(spark, t2).count() == 50

    # serializable + prune: an add PROVABLY outside the region commits
    t3 = str(tmp_path / "ser_ok")
    tx_append(df, t3, partition_by=["g"])
    with _racing(t3, df.filter("g = 3").limit(5)):
        res3 = TX.tx_delete_where(
            spark, t3, "g = 1", prune=[("g", "=", 1)],
            isolation="serializable",
        )
    assert res3["rows_deleted"] == 10  # g=3 add is provably disjoint
    assert tx_read(spark, t3).filter("g = 3").count() == 15

    # bad isolation value fails fast
    with pytest.raises(ValueError, match="isolation"):
        TX.tx_delete_where(spark, t3, "g = 0", isolation="chaos")


def test_manifest_export_reads_exactly_one_generation(spark, tmp_path):
    """External engines can't glob a tx table once it has history — dead
    (removed-but-unvacuumed) files read as duplicates. tx_write_manifest
    exports the live set (the Delta symlink-manifest pattern); DuckDB
    over the manifest must equal tx_read exactly while the naive glob
    over-counts, and a DV-bearing table refuses to export (a manifest
    reader has no anti-join to apply)."""
    import duckdb

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_compact,
        tx_delete_where,
        tx_replace_where,
        tx_write_manifest,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, ["d1", "d2"][i % 2], float(i)) for i in range(40)],
        "id int, day string, v double",
    )
    tx_append(df, t, partition_by=["day"])
    # create HISTORY: replace day=d1 with halved rows → dead files on disk
    repl = df.filter("day = 'd1' AND id < 20").withColumn("v", F.col("v") * 10)
    tx_replace_where(spark, t, repl, "day = 'd1'", partition_by=["day"])

    manifest = tx_write_manifest(t)
    files = [ln.strip() for ln in open(manifest) if ln.strip()]
    con = duckdb.connect()
    via_manifest = con.execute(
        "SELECT count(*), sum(v) FROM read_parquet($f, hive_partitioning=1)",
        {"f": files},
    ).fetchone()
    want = tx_read(spark, t).selectExpr("count(*)", "sum(v)").collect()[0]
    assert via_manifest[0] == want[0]
    assert abs(via_manifest[1] - want[1]) < 1e-9
    # the naive glob reads the dead generation too
    via_glob = con.execute(
        f"SELECT count(*) FROM read_parquet('{_data_root(t)}/**/*.parquet', "
        "hive_partitioning=1)"
    ).fetchone()
    assert via_glob[0] > want[0]

    # DV-bearing live files refuse to export; compaction re-enables it
    tx_delete_where(spark, t, "id = 2")
    with pytest.raises(ValueError, match="deletion vectors"):
        tx_write_manifest(t)
    tx_compact(spark, t, target_files=2)
    manifest2 = tx_write_manifest(t)
    files2 = [ln.strip() for ln in open(manifest2) if ln.strip()]
    n2 = con.execute(
        "SELECT count(*) FROM read_parquet($f, hive_partitioning=1)",
        {"f": files2},
    ).fetchone()[0]
    assert n2 == tx_read(spark, t).count() == want[0] - 1

    from weather_data_warehouse_aws_spark.__main__ import main

    assert main(["tx", "manifest", "--table", t]) == 0


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path, capsys):
    """Delta-style CHECK constraints: versioned log state enforced inline
    on every write path's scan. Existing rows validate at SET time; a
    violating write aborts BEFORE anything commits; NULL predicate
    results PASS (SQL CHECK 3VL); drop re-opens the gate; constraints
    survive checkpoints and time travel sees its version's map."""
    from pyspark.errors import PySparkException

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_drop_constraint,
        tx_merge,
        tx_replace_where,
        tx_set_constraint,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), "d1") for i in range(10)], "id int, v double, day string"
    )
    tx_append(df, t, partition_by=["day"])

    # existing rows violate -> refused, nothing committed
    with pytest.raises(ValueError, match="existing rows violate"):
        tx_set_constraint(spark, t, "v_small", "v < 5.0")
    assert "constraints" not in {
        k for h in tx_history(t) for k in h["meta"]
    }

    v_set = tx_set_constraint(spark, t, "v_nonneg", "v >= 0.0")
    assert tx_snapshot(t)["constraints"] == {"v_nonneg": "v >= 0.0"}

    ok = spark.createDataFrame([(100, 1.0, "d1")], "id int, v double, day string")
    bad = spark.createDataFrame([(101, -1.0, "d1")], "id int, v double, day string")
    nulls = spark.createDataFrame(
        [(102, None, "d1")], "id int, v double, day string"
    )

    tx_append(ok, t)                      # passes
    tx_append(nulls, t)                   # NULL passes (SQL CHECK)
    n_before = tx_read(spark, t).count()
    v_before = tx_snapshot(t)["version"]
    for blocked in (
        lambda: tx_append(bad, t),
        lambda: tx_overwrite(bad, t),
        lambda: tx_replace_where(
            spark, t, bad, "day = 'd1'", partition_by=["day"]
        ),
        lambda: tx_update_where(spark, t, "id = 100", {"v": "-5.0"}),
        lambda: tx_merge(spark, t, bad, ["id"]),
    ):
        with pytest.raises(PySparkException, match="v_nonneg"):
            blocked()
        assert tx_snapshot(t)["version"] == v_before, "nothing committed"
        assert tx_read(spark, t).count() == n_before

    # a second constraint composes; updates satisfying both pass
    tx_set_constraint(spark, t, "id_pos", "id >= 0")
    tx_update_where(spark, t, "id = 100", {"v": "7.5"})
    assert tx_read(spark, t).filter("id = 100 AND v = 7.5").count() == 1

    # drop -> the gate opens
    tx_drop_constraint(t, "v_nonneg")
    tx_append(bad, t)
    assert tx_read(spark, t).filter("v < 0").count() == 1
    with pytest.raises(ValueError, match="no constraint named"):
        tx_drop_constraint(t, "v_nonneg")

    # time travel sees the version's constraint map
    assert tx_snapshot(t, version=v_set)["constraints"] == {
        "v_nonneg": "v >= 0.0"
    }
    assert tx_snapshot(t)["constraints"] == {"id_pos": "id >= 0"}

    # survives a checkpoint (fold + replay-from-checkpoint)
    one = spark.createDataFrame([(200, 1.0, "d1")], "id int, v double, day string")
    from weather_data_warehouse_aws_spark.operators.txlog import (
        CHECKPOINT_INTERVAL,
    )
    for _ in range(CHECKPOINT_INTERVAL + 1):
        tx_append(one, t)
    assert tx_snapshot(t)["constraints"] == {"id_pos": "id >= 0"}

    # CLI surface
    from weather_data_warehouse_aws_spark.__main__ import main

    assert main(["tx", "set-constraint", "--table", t,
                 "--name", "day_known", "--expr", "day in ('d1','d2')"]) == 0
    assert "day_known set" in capsys.readouterr().out
    assert main(["tx", "drop-constraint", "--table", t,
                 "--name", "day_known"]) == 0


def test_tx_optimize_acts_on_doctor_signals(spark, tmp_path, capsys):
    """tx_optimize is OPTIMIZE-on-a-schedule: compacts only when DV debt
    or small-file pressure says so (a healthy run is a metadata-only
    no-op), refreshes an exported manifest to the new generation, and
    leaves a below-threshold-DV manifest at its prior consistent
    generation rather than failing."""
    from weather_data_warehouse_aws_spark.__main__ import main
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_optimize,
        tx_write_manifest,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 5) for i in range(1000)], "id int, g int")
    tx_append(df.repartition(2), t)

    # healthy: no-op, no new commit
    v0 = tx_snapshot(t)["version"]
    res = tx_optimize(spark, t, target_files=2)
    assert res["compacted"] is None and "healthy" in res["reason"]
    assert tx_snapshot(t)["version"] == v0

    # small-file pressure: 2 + 16 appends > 4x target(2)
    for i in range(16):
        tx_append(df.limit(1), t)
    res = tx_optimize(spark, t, target_files=2)
    assert res["compacted"] is not None and "files >" in res["reason"]
    assert len(tx_snapshot(t)["files"]) <= 2
    assert tx_read(spark, t).count() == 1016

    # DV debt: delete 20% then optimize -> compacts, manifest refreshes
    tx_write_manifest(t)
    tx_delete_where(spark, t, "g = 0")
    res = tx_optimize(spark, t, target_files=2, dv_threshold=0.05)
    assert res["compacted"] is not None and "dv debt" in res["reason"]
    assert res["manifest"] is not None
    files = [ln.strip() for ln in open(res["manifest"]) if ln.strip()]
    import duckdb

    n = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet($f)", {"f": files}
    ).fetchone()[0]
    assert n == tx_read(spark, t).count()

    # below-threshold DVs: manifest stays at its prior generation
    tx_delete_where(spark, t, "id = 1")
    stale = open(res["manifest"]).read()
    res2 = tx_optimize(spark, t, target_files=2, dv_threshold=0.5)
    assert res2["compacted"] is None
    assert "prior generation" in res2["reason"]
    assert open(_data_path(t, "_manifest/files.txt")).read() == stale

    # CLI
    assert main(["tx", "optimize", "--table", t]) == 0
    out = capsys.readouterr().out
    assert "optimize:" in out


def test_set_constraint_conflicts_with_concurrent_unvalidated_append(spark, tmp_path):
    """The SET commit must cover only the state its validation scan saw:
    a write landing in between was never checked and could smuggle
    violating rows under the brand-new constraint — TxConflict, re-run."""
    from unittest import mock

    from weather_data_warehouse_aws_spark.operators import txlog as TX

    t = str(tmp_path / "t")
    tx_append(spark.createDataFrame([(1, 1.0)], "id int, v double"), t)
    bad = spark.createDataFrame([(2, -1.0)], "id int, v double")

    real_commit = TX._commit
    state = {"fired": False}

    def _race(path, op, build, **kw):
        if op == "set_constraint" and not state["fired"]:
            state["fired"] = True
            TX.tx_append(bad, t)  # lands AFTER the validation scan
        return real_commit(path, op, build, **kw)

    with mock.patch.object(TX, "_commit", _race):
        with pytest.raises(TxConflict, match="validation scan"):
            TX.tx_set_constraint(spark, t, "v_nonneg", "v >= 0.0")
    assert "v_nonneg" not in (tx_snapshot(t)["constraints"] or {})
    # the re-run validates the new state and (rightly) refuses
    with pytest.raises(ValueError, match="existing rows violate"):
        TX.tx_set_constraint(spark, t, "v_nonneg", "v >= 0.0")


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path, capsys):
    """Vacuum is the format's one irreversible op; dry_run must report the
    exact plan (horizon + file list) while committing nothing, deleting
    nothing, and leaving time travel intact — then the real run deletes
    exactly what the dry run named."""
    from weather_data_warehouse_aws_spark.__main__ import main

    t = str(tmp_path / "t")
    for i in range(3):
        tx_append(_mk(spark, range(i * 5, i * 5 + 5)), t)
    pre = tx_snapshot(t)
    tx_compact(spark, t, target_files=1)

    dry = tx_vacuum(t, retain_versions=1, dry_run=True)
    assert dry["version"] is None and dry["dry_run"]
    assert sorted(dry["deleted"]) == pre["files"]
    # nothing happened: no vacuum commit, files on disk, time travel OK
    assert [h["op"] for h in tx_history(t)].count("vacuum") == 0
    for f in pre["files"]:
        assert _data_exists(t, f)
    assert _ids(tx_read(spark, t, version=pre["version"])) == list(range(15))

    assert main(["tx", "vacuum", "--table", t, "--dry-run"]) == 0
    assert f"would delete {len(pre['files'])} file(s)" in capsys.readouterr().out

    real = tx_vacuum(t, retain_versions=1)
    assert sorted(real["deleted"]) == sorted(dry["deleted"])
    assert real["horizon"] == dry["horizon"]
    for f in pre["files"]:
        assert not _data_exists(t, f)


import hypothesis.strategies as _st
from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _settings

_dv_ops = _st.lists(
    _st.one_of(
        _st.tuples(_st.just("append"),
                   _st.lists(_st.integers(0, 30), min_size=1, max_size=8,
                             unique=True)),
        _st.tuples(_st.just("delete"), _st.integers(0, 30)),
        _st.tuples(_st.just("update"), _st.integers(0, 30)),
        _st.tuples(_st.just("compact"), _st.just(0)),
    ),
    min_size=1,
    max_size=8,
)


@_given(ops=_dv_ops)
@_settings(
    max_examples=6, deadline=None,
    suppress_health_check=[_HC.too_slow, _HC.function_scoped_fixture],
)
def test_dv_op_sequences_match_python_model(spark, tmp_path_factory, ops):
    """Model-based fuzz of the merge-on-read machinery: random sequences
    of append / delete_where / update_where / compact against a plain
    Python multiset model — tx_read must equal the model after EVERY op,
    and every pre-op version must stay time-travelable to its own model
    state. This is the strongest guarantee we can state for DV
    composition (DVs stacking on DVs, updates over deletes, compaction
    materializing everything)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_compact,
        tx_delete_where,
        tx_exists,
        tx_update_where,
    )

    t = str(tmp_path_factory.mktemp("dvfz")) + "/t"
    model: dict[int, int] = {}   # id -> bump count (v = id + 10*bumps)
    seq = 0
    history = []  # (version, model snapshot) after each committing op

    def rows():
        return sorted((k, k + 10 * b) for k, b in model.items())

    for kind, arg in ops:
        if kind == "append":
            seq += 1
            df = spark.createDataFrame(
                [(i + 100 * seq, float(i + 100 * seq)) for i in arg],
                "id int, v double",
            )
            tx_append(df, t)
            for i in arg:
                model[i + 100 * seq] = 0
        elif kind == "delete":
            if not tx_exists(t):
                continue
            lo = arg * 10
            tx_delete_where(spark, t, f"id % 1000 >= {lo} AND id % 1000 < {lo + 10}")
            model = {
                k: b for k, b in model.items()
                if not (lo <= k % 1000 < lo + 10)
            }
        elif kind == "update":
            if not tx_exists(t):
                continue
            tx_update_where(spark, t, f"id % 7 = {arg % 7}", {"v": "v + 10.0"})
            for k in model:
                if k % 7 == arg % 7:
                    model[k] += 1
        elif kind == "compact":
            if not tx_exists(t):
                continue
            tx_compact(spark, t, target_files=2)
        if tx_exists(t):
            got = sorted(
                (r.id, r.v) for r in tx_read(spark, t).collect()
            )
            want = [(k, float(k + 10 * b)) for k, b in sorted(model.items())]
            assert got == want, f"after {kind}({arg})"
            history.append((tx_snapshot(t)["version"], dict(model)))

    # every recorded version time-travels to its own model state
    for v, m in history:
        got = sorted((r.id, r.v) for r in tx_read(spark, t, version=v).collect())
        assert got == [(k, float(k + 10 * b)) for k, b in sorted(m.items())]


def test_bucket_store_table_root_never_holds_data(
    spark, tmp_path, data_store_mode
):
    """The seam proof, stated directly: under the bucket store a full
    workout of the format — plain + partitioned appends, DV delete,
    update, merge, compact, erase, restore, manifest export, vacuum with
    orphan sweep — leaves the TABLE ROOT holding only `_txn_log`. Any
    data byte under the root means some code path bypassed the
    DataStore."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_merge,
        tx_restore,
        tx_update_where,
        tx_write_manifest,
    )

    def no_data_under_root(t):
        hits = []
        for dirpath, dirs, names in os.walk(t):
            dirs[:] = [d for d in dirs if d != "_txn_log"]
            hits += [os.path.join(dirpath, n) for n in names
                     if n.endswith(".parquet") or n == "files.txt"]
        return hits

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(20)).repartition(2), t)
    tx_delete_where(spark, t, "id < 3")
    tx_update_where(spark, t, "id = 5", {"val": "'bumped'"})
    tx_merge(
        spark, t,
        spark.createDataFrame([Row(id=19, val="merged"), Row(id=50, val="new")]),
        ["id"],
    )
    pre_compact = tx_snapshot(t)["version"]
    tx_compact(spark, t, target_files=1)
    tx_erase_keys(spark, t, "id", [7])
    tx_restore(t, pre_compact)
    tx_compact(spark, t, target_files=1)  # materialize again post-restore
    manifest = tx_write_manifest(t)
    assert open(manifest).read().strip(), "manifest exported"
    tx_vacuum(t, retain_versions=1, include_orphans=True)

    got = sorted(r["id"] for r in tx_read(spark, t).collect())
    assert got == sorted(set(range(3, 20)) | {50})

    if data_store_mode == "bucket":
        assert no_data_under_root(t) == [], (
            "a code path bypassed the DataStore seam"
        )
        assert os.path.isdir(os.path.join(t, "_txn_log"))
    else:
        assert no_data_under_root(t), "local store keeps data in-root"


def test_hive_partitioned_row_ops_through_bucket_store(
    spark, tmp_path, data_store_mode
):
    """Partition-value recovery, URL-encodable partition values, and the
    __tx_rel derivation (scan_uri_root contract) all survive the store
    swap — the row-level ops address files by log-relative path, which
    must round-trip through whatever URI scheme the store scans under."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
    )

    df = spark.createDataFrame(
        [(i, ["New York", "Ulan Bator"][i % 2], float(i)) for i in range(12)],
        "id int, city string, v double",
    )
    t = str(tmp_path / "t")
    tx_append(df, t, partition_by=["city"])
    res = tx_delete_where(
        spark, t, "id < 4", prune=[("city", "=", "New York")],
    )
    assert res["rows_deleted"] == 2  # ids 0, 2 in New York
    out = tx_read(spark, t)
    assert out.count() == 10
    assert {r["city"] for r in out.collect()} == {"New York", "Ulan Bator"}
    # erase rewrites only the hit partition's files, through the store
    tx_erase_keys(spark, t, "id", [1])
    assert tx_read(spark, t).count() == 9


# ------------------------------------------------------------- log retention
def _log_entries(t: str) -> list[str]:
    from weather_data_warehouse_aws_spark.operators.txlog import (
        _log_dir,
        get_log_store,
    )

    return get_log_store(t).list(_log_dir(t))


def test_cleanup_log_bounds_list_and_keeps_reads(spark, tmp_path):
    """tx_cleanup_log deletes commit/checkpoint JSONs below the newest
    checkpoint at-or-below the vacuum horizon — the _txn_log LIST stops
    growing with table age — while every version within the time-travel
    covenant ([horizon, latest]) reads byte-identically, reads below the
    horizon still fail with the vacuum message (not FileNotFound), and
    the change feed over the surviving range is intact."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        CHECKPOINT_INTERVAL,
        tx_changes,
        tx_cleanup_log,
        tx_history,
        tx_vacuum,
    )

    t = str(tmp_path / "t")
    n = 2 * CHECKPOINT_INTERVAL + 5  # versions 0..24: checkpoints at 10, 20
    for i in range(n):
        tx_append(_mk(spark, [i]).coalesce(1), t)
    tx_vacuum(t, retain_versions=5)  # vacuum commit = v25, horizon = 20
    snap = tx_snapshot(t)
    assert snap["horizon"] == 2 * CHECKPOINT_INTERVAL

    before = _log_entries(t)
    pre_latest = sorted(r["id"] for r in tx_read(spark, t).collect())
    pre_at_floor = sorted(
        r["id"] for r in tx_read(spark, t, version=snap["horizon"]).collect()
    )

    plan = tx_cleanup_log(t, dry_run=True)
    assert plan["dry_run"] and _log_entries(t) == before  # dry run touches nothing
    res = tx_cleanup_log(t)
    assert res["floor"] == 2 * CHECKPOINT_INTERVAL
    assert res["deleted_commits"] == 2 * CHECKPOINT_INTERVAL  # v0..v19
    assert res["deleted_checkpoints"] == 1  # the v10 checkpoint
    assert (plan["deleted_commits"], plan["deleted_checkpoints"]) == (
        res["deleted_commits"], res["deleted_checkpoints"],
    )

    after = _log_entries(t)
    assert len(after) == len(before) - res["deleted_commits"] - 1
    assert min(int(name.split(".")[0]) for name in after) == res["floor"]

    # the covenant: latest and every version >= horizon read unchanged
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == pre_latest
    assert sorted(
        r["id"] for r in tx_read(spark, t, version=snap["horizon"]).collect()
    ) == pre_at_floor
    with pytest.raises(ValueError, match="vacuumed"):
        tx_read(spark, t, version=snap["horizon"] - 1)

    # history starts at the floor; the change feed over the surviving
    # range still transforms horizon -> latest exactly
    hist = tx_history(t)
    assert hist[0]["version"] == res["floor"]
    feed = tx_changes(spark, t, from_version=snap["horizon"])
    inserts = sorted(
        r["id"] for r in feed.collect() if r["_change_type"] == "insert"
    )
    # the feed covers commits in (horizon, latest]; the horizon version's
    # own rows belong to the starting snapshot, not the delta
    assert inserts == list(range(2 * CHECKPOINT_INTERVAL + 1, n))

    # idempotent: a second cleanup finds nothing below the floor
    again = tx_cleanup_log(t)
    assert (again["deleted_commits"], again["deleted_checkpoints"]) == (0, 0)

    # and the table stays writable/checkpointable past the cleanup
    tx_append(_mk(spark, [999]).coalesce(1), t)
    assert 999 in {r["id"] for r in tx_read(spark, t).collect()}


def test_cleanup_log_refuses_without_safe_floor(spark, tmp_path):
    """No committed vacuum horizon (or no checkpoint at-or-below it) =
    nothing is safely deletable: every commit may still be needed for
    replay. Cleanup must return an empty plan, not guess."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_cleanup_log,
    )

    t = str(tmp_path / "t")
    for i in range(12):  # a checkpoint exists (v10) but horizon is 0
        tx_append(_mk(spark, [i]).coalesce(1), t)
    before = _log_entries(t)
    res = tx_cleanup_log(t)
    assert res["floor"] is None
    assert (res["deleted_commits"], res["deleted_checkpoints"]) == (0, 0)
    assert _log_entries(t) == before


def test_vacuum_orphan_sweep_after_cleanup_keeps_live_files(
    spark, tmp_path, data_store_mode
):
    """The add-commits for still-live old files may be deleted by log
    retention; an include_orphans vacuum afterwards must seed the
    referenced set from the surviving checkpoint — never sweeping a live
    file it can no longer see an `add` for."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        CHECKPOINT_INTERVAL,
        tx_cleanup_log,
        tx_vacuum,
    )

    t = str(tmp_path / "t")
    # v0's files stay live across the whole history (appends never remove)
    for i in range(2 * CHECKPOINT_INTERVAL + 1):
        tx_append(_mk(spark, [i]).coalesce(1), t)
    tx_vacuum(t, retain_versions=1)  # horizon = latest (20); floor cp = 20
    res = tx_cleanup_log(t)
    assert res["deleted_commits"] > 0

    expect = sorted(
        r["id"] for r in tx_read(spark, t).collect()
    )
    swept = tx_vacuum(t, retain_versions=1, include_orphans=True)
    assert swept["deleted"] == []  # nothing live is "orphaned" by cleanup
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == expect


# ------------------------------------------------------------ column mapping
def test_rename_column_without_rewrite(spark, tmp_path):
    """tx_rename_column is metadata-only: a multi-file table renames in
    one commit with every data file byte-identical (mtimes untouched);
    reads, predicates, and footer-stats pruning work under the NEW name;
    time travel below the commit shows the OLD name; later appends write
    the original physical name so old and new files stay one column."""
    import datetime as _dt

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_prune,
        tx_rename_column,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(5)).coalesce(1), t)        # v0: ids 0..4
    tx_append(_mk(spark, range(100, 105)).coalesce(1), t)  # v1: ids 100..104
    snap0 = tx_snapshot(t)
    mtimes = {
        r: os.path.getmtime(_data_path(t, r)) for r in snap0["files"]
    }

    v = tx_rename_column(t, "id", "ident")
    assert v == 2

    snap = tx_snapshot(t)
    assert snap["files"] == snap0["files"]  # no file added or removed
    assert snap["column_map"] == {"ident": "id"}
    for r, m in mtimes.items():
        assert os.path.getmtime(_data_path(t, r)) == m  # bytes untouched

    out = tx_read(spark, t)
    assert set(out.columns) == {"ident", "val"}
    assert sorted(r["ident"] for r in out.collect()) == (
        list(range(5)) + list(range(100, 105))
    )

    # footer-stats pruning under the NEW name: the high file is skipped
    kept, skipped = tx_prune(t, [("ident", "<=", 4)])
    assert len(kept) == 1 and len(skipped) == 1
    got = tx_read(spark, t, predicate=[("ident", "<=", 4)])
    assert sorted(r["ident"] for r in got.collect()) == list(range(5))

    # time travel below the rename shows the OLD name and same values
    old = tx_read(spark, t, version=1)
    assert set(old.columns) == {"id", "val"}
    assert sorted(r["id"] for r in old.collect()) == (
        list(range(5)) + list(range(100, 105))
    )

    # appends after the rename use LOGICAL names; the new file carries the
    # original PHYSICAL name, so both eras read as one column and pruning
    # proofs hold across them
    tx_append(
        spark.createDataFrame(
            [(200, "v200")], "ident long, val string"
        ).coalesce(1),
        t,
    )
    allrows = tx_read(spark, t)
    assert sorted(r["ident"] for r in allrows.collect()) == (
        list(range(5)) + list(range(100, 105)) + [200]
    )
    kept2, skipped2 = tx_prune(t, [("ident", ">=", 200)])
    assert len(kept2) == 1 and len(skipped2) == 2

    # chained rename keeps pointing at the original physical name;
    # renaming BACK to the physical name restores the identity map
    tx_rename_column(t, "ident", "key")
    assert tx_snapshot(t)["column_map"] == {"key": "id"}
    tx_rename_column(t, "key", "id")
    assert tx_snapshot(t)["column_map"] == {}
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == (
        list(range(5)) + list(range(100, 105)) + [200]
    )


def test_rename_column_validations(spark, tmp_path):
    import datetime as _dt

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_rename_column,
        tx_set_constraint,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, _dt.date(2024, 1, 1 + i % 2), f"v{i}") for i in range(6)],
        "id int, d date, val string",
    )
    tx_append(df, t, partition_by=["d"])
    with pytest.raises(ValueError, match="partition columns"):
        tx_rename_column(t, "d", "day")
    with pytest.raises(ValueError, match="exists"):
        tx_rename_column(t, "id", "val")
    with pytest.raises(ValueError, match="no column"):
        tx_rename_column(t, "nope", "x")
    tx_set_constraint(spark, t, "id_pos", "id >= 0")
    with pytest.raises(ValueError, match="constraint.*id_pos"):
        tx_rename_column(t, "id", "ident")
    # after a rename, the OLD physical name stays reserved
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_drop_constraint,
    )

    tx_drop_constraint(t, "id_pos")
    tx_rename_column(t, "id", "ident")
    with pytest.raises(ValueError, match="PHYSICAL name"):
        tx_rename_column(t, "val", "id")


def test_drop_column_without_rewrite_and_resurrection_guard(spark, tmp_path):
    """tx_drop_column removes a column in one metadata commit: reads stop
    showing it, its bytes stay in old files but never resurrect through
    mergeSchema, time travel still shows it, a write reintroducing the
    name is refused, and tx_overwrite (a full rewrite) resets the
    mapping so the name returns to service."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_drop_column,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(4)).coalesce(1), t)   # id, val
    snap0 = tx_snapshot(t)
    v = tx_drop_column(t, "val")
    assert tx_snapshot(t)["files"] == snap0["files"]  # no rewrite

    out = tx_read(spark, t)
    assert out.columns == ["id"]
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3]
    # time travel below the drop still reads the column
    assert set(tx_read(spark, t, version=v - 1).columns) == {"id", "val"}

    # the physical name is poisoned until a rewrite: appends carrying it
    # would graft the old files' bytes onto the new column
    with pytest.raises(ValueError, match="dropped"):
        tx_append(_mk(spark, [9]).coalesce(1), t)  # _mk has id AND val
    tx_append(
        spark.createDataFrame([(7,)], "id long").coalesce(1), t
    )
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        0, 1, 2, 3, 7,
    ]

    # last-column and validation guards
    with pytest.raises(ValueError, match="last column"):
        tx_drop_column(t, "id")

    # tx_overwrite replaces every file -> mapping resets, name reusable
    tx_overwrite(_mk(spark, [1, 2]).coalesce(1), t)
    snap = tx_snapshot(t)
    assert snap["column_map"] == {} and snap["dropped_cols"] == []
    got = tx_read(spark, t)
    assert {r["val"] for r in got.collect()} == {"v1", "v2"}


def test_row_ops_and_cdc_under_renamed_column(spark, tmp_path):
    """The whole row-op surface runs in LOGICAL name space on a mapped
    table: delete/update/compact address the renamed column, rewrites
    keep writing the physical name, and the change feed emits logical
    columns for both pre- and post-rename eras."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_changes,
        tx_delete_where,
        tx_rename_column,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(10)).coalesce(1), t)      # v0
    tx_rename_column(t, "id", "ident")                    # v1
    tx_delete_where(spark, t, "ident >= 8")               # v2 (DV)
    res = tx_update_where(spark, t, "ident = 0", {"val": "'zero'"})
    assert res["rows_updated"] == 1
    got = {r["ident"]: r["val"] for r in tx_read(spark, t).collect()}
    assert sorted(got) == list(range(8))
    assert got[0] == "zero" and got[1] == "v1"

    tx_compact(spark, t, target_files=1)
    assert sorted(
        r["ident"] for r in tx_read(spark, t).collect()
    ) == list(range(8))

    # change feed spans both eras under the CURRENT logical schema
    feed = tx_changes(spark, t, from_version=0)
    assert "ident" in feed.columns and "id" not in feed.columns
    dels = sorted(
        r["ident"] for r in feed.collect()
        if r["_change_type"] == "delete" and r["_commit_version"] == 2
    )
    assert dels == [8, 9]


# --------------------------------------------------- data-plane crash fuzz
class _InjectedCrash(RuntimeError):
    pass


class FaultInjectingDataStore:
    """Delegating DataStore wrapper that dies at a chosen data-plane
    call — between df.write and the first publish ('list_stage'),
    mid-publish ('publish:<n>'), or after every publish but before the
    log commit ('discard_stage'). Every crash leaves only unreferenced
    garbage: the log never saw the op, so readers stay on the prior
    snapshot and vacuum(include_orphans) sweeps the debris — the same
    proof the LogStore fuzz gives the commit protocol, applied to the
    data plane."""

    def __init__(self, inner):
        self._inner = inner
        self.fault: str | None = None
        self._published = 0

    def arm(self, fault: str) -> None:
        self.fault = fault
        self._published = 0

    def _maybe_die(self, point: str) -> None:
        if self.fault == point:
            self.fault = None
            raise _InjectedCrash(point)

    def list_stage(self, stage_uri):
        self._maybe_die("list_stage")
        return self._inner.list_stage(stage_uri)

    def publish(self, table_root, stage_uri, staged_rel, rel):
        self._maybe_die(f"publish:{self._published}")
        self._published += 1
        return self._inner.publish(table_root, stage_uri, staged_rel, rel)

    def discard_stage(self, table_root, stage_uri):
        self._maybe_die("discard_stage")
        return self._inner.discard_stage(table_root, stage_uri)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_data_plane_crash_fuzz_reads_prior_snapshot_and_vacuums(
    spark, tmp_path, data_store_mode
):
    """For every write-op kind and every data-plane fault point: the
    crashed op is invisible (version and rows unchanged — the log is the
    source of truth, half-published files are unreferenced), an
    include_orphans vacuum returns the data keyspace to exactly the live
    set, and the op re-runs cleanly afterwards. Runs over BOTH stores
    (autouse fixture): rename-based and copy-based publish primitives
    must crash identically."""
    from weather_data_warehouse_aws_spark.operators import txlog as _tx
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_merge,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(8)).coalesce(1), t)
    tx_append(_mk(spark, range(100, 104)).coalesce(1), t)

    inner = get_data_store(t)
    store = FaultInjectingDataStore(inner)
    register_data_store(t, store)
    try:
        ops = {
            "append": lambda: tx_append(
                _mk(spark, [500]).coalesce(1), t
            ),
            "overwrite": lambda: tx_overwrite(
                _mk(spark, range(50, 55)).coalesce(1), t
            ),
            # ops run in dict order and each re-runs for real after its
            # fault round, so later ops must target rows the OVERWRITE
            # left behind (ids 50..54)
            "update": lambda: tx_update_where(
                spark, t, "id = 51", {"val": "'fifty-one'"}
            ),
            "compact": lambda: tx_compact(spark, t, target_files=1),
            "merge": lambda: tx_merge(
                spark, t,
                spark.createDataFrame(
                    [Row(id=52, val="merged"), Row(id=900, val="new")]
                ),
                ["id"],
            ),
        }
        faults = ["list_stage", "publish:0", "discard_stage"]
        for op_name, op in ops.items():
            for fault in faults:
                before = tx_snapshot(t)
                rows_before = sorted(
                    map(str, tx_read(spark, t).collect())
                )
                store.arm(fault)
                with pytest.raises(Exception) as exc:
                    op()
                assert "injected" in str(exc.value).lower() or isinstance(
                    exc.value, _InjectedCrash
                ), f"{op_name}/{fault}: unexpected {exc.value!r}"
                store.fault = None
                # the log never saw the op: same version, same rows
                after = tx_snapshot(t)
                assert after["version"] == before["version"], (
                    f"{op_name}/{fault} leaked a commit"
                )
                assert sorted(
                    map(str, tx_read(spark, t).collect())
                ) == rows_before, f"{op_name}/{fault} changed visible rows"
                # vacuum sweeps every stranded file and stage; afterwards
                # the data keyspace holds exactly the live set (+ DVs)
                tx_vacuum(t, retain_versions=1, include_orphans=True)
                snap = tx_snapshot(t)
                live = set(snap["files"]) | {
                    d for dvs in snap["dvs"].values() for d in dvs
                }
                assert set(store.list_files(t)) == live, (
                    f"{op_name}/{fault}: vacuum left debris"
                )
            # and the op itself still works after all that
            op()

        # a DV op (delete_where) writes through the store too: crash the
        # DV-file publish and prove the same invariants
        before = tx_snapshot(t)
        rows_before = sorted(map(str, tx_read(spark, t).collect()))
        store.arm("publish:0")
        with pytest.raises(Exception):
            tx_delete_where(spark, t, "id >= 900")
        store.fault = None
        assert tx_snapshot(t)["version"] == before["version"]
        assert sorted(map(str, tx_read(spark, t).collect())) == rows_before
        tx_vacuum(t, retain_versions=1, include_orphans=True)
        snap = tx_snapshot(t)
        live = set(snap["files"]) | {
            d for dvs in snap["dvs"].values() for d in dvs
        }
        assert set(store.list_files(t)) == live
        res = tx_delete_where(spark, t, "id >= 900")
        assert res["rows_deleted"] >= 1
    finally:
        _tx._DATA_STORES.pop(t, None)


def test_type_widening_on_append_without_rewrite(spark, tmp_path):
    """Appending at a WIDER numeric type (int->long, float->double) needs
    no rewrite: the commit records the widened schema, old narrow files
    stay byte-identical and upcast at scan under the pinned fallback
    (plain mergeSchema refuses width conflicts outright). A LATER
    narrow append records the live wider type, so its own files upcast
    too — one logical column across all eras, stats pruning intact."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_prune

    t = str(tmp_path / "t")
    tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(5)],
                              "id int, v float").coalesce(1),
        t,
    )
    snap0 = tx_snapshot(t)
    mtimes = {r: os.path.getmtime(_data_path(t, r)) for r in snap0["files"]}

    big = 1 << 40
    tx_append(
        spark.createDataFrame([(big, 1e300)], "id long, v double").coalesce(1),
        t,
    )
    snap = tx_snapshot(t)
    from pyspark.sql.types import StructType as _ST
    import json as _json

    logged = _ST.fromJson(_json.loads(snap["schema"]))
    assert [f.dataType.typeName() for f in logged.fields] == ["long", "double"]
    for r, m in mtimes.items():
        assert os.path.getmtime(_data_path(t, r)) == m  # no rewrite

    out = tx_read(spark, t)
    assert dict(out.dtypes) == {"id": "bigint", "v": "double"}
    assert sorted(r["id"] for r in out.collect()) == list(range(5)) + [big]
    assert max(r["v"] for r in out.collect()) == 1e300

    # stats pruning across the width eras
    kept, skipped = tx_prune(t, [("id", ">=", big)])
    assert len(kept) == 1 and len(skipped) == 1
    assert [r["id"] for r in
            tx_read(spark, t, predicate=[("id", ">=", big)]).collect()] == [big]

    # a narrow append AFTER the widening records the live wider type
    tx_append(
        spark.createDataFrame([(7, 7.0)], "id int, v float").coalesce(1), t
    )
    snap2 = tx_snapshot(t)
    logged2 = _ST.fromJson(_json.loads(snap2["schema"]))
    assert [f.dataType.typeName() for f in logged2.fields] == ["long", "double"]
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == (
        list(range(5)) + [7, big]
    )

    # time travel below the widening reads the narrow era natively
    v0 = tx_read(spark, t, version=0)
    assert dict(v0.dtypes) == {"id": "int", "v": "float"}

    # the txtable source casts per file to the declared (wide) schema —
    # options built via txtable_options so the store reaches the Python
    # source's planner/reader workers in bucket mode (they run in
    # separate processes and cannot see this process's registry)
    from weather_data_warehouse_aws_spark.sources.tx_source import (
        register_tx_source,
        txtable_options,
    )

    register_tx_source(spark)
    b = spark.read.format("txtable").options(**txtable_options(t)).load()
    assert sorted(r["id"] for r in b.collect()) == list(range(5)) + [7, big]

    # row ops still address one logical column across eras
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
    )

    res = tx_delete_where(spark, t, f"id = {big}")
    assert res["rows_deleted"] == 1
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == (
        list(range(5)) + [7]
    )

    # compact normalizes every file to the logged width (the mergeSchema
    # fast path returns) and values survive
    tx_compact(spark, t, target_files=1)
    out = tx_read(spark, t)
    assert dict(out.dtypes) == {"id": "bigint", "v": "double"}
    assert sorted(r["id"] for r in out.collect()) == list(range(5)) + [7]


def test_txtable_source_on_registered_store(spark, tmp_path, data_store_mode):
    """format('txtable') on a table whose DataStore is registered (not
    the local-FS default) — Python data sources plan and read in worker
    processes that cannot see the registry, so the store must travel in
    the options (`txtable_options`). Batch and stream both drain the
    bucket-backed table; in bucket mode the plain option spelling would
    silently fall back to local FS and find no files."""
    from weather_data_warehouse_aws_spark.sources.tx_source import (
        register_tx_source,
        txtable_options,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(4)).coalesce(1), t)
    tx_erase_keys(spark, t, "id", [1])

    register_tx_source(spark)
    opts = txtable_options(t)
    if data_store_mode == "bucket":
        assert "data_store" in opts  # the pickled store rode along

    b = spark.read.format("txtable").options(**opts).load()
    assert sorted(r["id"] for r in b.collect()) == [0, 2, 3]

    sink: list = []

    def _sink(batch_df, _bid):
        sink.extend((r["id"], r["_change_type"]) for r in batch_df.collect())

    q = (
        spark.readStream.format("txtable").options(**opts).load()
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(once=True).start()
    )
    q.awaitTermination()
    live: set = set()
    for i, kind in sink:
        live = (live - {i}) if kind == "delete" else (live | {i})
    assert live == {0, 2, 3}


def test_vacuum_retain_hours_caps_horizon(spark, tmp_path, monkeypatch):
    """retain_hours is a SAFETY bound over retain_versions: versions
    committed inside the window stay readable no matter how aggressive
    the version count is; a zero-width window changes nothing."""
    import time as _time

    from weather_data_warehouse_aws_spark.operators import txlog as _tx

    t = str(tmp_path / "t")
    real_time = _time.time
    # v0/v1 committed "two days ago", v2/v3 now
    monkeypatch.setattr(_tx.time, "time", lambda: real_time() - 172800.0)
    tx_append(_mk(spark, [0]).coalesce(1), t)
    tx_append(_mk(spark, [1]).coalesce(1), t)
    monkeypatch.setattr(_tx.time, "time", real_time)
    tx_append(_mk(spark, [2]).coalesce(1), t)
    tx_append(_mk(spark, [3]).coalesce(1), t)

    # 24h window: v2 is the oldest in-window commit — the horizon may not
    # pass it, so v2 stays time-travelable despite retain_versions=1
    plan = tx_vacuum(t, retain_versions=1, retain_hours=24, dry_run=True)
    assert plan["horizon"] == 2
    res = tx_vacuum(t, retain_versions=1, retain_hours=24)
    assert res["horizon"] == 2
    assert sorted(r["id"] for r in tx_read(spark, t, version=2).collect()) == [
        0, 1, 2,
    ]
    with pytest.raises(ValueError, match="vacuumed"):
        tx_read(spark, t, version=1)

    # zero-width window: pure version-based retention takes over
    res2 = tx_vacuum(t, retain_versions=1, retain_hours=0)
    assert res2["horizon"] == tx_snapshot(t)["version"] - 1


def test_column_mapping_survives_checkpoint_replay(spark, tmp_path):
    """column_map / dropped_cols are checkpoint-folded log state: once a
    checkpoint lands PAST the rename/drop commits, replay starts from the
    checkpoint and never re-reads them — the mapping must come from the
    checkpoint record itself (like constraints and partition_by)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        CHECKPOINT_INTERVAL,
        tx_drop_column,
        tx_rename_column,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, val string, x double"
    )
    tx_append(df.coalesce(1), t)              # v0
    tx_rename_column(t, "id", "ident")        # v1
    tx_drop_column(t, "x")                    # v2
    for i in range(CHECKPOINT_INTERVAL):      # v3..v12 — checkpoint at v10
        tx_append(
            spark.createDataFrame([(10 + i, f"b{i}")],
                                  "ident long, val string").coalesce(1),
            t,
        )
    snap = tx_snapshot(t)
    _, checkpoints = _tx._list_log(t)
    assert checkpoints and checkpoints[-1] > 2  # a checkpoint folded them
    cp = _tx._load_checkpoint(t, checkpoints[-1])
    assert cp["column_map"] == {"ident": "id"}
    assert cp["dropped_cols"] == ["x"]

    assert snap["column_map"] == {"ident": "id"}
    assert snap["dropped_cols"] == ["x"]
    out = tx_read(spark, t)
    assert set(out.columns) == {"ident", "val"}
    assert sorted(r["ident"] for r in out.collect()) == [1] + list(
        range(10, 10 + CHECKPOINT_INTERVAL)
    )


def test_timestamp_time_travel_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: tx_version_at resolves an instant to the newest
    commit at-or-before it, accepts epoch/ISO spellings, refuses
    pre-history instants, and applies Delta's monotonic adjustment when
    a writer's clock recorded an out-of-order commit timestamp."""
    import datetime as _dt

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_version_at,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(3)), t)        # v0
    tx_append(_mk(spark, range(3, 6)), t)     # v1
    tx_append(_mk(spark, range(6, 9)), t)     # v2
    ts = [h["ts"] for h in tx_history(t)]
    assert ts == sorted(ts) and len(set(ts)) == 3  # wall clock advanced

    # exact instant of a commit resolves to that commit
    assert tx_version_at(t, ts[1]) == 1
    # between two commits → the earlier one
    assert tx_version_at(t, (ts[1] + ts[2]) / 2) == 1
    # after the newest → the newest
    assert tx_version_at(t, ts[2] + 3600) == 2
    # ISO-8601 string (timezone-aware) and datetime spellings agree
    # (an instant strictly between v1 and v2 — the exact commit float
    # doesn't survive isoformat's microsecond truncation)
    mid_dt = _dt.datetime.fromtimestamp(
        (ts[1] + ts[2]) / 2, tz=_dt.timezone.utc
    )
    assert tx_version_at(t, mid_dt.isoformat()) == 1
    assert tx_version_at(t, mid_dt) == 1
    # before the first commit → explicit refusal
    with pytest.raises(ValueError, match="predates the oldest"):
        tx_version_at(t, ts[0] - 1.0)

    # tx_read plumbs as_of_ts through to the same snapshot
    assert _ids(tx_read(spark, t, as_of_ts=(ts[1] + ts[2]) / 2)) == list(
        range(6)
    )
    with pytest.raises(ValueError, match="not both"):
        tx_read(spark, t, version=1, as_of_ts=ts[1])
    with pytest.raises(ValueError, match="not both"):
        tx_snapshot(t, 1, as_of_ts=ts[1])

    # writer clock skew: v3's recorded ts is EARLIER than v2's — the
    # effective timestamp is adjusted up to v2's, so resolution stays
    # monotone (an instant never maps to a version whose effects were
    # not yet visible at that instant's resolved prefix)
    tx_append(_mk(spark, range(9, 12)), t)    # v3
    log = os.path.join(t, "_txn_log", f"{3:020d}.json")
    rec = json.load(open(log))
    rec["ts"] = ts[0] - 100.0
    with open(log, "w") as fh:
        json.dump(rec, fh)
    assert tx_version_at(t, ts[2]) == 3       # eff[3] == eff[2] == ts[2]
    assert tx_version_at(t, (ts[1] + ts[2]) / 2) == 1  # unchanged below


def test_changefeed_update_images_and_merge_key_resolution(spark, tmp_path):
    """update_images=True: an `update` commit's rows re-tag as
    update_preimage/update_postimage; a `merge` commit's removed×added
    file sets key-resolve into minimal changes — carried-over identical
    rows suppressed, changed keys paired, one-sided keys insert/delete,
    duplicate keys degraded to delete+insert. Default stays
    delete/insert, and the transform contract holds in both modes."""
    from pyspark.sql import functions as F  # noqa: F811

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_changes,
        tx_merge,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(6)).repartition(2), t)          # v0
    tx_update_where(spark, t, "id >= 4", {"val": "'up'"})      # v1: update op

    plain = tx_changes(spark, t, 0, 1)
    assert set(r["_change_type"] for r in plain.collect()) == {
        "delete", "insert"
    }
    by_kind: dict = {}
    for r in tx_changes(spark, t, 0, 1, update_images=True).collect():
        by_kind.setdefault(r["_change_type"], []).append(r)
    assert set(by_kind) == {"update_preimage", "update_postimage"}
    assert sorted(r["id"] for r in by_kind["update_preimage"]) == [4, 5]
    assert sorted((r["id"], r["val"]) for r in by_kind["update_postimage"]) \
        == [(4, "up"), (5, "up")]

    # merge: id 1 changes, id 2 "updates" to its identical current value
    # (must be SUPPRESSED), id 100 inserts, id 0 deleted by the
    # not-matched-by-source clause; ids 3..5 are carried-over rewrites
    src = spark.createDataFrame(
        [Row(id=1, val="m1"), Row(id=2, val="v2"), Row(id=100, val="new")]
    )
    res = tx_merge(
        spark, t, src, ["id"],
        when_not_matched_by_source_delete=F.col("id") == 0,
    )
    mv = res["version"]
    by_kind = {}
    for r in tx_changes(spark, t, mv - 1, mv, update_images=True).collect():
        by_kind.setdefault(r["_change_type"], []).append(r)
    assert sorted(r["id"] for r in by_kind["update_preimage"]) == [1]
    assert by_kind["update_preimage"][0]["val"] == "v1"
    assert [(r["id"], r["val"]) for r in by_kind["update_postimage"]] \
        == [(1, "m1")]
    assert [r["id"] for r in by_kind["delete"]] == [0]
    assert [(r["id"], r["val"]) for r in by_kind["insert"]] == [(100, "new")]
    # carried-over ids (2..5) appear NOWHERE in the feed
    seen = {r["id"] for rows in by_kind.values() for r in rows}
    assert seen == {0, 1, 100}

    # transform contract (update-images mode): base snapshot minus
    # (delete ∪ update_preimage) plus (insert ∪ update_postimage) == head
    base = tx_read(spark, t, version=mv - 1)
    feed = tx_changes(spark, t, mv - 1, mv, update_images=True)
    minus = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).drop("_change_type", "_commit_version")
    plus = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type", "_commit_version")
    rebuilt = base.exceptAll(minus).unionByName(plus)
    head = tx_read(spark, t, version=mv)
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, head.collect())
    )

    # duplicate keys never update-pair: both old rows delete, both new
    # rows insert (pairing two-of-each is ambiguous)
    dup = spark.createDataFrame([Row(id=7, val="a"), Row(id=7, val="b")])
    tx_append(dup, t)
    res2 = tx_merge(
        spark, t, spark.createDataFrame([Row(id=7, val="z")]), ["id"],
        check_duplicate_source_keys=False,
    )
    v2 = res2["version"]
    by_kind = {}
    for r in tx_changes(spark, t, v2 - 1, v2, update_images=True).collect():
        by_kind.setdefault(r["_change_type"], []).append(r)
    assert sorted((r["id"], r["val"]) for r in by_kind["delete"]) == [
        (7, "a"), (7, "b")
    ]
    assert sorted((r["id"], r["val"]) for r in by_kind["insert"]) == [
        (7, "z"), (7, "z")
    ]
    assert "update_preimage" not in by_kind


def _grp_df(spark, ids, grp):
    return spark.createDataFrame([Row(id=i, grp=grp, val=f"v{i}") for i in ids])


def test_shallow_clone_zero_copy_reads_and_diverges(spark, tmp_path):
    """tx_clone: metadata-only branch of a partitioned table — reads
    equal the source with ZERO copied bytes, stats/partition pruning
    carries, the clone diverges independently (append + DV delete on a
    referenced file), and the source never changes."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_clone,
        tx_delete_where,
        tx_prune,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx_append(_grp_df(spark, range(4), "a").coalesce(1), src,
              partition_by=["grp"])
    tx_append(_grp_df(spark, range(4, 8), "b").coalesce(1), src,
              partition_by=["grp"])
    src_snap_before = tx_snapshot(src)

    v = tx_clone(src, dst)
    assert v == 0
    snap = tx_snapshot(dst)
    # every live file is a reference; nothing was copied
    assert all(f.startswith("ext0:") for f in snap["files"])
    assert snap["bases"] == [src]
    assert _ids(tx_read(spark, dst)) == list(range(8))
    assert tx_snapshot(dst)["partition_by"] == ["grp"]
    # partition + stats pruning work through the references
    kept, skipped = tx_prune(dst, [("grp", "=", "a")])
    assert kept and skipped and all("grp=a" in f for f in kept)
    kept2, _ = tx_prune(dst, [("id", ">=", 6)])
    assert all("grp=b" in f for f in kept2)

    # the clone diverges: append + row-level delete on a REFERENCED file
    tx_append(_grp_df(spark, [100], "a").coalesce(1), dst,
              partition_by=["grp"])
    d = tx_delete_where(spark, dst, "id = 2")
    assert d["rows_deleted"] == 1
    assert _ids(tx_read(spark, dst)) == [0, 1, 3, 4, 5, 6, 7, 100]
    # ...while the source is untouched, commit-for-commit
    assert tx_snapshot(src) == src_snap_before
    assert _ids(tx_read(spark, src)) == list(range(8))

    # refusals: DV-bearing source; occupied destination
    with pytest.raises(ValueError, match="deletion vectors"):
        tx_clone(dst, str(tmp_path / "dst2"))
    with pytest.raises(ValueError, match="already has a transaction log"):
        tx_clone(src, dst)


def test_clone_compact_materializes_and_vacuum_never_touches_source(
    spark, tmp_path
):
    """tx_compact on a clone copies the bytes home (ext refs retired —
    deep-copy incrementally) and a subsequent vacuum of the clone deletes
    only LOCAL debris: the source's files survive the clone's whole
    retention lifecycle."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_clone,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx_append(_mk(spark, range(6)).coalesce(1), src)
    tx_clone(src, dst)
    tx_append(_mk(spark, range(6, 8)).coalesce(1), dst)

    # a clone is never "already compact": the rewrite localizes the refs
    v = tx_compact(spark, dst, target_files=1)
    assert v is not None
    snap = tx_snapshot(dst)
    assert not any(f.startswith("ext") for f in snap["files"])
    assert _ids(tx_read(spark, dst)) == list(range(8))

    # vacuum below the clone-era horizon: the ext refs fall out of the
    # log but the SOURCE's bytes survive
    tx_vacuum(dst, retain_versions=0)
    assert _ids(tx_read(spark, src)) == list(range(6))
    assert all(_data_exists(src, f) for f in tx_snapshot(src)["files"])
    assert _ids(tx_read(spark, dst)) == list(range(8))


def test_clone_of_clone_carries_governance_and_txtable_source(
    spark, tmp_path
):
    """Clone chains compose (bases re-index), CHECK constraints and
    column mapping travel with the clone, time travel sees the clone
    commit, and the txtable batch source drains a clone through its
    external references."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_clone,
        tx_rename_column,
        tx_set_constraint,
    )
    from weather_data_warehouse_aws_spark.sources.tx_source import (
        register_tx_source,
        txtable_options,
    )

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    tx_append(_mk(spark, range(4)).coalesce(1), a)
    tx_rename_column(a, "id", "ident")
    tx_set_constraint(spark, a, "pos_id", "ident >= 0")

    tx_clone(a, b)
    tx_append(
        spark.createDataFrame([Row(ident=50, val="x")]).coalesce(1), b
    )
    tx_clone(b, c)
    snap_c = tx_snapshot(c)
    assert snap_c["bases"] == [b, a]
    # a's file arrives as ext1: (b's ext0 re-indexed), b's own as ext0:
    assert {f.split(":")[0] for f in snap_c["files"]} == {"ext0", "ext1"}
    got = sorted(r["ident"] for r in tx_read(spark, c).collect())
    assert got == [0, 1, 2, 3, 50]

    # governance traveled: the renamed schema and the constraint
    from pyspark.errors import PySparkException

    with pytest.raises(PySparkException):
        tx_append(
            spark.createDataFrame([Row(ident=-1, val="bad")]).coalesce(1), c
        )

    # txtable batch source reads through two levels of references
    register_tx_source(spark)
    feed = (
        spark.read.format("txtable")
        .options(**txtable_options(c))
        .load()
    )
    assert sorted(r["ident"] for r in feed.collect()) == [0, 1, 2, 3, 50]
    assert set(r["_change_type"] for r in feed.collect()) == {"insert"}


def test_partition_spec_evolution_across_layout_eras(spark, tmp_path):
    """tx_set_partition_spec: a metadata-only commit changes how FUTURE
    writes lay out; flat-era, grp-era, and re-flattened files coexist and
    read as one table, pruning proves per-file (path keys for the era
    that has them, footer stats otherwise — and never falsely from a
    spec a file predates), row ops span eras, compact normalizes to the
    current spec, and time travel shows each era's own spec."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_prune,
        tx_set_partition_spec,
    )

    t = str(tmp_path / "t")
    # era 0: UNPARTITIONED; grp is a data column with a numeric-looking
    # string value (the classic inference-corruption probe)
    tx_append(_grp_df(spark, range(3), "0123").coalesce(1), t)       # v0
    assert tx_snapshot(t)["partition_by"] is None

    v = tx_set_partition_spec(t, ["grp"])                             # v1
    assert v == 1
    assert tx_set_partition_spec(t, ["grp"]) is None  # already current
    with pytest.raises(ValueError, match="unknown column"):
        tx_set_partition_spec(t, ["nope"])

    # era 1: hive grp=... layout
    tx_append(_grp_df(spark, range(3, 6), "0123").coalesce(1), t)     # v2
    tx_append(_grp_df(spark, range(6, 9), "b").coalesce(1), t)        # v3
    snap = tx_snapshot(t)
    assert snap["partition_by"] == ["grp"]
    flat = [f for f in snap["files"] if "grp=" not in f]
    hive = [f for f in snap["files"] if "grp=" in f]
    assert flat and hive

    # one logical table across eras; the string value survived both the
    # flat era's bytes and the hive era's pinned path recovery
    out = tx_read(spark, t)
    assert sorted(r["id"] for r in out.collect()) == list(range(9))
    assert {r["grp"] for r in out.collect()} == {"0123", "b"}
    assert out.schema["grp"].dataType.typeName() == "string"

    # pruning: hive-era files prove from path keys (grp=b skipped for
    # grp='0123'); flat-era files keep grp in BYTES and prove from the
    # string footer stats — the '0123' flat file genuinely matches, so
    # it stays kept (and a value no era holds prunes everything)
    kept, skipped = tx_prune(t, [("grp", "=", "0123")])
    assert all("grp=b" not in f for f in kept)
    assert any("grp=b" in f for f in skipped)
    assert all(f in kept for f in flat)
    assert tx_prune(t, [("grp", "=", "zzz")])[0] == []
    # ...and a numeric predicate proves from footer stats in EVERY era
    kept2, _ = tx_prune(t, [("id", ">=", 6)])
    assert all("grp=b" in f for f in kept2)

    # row ops span eras: one DV delete touches a flat and a hive file
    d = tx_delete_where(spark, t, "id in (1, 7)")
    assert d["rows_deleted"] == 2 and d["files_touched"] == 2
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        0, 2, 3, 4, 5, 6, 8
    ]

    # era 2: unpartition future writes — three layouts coexist
    tx_set_partition_spec(t, [])
    tx_append(_grp_df(spark, [100], "c").coalesce(1), t)
    assert tx_snapshot(t)["partition_by"] is None
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        0, 2, 3, 4, 5, 6, 8, 100
    ]

    # time travel sees each era under its own spec
    assert tx_snapshot(t, 0)["partition_by"] is None
    assert tx_snapshot(t, 2)["partition_by"] == ["grp"]
    assert _ids(tx_read(spark, t, version=2)) == list(range(6))

    # the txtable batch source drains all three eras (path-encoded grp
    # filled per file, byte-encoded grp read per file)
    from weather_data_warehouse_aws_spark.sources.tx_source import (
        register_tx_source,
        txtable_options,
    )

    register_tx_source(spark)
    feed = (
        spark.read.format("txtable").options(**txtable_options(t)).load()
    )
    assert sorted(r["id"] for r in feed.collect()) == [
        0, 2, 3, 4, 5, 6, 8, 100
    ]
    assert {r["grp"] for r in feed.collect()} == {"0123", "b", "c"}

    # compact normalizes everything to the CURRENT (flat) spec and
    # materializes the cross-era DVs
    tx_compact(spark, t, target_files=1)
    snap2 = tx_snapshot(t)
    assert all("grp=" not in f for f in snap2["files"])
    assert not snap2["dvs"]
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        0, 2, 3, 4, 5, 6, 8, 100
    ]


def test_commit_protocol_under_real_thread_races(spark, tmp_path):
    """Optimistic concurrency under genuine interleaving: 8 writer
    threads race 12 commits each through the put-if-absent protocol —
    every commit lands exactly once with a dense version sequence, no
    writer errors out, interval checkpoints still fold, and an
    idempotence token raced by every thread commits exactly once."""
    import threading

    from weather_data_warehouse_aws_spark.operators.txlog import (
        _commit,
        _list_log,
    )

    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(2)).coalesce(1), t)  # v0: schema anchor
    n_threads, per_thread = 8, 12
    errs: list = []

    def _worker(i: int) -> None:
        try:
            for j in range(per_thread):
                _commit(
                    t, "append",
                    lambda s, i=i, j=j: ([], [], {"w": i, "j": j}),
                    validate_remove_live=False,
                )
        except Exception as e:  # noqa: BLE001 — the assertion surface
            errs.append(e)

    threads = [
        threading.Thread(target=_worker, args=(i,)) for i in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    hist = tx_history(t)
    total = 1 + n_threads * per_thread
    assert [h["version"] for h in hist] == list(range(total))
    # exactly-once: every (writer, seq) pair appears exactly once
    metas = sorted((h["meta"]["w"], h["meta"]["j"]) for h in hist[1:])
    assert metas == sorted(
        (i, j) for i in range(n_threads) for j in range(per_thread)
    )
    # interval checkpoints survived the contention
    _, checkpoints = _list_log(t)
    assert checkpoints and max(checkpoints) >= total - CHECKPOINT_INTERVAL

    # a txn token raced by every thread commits exactly once
    results: list = []

    def _tok() -> None:
        results.append(
            _commit(
                t, "append", lambda s: ([], [], {"tok": True}),
                validate_remove_live=False, txn=("race-app", 7),
            )
        )

    threads = [threading.Thread(target=_tok) for _ in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    committed = [v for v in results if v is not None]
    assert len(committed) == 1
    assert tx_snapshot(t)["txns"]["race-app"] == 7


def test_generated_columns_derive_enforce_and_partition(spark, tmp_path):
    """Generated columns: derived when the payload omits them, enforced
    null-safe when provided, recomputed on UPDATE/MERGE images, carried
    by clones — and composable with partition-spec evolution (declare
    d = to_date(ts), partition future writes by d, append raw events)."""
    from pyspark.errors import PySparkException

    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_clone,
        tx_drop_column,
        tx_drop_generated_column,
        tx_merge,
        tx_prune,
        tx_set_generated_column,
        tx_set_partition_spec,
        tx_update_where,
    )

    t = str(tmp_path / "t")
    raw = spark.createDataFrame(
        [Row(id=i, ts=f"2024-01-0{1 + i % 2} 0{i}:00:00") for i in range(4)]
    ).withColumn("ts", F.to_timestamp("ts"))
    tx_append(raw.coalesce(1), t)                                   # v0

    # declare the rule on a column that does not exist yet, then evolve
    # the partition spec onto it: raw appends lay out by derived date
    tx_set_generated_column(spark, t, "d", "to_date(ts)")
    tx_set_partition_spec(t, ["d"])
    more = spark.createDataFrame(
        [Row(id=10, ts="2024-01-03 05:00:00")]
    ).withColumn("ts", F.to_timestamp("ts"))
    tx_append(more.coalesce(1), t)
    snap = tx_snapshot(t)
    assert any("d=2024-01-03" in f for f in snap["files"])
    out = tx_read(spark, t)
    assert "d" in out.columns  # old flat files null-extend; new era has it
    got = {r["id"]: r["d"] for r in out.collect() if r["d"] is not None}
    assert str(got[10]) == "2024-01-03"
    # exact path pruning on the derived key: hive-era files prove from
    # their paths; pre-rule flat files hold no 'd' at all and correctly
    # stay candidates (no proof, never a false skip)
    kept, _ = tx_prune(t, [("d", "=", "2024-01-03")])
    assert any("d=2024-01-03" in f for f in kept)
    assert all("d=" not in f or "d=2024-01-03" in f for f in kept)

    # provided-and-correct passes; provided-and-wrong trips the guard
    ok = more.withColumn("id", F.lit(11)).withColumn("d", F.to_date("ts"))
    tx_append(ok.coalesce(1), t)
    bad = more.withColumn("id", F.lit(12)).withColumn(
        "d", F.lit("1999-01-01").cast("date")
    )
    with pytest.raises(PySparkException, match="generated column d"):
        tx_append(bad.coalesce(1), t)

    # UPDATE that moves the base column regenerates the derived value
    u = tx_update_where(
        spark, t, "id = 10", {"ts": "timestamp'2024-02-09 09:00:00'"}
    )
    assert u["rows_updated"] == 1
    row = [r for r in tx_read(spark, t).collect() if r["id"] == 10][0]
    assert str(row["d"]) == "2024-02-09"

    # MERGE images regenerate too
    src = spark.createDataFrame(
        [Row(id=11, ts="2024-03-05 01:00:00")]
    ).withColumn("ts", F.to_timestamp("ts"))
    tx_merge(spark, t, src, ["id"])
    row = [r for r in tx_read(spark, t).collect() if r["id"] == 11][0]
    assert str(row["d"]) == "2024-03-05"

    # governance interlocks and lifecycle
    with pytest.raises(ValueError, match="generated or referenced"):
        tx_drop_column(t, "ts")  # referenced by the rule
    with pytest.raises(ValueError, match="already generated"):
        tx_set_generated_column(spark, t, "d", "to_date(ts)")
    c = str(tmp_path / "c")
    tx_compact(spark, t, target_files=1)  # materialize the update's DV
    tx_clone(t, c)
    assert tx_snapshot(c)["generated"] == {"d": "to_date(ts)"}
    tx_drop_generated_column(t, "d")
    assert tx_snapshot(t)["generated"] == {}
    with pytest.raises(ValueError, match="no generated column"):
        tx_drop_generated_column(t, "d")

    # declaring over an existing column validates history first
    t2 = str(tmp_path / "t2")
    tx_append(
        spark.createDataFrame([Row(a=1, twice=3)]).coalesce(1), t2
    )
    with pytest.raises(ValueError, match="existing rows violate"):
        tx_set_generated_column(spark, t2, "twice", "a * 2")


# ------------------------------------------------ multi-part checkpoints
@pytest.fixture
def multipart_cp(monkeypatch):
    """Shrink the multi-part thresholds so small tables exercise the
    Delta-v2-style layout: manifest + sidecar chain, delta parts,
    compaction at 2 parts, checkpoints every 4 commits (keeps each test
    to ~10 Spark writes)."""
    monkeypatch.setattr(_tx, "CHECKPOINT_INTERVAL", 4)
    monkeypatch.setattr(_tx, "_MULTIPART_MIN", 1)
    monkeypatch.setattr(_tx, "_SIDECAR_ROWS", 100)
    monkeypatch.setattr(_tx, "_SIDECAR_MAX_PARTS", 3)


def _cp_state(t, v):
    from weather_data_warehouse_aws_spark.operators.txlog import (
        _checkpoint_state,
    )

    return _checkpoint_state(t, v)


def test_multipart_checkpoint_replays_and_reads(spark, tmp_path,
                                                multipart_cp):
    """A multi-part checkpoint chain (full parts + per-checkpoint delta
    sidecars with tombstones) must replay to exactly the same snapshot,
    reads, stats, DVs, and time travel as the log itself; checkpoint
    writes past the first must be DELTA parts that reuse the previous
    chain (write cost tracks the commit delta, not the table)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_prune,
    )

    t = str(tmp_path / "t")
    for i in range(3):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v0..v2
    tx_delete_where(spark, t, "id = 1")                    # v3 (DV commit)
    tx_append(_mk(spark, [100]).coalesce(1), t)            # v4 -> cp (full)
    st4 = _cp_state(t, 4)
    assert st4["sidecars"] and all("full" in n for n in st4["sidecars"])
    for i in range(101, 104):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v5..v7
    tx_append(_mk(spark, [104]).coalesce(1), t)            # v8 -> cp (delta)
    st8 = _cp_state(t, 8)
    assert st8["sidecars"][: len(st4["sidecars"])] == st4["sidecars"]
    assert "delta" in st8["sidecars"][-1]

    # snapshot (replaying from the multi-part base) ≡ data; the DV
    # recorded before the checkpoint still masks through the fold
    assert _ids(tx_read(spark, t)) == [0, 2] + list(range(100, 105))
    snap = tx_snapshot(t)
    assert any(snap["dvs"].values())
    # every live file keeps its commit stats through the fold
    assert all(st.get("rows") for st in snap["stats"].values())
    # time travel across eras: pre-checkpoint, between, head
    assert _ids(tx_read(spark, t, version=2)) == [0, 1, 2]
    assert _ids(tx_read(spark, t, version=6)) == [0, 2, 100, 101, 102]
    # distributed planning agrees with the driver on the folded base
    pred = [("id", ">=", 100)]
    assert tx_prune(t, pred) == tx_prune(t, pred, spark=spark)
    kept, skipped = tx_prune(t, pred)
    assert kept and skipped


def test_multipart_files_df_folds_on_both_log_planes(spark, tmp_path,
                                                     multipart_cp,
                                                     log_store_mode):
    """tx_files_df folds the sidecar chain with executors — newest part
    wins per rel, tombstones drop — identically on the POSIX store and
    through the opaque-store spool."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_files_df,
        tx_overwrite,
    )

    t = str(tmp_path / "t")
    for i in range(5):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v0..v4, cp4
    tx_overwrite(_mk(spark, range(200, 203)).coalesce(1), t)  # v5: removes
    for i in range(6, 9):
        tx_append(_mk(spark, [i + 300]).coalesce(1), t)    # v6..v8, cp8
    st8 = _cp_state(t, 8)
    assert any("delta" in n for n in st8["sidecars"])
    snap = tx_snapshot(t)
    rows = tx_files_df(spark, t).collect()
    assert sorted(r["rel"] for r in rows) == snap["files"]
    got = {r["rel"]: (json.loads(r["stats_json"]) if r["stats_json"]
                      else {}) for r in rows}
    assert got == snap["stats"]
    _assert_spool_engaged(t, log_store_mode)
    # overwritten-away files must NOT leak through the fold
    assert len(snap["files"]) == 1 + 3  # overwrite part + 3 appends


def test_multipart_restore_compacts_chain(spark, tmp_path, multipart_cp):
    """A restore carries dv_state (whole-map replacement) — the next
    checkpoint must abandon the delta chain and compact, and still
    replay the restored row set."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_delete_where,
        tx_restore,
    )

    t = str(tmp_path / "t")
    for i in range(5):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v0..v4, cp4 full
    tx_delete_where(spark, t, "id <= 1")                   # v5: DV
    assert _ids(tx_read(spark, t)) == [2, 3, 4]
    tx_restore(t, 4)                                       # v6: dv_state
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3, 4]
    tx_append(_mk(spark, [7]).coalesce(1), t)              # v7
    tx_append(_mk(spark, [8]).coalesce(1), t)              # v8 -> cp
    st8 = _cp_state(t, 8)
    assert all("full" in n for n in st8["sidecars"]), st8["sidecars"]
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3, 4, 7, 8]
    assert not tx_snapshot(t)["dvs"]


def test_multipart_retention_keeps_referenced_sidecars(spark, tmp_path,
                                                       multipart_cp):
    """tx_cleanup_log deletes sidecar parts only when no surviving
    manifest references them: a delta chain crossing the retention floor
    keeps its pre-floor parts alive, compaction-orphaned parts go, and
    reads are identical after cleanup."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_cleanup_log,
        tx_vacuum,
    )

    t = str(tmp_path / "t")
    # cp4 full [A]; cp8 delta [A, d8]; cp12 delta [A, d8, d12];
    # cp16 compacts to full [B]; cp20 delta [B, d20]
    for i in range(21):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v0..v20
    st16, st20 = _cp_state(t, 16), _cp_state(t, 20)
    assert all("full" in n for n in st16["sidecars"])
    assert st20["sidecars"][: len(st16["sidecars"])] == st16["sidecars"]
    orphaned = set(_cp_state(t, 12)["sidecars"])  # A, d8, d12
    assert orphaned.isdisjoint(st20["sidecars"])

    tx_vacuum(t, retain_versions=1)                        # v21: horizon 20
    res = tx_cleanup_log(t)
    assert res["floor"] == 20 and res["deleted_commits"] > 0
    assert res["deleted_sidecars"] >= len(orphaned)
    names = set(_tx.get_log_store(t).list(_tx._log_dir(t)))
    assert orphaned.isdisjoint(names), "compaction orphans must be deleted"
    for n in st20["sidecars"]:  # incl. B, born pre-floor but referenced
        assert n in names, f"referenced sidecar {n} must survive"
    assert _ids(tx_read(spark, t)) == list(range(21))


def test_multipart_allfull_chain_scans_without_fold(spark, tmp_path,
                                                    multipart_cp,
                                                    monkeypatch):
    """A freshly-compacted chain is all full parts — disjoint rels, no
    tombstones — so tx_files_df takes the plain multi-file scan (no
    groupBy fold) and still matches the snapshot exactly."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_files_df,
    )

    monkeypatch.setattr(_tx, "_SIDECAR_MAX_PARTS", 1)  # always compact
    monkeypatch.setattr(_tx, "_SIDECAR_ROWS", 2)       # force >1 part
    t = str(tmp_path / "t")
    for i in range(5):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v0..v4, cp4
    st4 = _cp_state(t, 4)
    assert len(st4["sidecars"]) > 1
    assert all("full" in n for n in st4["sidecars"])
    snap = tx_snapshot(t)
    df = tx_files_df(spark, t)
    rows = df.collect()
    assert sorted(r["rel"] for r in rows) == snap["files"]
    # the plan must be shuffle-free: no Exchange below the scan union
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_vacuum_distributed_deletes_equal_driver_loop(spark, tmp_path,
                                                      monkeypatch):
    """`tx_vacuum(spark=...)` fans the physical deletes out over
    executors past _DROP_DISTRIBUTED_MIN — same deleted set, same
    surviving reads, ext-ref skip preserved (clone sources are never
    touched), idempotent under retries (missing = no-op)."""
    monkeypatch.setattr(_tx, "_DROP_DISTRIBUTED_MIN", 2)
    t = str(tmp_path / "t")
    tx_append(_mk(spark, range(8)).repartition(4), t)      # v0: 4 files
    tx_overwrite(_mk(spark, range(100, 104)).repartition(2), t)  # v1
    res = tx_vacuum(t, retain_versions=1, spark=spark)
    assert len(res["deleted"]) == 4
    store = _tx.get_data_store(t)
    for rel in res["deleted"]:
        assert not store.exists(t, rel), rel
    assert _ids(tx_read(spark, t)) == [100, 101, 102, 103]
    # clone refs survive a distributed vacuum on the clone
    from weather_data_warehouse_aws_spark.operators.txlog import tx_clone

    src = str(tmp_path / "src")
    tx_append(_mk(spark, range(3)).coalesce(1), src)
    clone = str(tmp_path / "clone")
    tx_clone(src, clone)
    tx_overwrite(_mk(spark, [9]).coalesce(1), clone)
    tx_vacuum(clone, retain_versions=1, spark=spark)
    assert _ids(tx_read(spark, src)) == [0, 1, 2]  # source bytes intact


def test_tx_optimize_small_file_bytes_signal(spark, tmp_path):
    """Opt-in byte-exact small-file signal: commit-recorded add-file
    sizes drive the compaction decision (Delta OPTIMIZE's minFileSize),
    and by default the signal is off so healthy tables stay no-ops."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_optimize,
    )

    t = str(tmp_path / "t")
    for i in range(4):
        tx_append(_mk(spark, [i]).coalesce(1), t)  # 4 tiny files
    # default: off — count signal alone (4 files <= 4x target 2... no,
    # 4 <= 8) keeps it healthy
    res = tx_optimize(spark, t, target_files=2)
    assert res["compacted"] is None
    # with a generous byte floor every file is "small": compacts
    res2 = tx_optimize(spark, t, target_files=2,
                       small_file_bytes=1 << 30)
    assert res2["compacted"] is not None and "under" in res2["reason"]
    assert len(tx_snapshot(t)["files"]) <= 2
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3]


def test_multipart_checkpoint_crash_between_sidecar_and_manifest(
        spark, tmp_path, multipart_cp, monkeypatch):
    """A checkpoint writer dying AFTER publishing sidecar parts but
    BEFORE the manifest leaves the table fully functional (replay walks
    commits past the missing checkpoint), and the NEXT interval's
    checkpoint converges — orphaned parts are never referenced and fall
    to retention once below the floor."""
    t = str(tmp_path / "t")
    for i in range(4):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v0..v3

    # crash injection: the manifest put dies once
    real_put = _tx.LocalFSLogStore.put_if_absent_bytes
    state = {"armed": True}

    def dying_put(self, log_dir, name, payload):
        if state["armed"] and ".checkpoint.parquet" in name:
            state["armed"] = False
            raise RuntimeError("injected crash before manifest publish")
        return real_put(self, log_dir, name, payload)

    monkeypatch.setattr(_tx.LocalFSLogStore, "put_if_absent_bytes",
                        dying_put)
    with pytest.raises(RuntimeError, match="injected crash"):
        tx_append(_mk(spark, [100]).coalesce(1), t)        # v4 commit wins,
    monkeypatch.setattr(_tx.LocalFSLogStore, "put_if_absent_bytes",
                        real_put)
    # ...but the crash hit AFTER the commit landed: v4 is real, the
    # checkpoint is absent, sidecar orphans exist
    assert tx_snapshot(t)["version"] == 4
    names = set(_tx.get_log_store(t).list(_tx._log_dir(t)))
    assert not any(".checkpoint." in n for n in names)
    orphans = {n for n in names if n.startswith("sc-")}
    assert orphans, "the dying writer must have published sidecars"
    # reads are unaffected (replay has no checkpoint to lean on)
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3, 100]
    # the next interval checkpoint converges cleanly
    for i in range(101, 105):
        tx_append(_mk(spark, [i]).coalesce(1), t)          # v5..v8 -> cp8
    st8 = _cp_state(t, 8)
    assert st8["sidecars"], "cp8 must exist and be multi-part"
    # cp8's parts are born at v8 — the v4 orphans are never referenced
    assert orphans.isdisjoint(st8["sidecars"])
    assert _ids(tx_read(spark, t)) == [0, 1, 2, 3, 100, 101, 102, 103, 104]


# ---------------------------------------------------------------------------
# Table features: capability gating travels IN the log (Delta's
# table-features design). A commit that first USES a feature stamps the
# folded set; snapshot resolution refuses feature sets this build does
# not implement instead of silently misreading.
# ---------------------------------------------------------------------------
def test_table_features_fold_through_log_and_checkpoint(spark, tmp_path):
    t = str(tmp_path / "feat")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    tx_append(df, t)
    assert tx_snapshot(t)["features"] == []  # plain tables carry none

    _txmod.tx_delete_where(spark, t, "k = 1")
    assert tx_snapshot(t)["features"] == ["deletion-vectors"]
    _txmod.tx_rename_column(t, "s", "name")
    assert tx_snapshot(t)["features"] == [
        "column-mapping", "deletion-vectors",
    ]
    # monotone: dropping the constraint does not retire its feature
    _txmod.tx_set_constraint(spark, t, "k_pos", "k > 0")
    _txmod.tx_drop_constraint(t, "k_pos")
    assert "check-constraints" in tx_snapshot(t)["features"]

    # the folded set survives a checkpoint (footer state) and gates the
    # distributed plane's read path too
    v = tx_snapshot(t)["version"]
    _txmod._write_checkpoint(_txmod.get_log_store(t), t, v)
    assert set(_txmod._checkpoint_state(t, v)["features"]) >= {
        "deletion-vectors", "column-mapping", "check-constraints",
    }
    assert tx_snapshot(t)["features"] == sorted(
        {"deletion-vectors", "column-mapping", "check-constraints"}
    )
    assert _txmod.tx_files_df(spark, t).count() == len(
        tx_snapshot(t)["files"]
    )


def test_unknown_table_feature_refuses_read_and_write(spark, tmp_path):
    """A log claiming a feature this build lacks must hard-fail every
    surface — tx_read, writes, and the distributed metadata plane — with
    the feature named, never return wrong rows."""
    t = str(tmp_path / "feat_unknown")
    df = spark.createDataFrame([(1, "a")], "k int, s string")
    tx_append(df, t)
    store = _txmod.get_log_store(t)
    rec = {
        "version": 1, "op": "future_op", "add": [], "remove": [],
        "meta": {"features": ["quantum-vectors"]}, "ts": 0.0,
    }
    assert store.put_if_absent(
        _txmod._log_dir(t), _txmod._commit_name(1), json.dumps(rec)
    )
    with pytest.raises(_txmod.TxUnsupportedFeature, match="quantum-vectors"):
        tx_read(spark, t).collect()
    with pytest.raises(_txmod.TxUnsupportedFeature):
        tx_append(df, t)
    with pytest.raises(_txmod.TxUnsupportedFeature):
        _txmod.tx_files_df(spark, t).count()
    # time travel BELOW the stamping commit still works: version 0
    # never required the feature
    assert tx_snapshot(t, version=0)["features"] == []


def test_txn_only_commit_advances_watermark_without_files(spark, tmp_path):
    """tx_commit_txn records an idempotence token with zero adds/removes
    (Delta's empty-batch txn action): the app watermark advances, replay
    of the same batch is a no-op, and the live set / data bytes are
    untouched."""
    t = str(tmp_path / "txnonly")
    tx_append(spark.createDataFrame([(1,)], "k int"), t)
    files_before = tx_snapshot(t)["files"]
    v = _txmod.tx_commit_txn(t, "consumer", 7)
    assert v == 1
    snap = tx_snapshot(t)
    assert snap["txns"] == {"consumer": 7}
    assert snap["files"] == files_before
    assert _txmod.tx_commit_txn(t, "consumer", 7) is None   # replay no-op
    assert _txmod.tx_commit_txn(t, "consumer", 5) is None   # stale no-op
    assert _txmod.tx_commit_txn(t, "consumer", 9) == 2      # advances
    with pytest.raises(ValueError, match="no transaction log"):
        _txmod.tx_commit_txn(str(tmp_path / "absent"), "a", 0)
