"""Per-file Bloom skipping index: pruning power, exactness, sidecar
invisibility."""

from __future__ import annotations

from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.file_index import (
    bloom_index_path,
    build_bloom_index,
    prune_files,
    read_with_index,
)
from weather_data_warehouse_aws_spark.sources.tables import load_table


def _write_table(spark, sf_smoke_dir, path: str, n_files: int = 16) -> None:
    docs = load_table(spark, sf_smoke_dir, "documents").select("doc_id", "text")
    docs.repartition(n_files, "doc_id").write.parquet(path)


def test_index_prunes_and_matches_full_scan(spark, sf_smoke_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("btab")) + "/t"
    _write_table(spark, sf_smoke_dir, path)
    idx = build_bloom_index(spark, path, "doc_id", fpr=0.001)
    n_files = idx.count()
    assert n_files == 16

    full = spark.read.parquet(path)
    for key in (0, 7, 123, 499):
        cand = prune_files(spark, path, "doc_id", key)
        # hash-partitioned on doc_id -> each key lives in exactly one file;
        # fpr=0.001 over 16 files makes extra candidates vanishingly rare
        assert 1 <= len(cand) <= 2, (key, len(cand))
        got = sorted(map(str, read_with_index(spark, path, "doc_id", key).collect()))
        want = sorted(map(str, full.filter(F.col("doc_id") == key).collect()))
        assert got == want and len(got) == 1


def test_absent_key_and_no_false_negatives(spark, sf_smoke_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("btab2")) + "/t"
    _write_table(spark, sf_smoke_dir, path, n_files=8)
    build_bloom_index(spark, path, "doc_id", fpr=0.001)
    # absent key: usually zero candidates, never a wrong row
    assert read_with_index(spark, path, "doc_id", 10_000_019).count() == 0
    # every present key MUST be found (no false negatives) — exhaustive
    present = [r[0] for r in spark.read.parquet(path).select("doc_id").collect()]
    missed = [
        k for k in present[:200]
        if not prune_files(spark, path, "doc_id", int(k))
    ]
    assert missed == []


def test_string_column_and_sidecar_invisible(spark, sf_smoke_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("btab3")) + "/t"
    _write_table(spark, sf_smoke_dir, path, n_files=8)
    before = spark.read.parquet(path).count()
    build_bloom_index(spark, path, "text", fpr=0.01)
    # the _bloom_idx_ sidecar must not leak into normal table reads
    assert spark.read.parquet(path).count() == before
    assert bloom_index_path(path, "text").startswith(path)

    sample = spark.read.parquet(path).select("text").first()["text"]
    got = read_with_index(spark, path, "text", sample)
    want = spark.read.parquet(path).filter(F.col("text") == sample)
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
    assert got.count() >= 1


def test_incremental_index_update(spark, sf_smoke_dir, tmp_path_factory):
    """update_bloom_index scans only appended files: old index rows are
    reused verbatim, new keys become findable, and a no-op update leaves
    the index unchanged."""
    from weather_data_warehouse_aws_spark.operators.file_index import (
        build_bloom_index,
        read_with_index,
        update_bloom_index,
    )

    path = str(tmp_path_factory.mktemp("btab_inc")) + "/t"
    docs = load_table(spark, sf_smoke_dir, "documents").select("doc_id", "text")
    docs.repartition(8, "doc_id").write.parquet(path)
    first = build_bloom_index(spark, path, "doc_id", fpr=0.001)
    old_rows = {r["file"]: r["words"] for r in first.collect()}

    # append new files carrying previously-unseen keys
    docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text").repartition(
        4, "doc_id"
    ).write.mode("append").parquet(path)

    updated = update_bloom_index(spark, path, "doc_id")
    assert updated.count() == 12  # 8 original + 4 appended
    got_rows = {r["file"]: r["words"] for r in updated.collect()}
    for f, words in old_rows.items():
        assert got_rows[f] == words  # untouched files keep their bitmaps

    # a key that only exists in the appended files is found exactly
    hit = read_with_index(spark, path, "doc_id", 10_042)
    assert hit.count() == 1 and hit.first()["doc_id"] == 10_042
    # and an old key still resolves
    assert read_with_index(spark, path, "doc_id", 42).count() == 1

    # idempotent: nothing new -> same index back
    again = update_bloom_index(spark, path, "doc_id")
    assert again.count() == 12


def test_stale_index_keeps_unindexed_files(spark, sf_smoke_dir, tmp_path_factory):
    """Files appended AFTER the last index build have no index row and must
    stay candidates: a stale sidecar may prune less, never wrong."""
    path = str(tmp_path_factory.mktemp("btab_stale")) + "/t"
    docs = load_table(spark, sf_smoke_dir, "documents").select("doc_id", "text")
    docs.repartition(8, "doc_id").write.parquet(path)
    build_bloom_index(spark, path, "doc_id", fpr=0.001)

    # append WITHOUT updating the index
    docs.select((F.col("doc_id") + 20_000).alias("doc_id"), "text").repartition(
        2, "doc_id"
    ).write.mode("append").parquet(path)

    # a key living only in the unindexed files is still found (no false
    # negatives), and the 2 new files are always candidates
    cand = prune_files(spark, path, "doc_id", 20_042)
    assert len(cand) >= 2  # both unindexed files kept
    hit = read_with_index(spark, path, "doc_id", 20_042)
    assert hit.count() == 1 and hit.first()["doc_id"] == 20_042
    # indexed keys still prune: candidates ≈ 1 indexed file + 2 unindexed
    assert len(prune_files(spark, path, "doc_id", 42)) <= 4


def test_prune_files_any_large_batch(spark, sf_smoke_dir, tmp_path_factory):
    """Constant-size plan: a 500-key batch probes in one pass and agrees
    with per-key prune_files on every key."""
    from weather_data_warehouse_aws_spark.operators.file_index import (
        prune_files_any,
    )

    path = str(tmp_path_factory.mktemp("btab_any")) + "/t"
    _write_table(spark, sf_smoke_dir, path, n_files=8)
    build_bloom_index(spark, path, "doc_id", fpr=0.001)
    keys = list(range(0, 500))
    batch = set(prune_files_any(spark, path, "doc_id", keys))
    # every per-key candidate set is contained in the batch set
    for k in (0, 123, 499):
        assert set(prune_files(spark, path, "doc_id", k)) <= batch
    # all 8 files contain some of 0..499 -> batch covers all files
    assert len(batch) == 8


def test_bloom_index_composes_with_tx_tables(spark, tmp_path_factory):
    """On a transaction-log table the index's file universe is the LOG's
    live set, not the directory: after an erase + compact, a point lookup
    through the (stale) sidecar must never resurrect a removed file's
    rows, and freshly-committed unindexed files stay candidates."""
    from pyspark.sql import Row

    from weather_data_warehouse_aws_spark.operators.file_index import (
        update_bloom_index,
    )
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_append,
        tx_compact,
        tx_erase_keys,
        tx_read,
        tx_snapshot,
    )

    t = str(tmp_path_factory.mktemp("btab_tx")) + "/t"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(200)]
    )
    tx_append(df.repartition(4, "doc_id"), t)
    build_bloom_index(spark, t, "doc_id", fpr=0.001)

    # indexed point lookup works and prunes on the tx table
    assert read_with_index(spark, t, "doc_id", 42).count() == 1
    assert len(prune_files(spark, t, "doc_id", 42)) < len(tx_snapshot(t)["files"])

    # erase a key, then compact — the dir now holds MORE parquet than is
    # live, and the sidecar references only dead files
    tx_erase_keys(spark, t, "doc_id", [42])
    tx_compact(spark, t, target_files=1)
    on_disk = [n for n in __import__("os").listdir(t) if n.endswith(".parquet")]
    assert len(on_disk) > len(tx_snapshot(t)["files"])

    # stale sidecar: candidates come only from the live set -> erased row
    # cannot resurrect, and the unindexed (compacted) file is a candidate
    assert read_with_index(spark, t, "doc_id", 42).count() == 0
    assert read_with_index(spark, t, "doc_id", 43).count() == 1
    cand = prune_files(spark, t, "doc_id", 43)
    live_abs = {__import__("os").path.join(t, f) for f in tx_snapshot(t)["files"]}
    assert set(cand) <= live_abs

    # append new rows on the log, refresh incrementally: only the new
    # live file is scanned; lookups cover old + new
    tx_append(
        spark.createDataFrame([Row(doc_id=9999, text="late")]).coalesce(1), t
    )
    update_bloom_index(spark, t, "doc_id")
    assert read_with_index(spark, t, "doc_id", 9999).count() == 1
    assert tx_read(spark, t).count() == 200  # 200 - erased 1 + appended 1


def test_cli_lookup_on_renamed_log_column(spark, tmp_path_factory, capsys):
    """`index --lookup` parses the probe literal with the column's LOGGED
    type: after a rename on a column-mapped log table the physical footers
    still carry the old name, and the lookup must still find the row."""
    from pyspark.sql import Row

    from weather_data_warehouse_aws_spark.__main__ import main
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_append,
        tx_rename_column,
    )

    t = str(tmp_path_factory.mktemp("btab_cli")) + "/t"
    df = spark.createDataFrame(
        [Row(id=i, v=i * 0.5) for i in range(40)], "id long, v double"
    )
    tx_append(df.repartition(4, "id"), t)
    tx_rename_column(t, "id", "key")

    assert main(["index", "--table", t, "--column", "key"]) == 0
    assert "indexed 4 files on key" in capsys.readouterr().out
    assert main(["index", "--table", t, "--column", "key", "--lookup", "7"]) == 0
    out = capsys.readouterr().out
    assert "candidate files: 1" in out
    rows = [ln.split("|")[1:3] for ln in out.splitlines() if ln.startswith("|")]
    assert [c.strip() for c in rows[0]] == ["key", "v"]
    assert [[c.strip() for c in r] for r in rows[1:]] == [["7", "3.5"]]
