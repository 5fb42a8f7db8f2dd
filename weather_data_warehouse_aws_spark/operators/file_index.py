"""Per-file Bloom-filter skipping index (Delta/Iceberg bloom-index analogue
in vanilla Spark).

Sorted and Z-ordered layouts (`tx_compact(sort_by=/zorder_by=)` in
operators/txlog.py) make the commit-time min/max stats selective for RANGE
predicates on the clustering columns; they do nothing for point lookups on
a high-cardinality column that isn't the sort key (user_id in a
time-sorted table, doc_id in a content-ordered corpus).
The standard answer is a per-file Bloom filter: an offline pass builds one
KB-scale bitmap per data file over the lookup column; a point query probes
the (tiny) index first and reads only the files that *might* contain the
key — no false negatives, so `pruned scan ∪ filter` ≡ `full scan ∪ filter`
exactly.

Scale accounting (100 TB, ~800k files):
- Build: one scan of the column (not the table — column pruning holds),
  exploding k≈7 bit positions per row, then a two-level aggregate keyed on
  (file, word) — map-side combined, shuffle volume ≈ rows·k/word-fill,
  output |files| rows of ~KB each. The index is ~GBs for 800k files —
  parquet-stored, itself scannable.
- Probe: the index scan is |files| KB-rows (seconds), and file pruning
  multiplies the main scan by the hit fraction. For a unique key with
  fpr=0.01 that's ~1 + 0.01·|files| files read instead of all of them.
- The index lives under `<table>/_bloom_idx_<col>/` — the leading
  underscore makes Spark's file listing skip it, so normal table reads are
  unaffected (same convention as `_SUCCESS`/`_metadata`).

The bitmap math (sizing, double hashing) is shared with
operators/bloom.py's broadcast semi-join filter; here the bitmap is a
per-file ROW of the index relation rather than a broadcast literal, and the
probe is an expression over that row's word array.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bloom import bloom_params

__all__ = ["bloom_index_path", "build_bloom_index", "prune_files", "read_with_index"]


def bloom_index_path(table_path: str, column: str) -> str:
    return os.path.join(table_path.rstrip("/"), f"_bloom_idx_{column}")


def _tx_live_files(table_path: str) -> list[str] | None:
    """Absolute paths of the LIVE data files when `table_path` is a
    transaction-log table (operators/txlog.py), else None.

    On a tx table the directory listing is WRONG in both directions:
    removed-but-unvacuumed files still sit on disk (a point lookup through
    a stale listing would return rows a committed erase/compact already
    deleted), and a just-committed file is live regardless of what a
    racing lister saw. Every file-universe decision below goes through
    this gate so the Bloom index composes with the transactional format:
    candidates are drawn from the log's live set, index rows for removed
    files are ignored, and unindexed live files stay candidates."""
    from .txlog import _read_uris, tx_exists, tx_snapshot

    if not tx_exists(table_path):
        return None
    snap = tx_snapshot(table_path)
    # ext (shallow-clone) refs resolve to their BASE tables' URIs
    return _read_uris(table_path, snap["files"], snap.get("bases"))


def _table_df(spark: SparkSession, table_path: str):
    """The table's rows: log-resolved for tx tables, plain dir read else."""
    live = _tx_live_files(table_path)
    if live is None:
        return spark.read.parquet(table_path)
    from .txlog import tx_read

    return tx_read(spark, table_path)


def _key(col_expr) -> F.Column:
    # xxhash64 gives the well-mixed BIGINT the double-hashing scheme needs,
    # for any input type, engine-deterministic (seed 42 fixed)
    return F.xxhash64(col_expr)


# one implementation of the bit-position derivation: an index built with one
# scheme probed with a drifted copy would silently produce false negatives
from .bloom import _positions as _positions_expr  # noqa: E402


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    *,
    fpr: float = 0.01,
    keys_per_file: int | None = None,
) -> DataFrame:
    """Build (overwrite) the per-file Bloom index for `column`.

    One distributed pass: scan only `column` + `input_file_name()`, explode
    k bit positions per row, aggregate `bit_or` per (file, word), assemble
    each file's dense word array with a map lookup over
    `sequence(0, n_words-1)` — fully distributed, one index row per file,
    never a per-file bitmap on the driver.

    All files share one (n_bits, n_hashes) sizing so a single probe
    expression serves every row; sized from the max per-file distinct count
    (`keys_per_file` skips that sizing pass when the caller knows it).
    Returns the index DataFrame (also written to the sidecar path).
    """
    data = _table_df(spark, table_path).select(
        F.input_file_name().alias("file"), _key(F.col(column)).alias("k")
    )
    if keys_per_file is None:
        keys_per_file = (
            data.groupBy("file")
            .agg(F.countDistinct("k").alias("n"))
            .agg(F.max("n"))
            .collect()[0][0]
            or 1
        )
    n_bits, n_hashes = bloom_params(keys_per_file, fpr)
    n_words = (n_bits + 63) // 64

    pos = F.explode(
        F.array(*_positions_expr(F.col("k"), n_bits, n_hashes))
    ).alias("pos")
    index = (
        data.select("file", pos)
        .select(
            "file",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
        )
        .groupBy("file", "w")
        .agg(F.bit_or("bit").alias("word"))
        .groupBy("file")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("wm")
        )
        .select(
            "file",
            F.expr(
                f"transform(sequence(0, {n_words - 1}),"
                " i -> coalesce(element_at(wm, i), 0L))"
            ).alias("words"),
            F.lit(n_bits).alias("n_bits"),
            F.lit(n_hashes).alias("n_hashes"),
        )
    )
    index.write.mode("overwrite").parquet(bloom_index_path(table_path, column))
    return spark.read.parquet(bloom_index_path(table_path, column))


def update_bloom_index(
    spark: SparkSession, table_path: str, column: str
) -> DataFrame:
    """Incrementally extend the index to files appended since the last
    build: only NEW files are scanned (per-file bitmaps are independent, so
    the existing index rows are reused verbatim — the Bloom analogue of the
    CDC delta path). Sizing (n_bits, n_hashes) is inherited from the
    existing index so one probe expression keeps serving every row;
    rebuild with `build_bloom_index` if per-file cardinality has grown past
    the original sizing. Returns the refreshed index."""
    idx_path = bloom_index_path(table_path, column)
    existing = spark.read.parquet(idx_path)
    first = existing.select("n_bits", "n_hashes").first()
    if first is None:
        return build_bloom_index(spark, table_path, column)
    n_bits, n_hashes = first["n_bits"], first["n_hashes"]
    indexed = {_norm_file(r["file"]) for r in existing.select("file").collect()}
    # file universe: the tx log's live set when present, else a Hadoop-FS
    # directory listing (no table scan, any filesystem); _norm_file
    # bridges the URI-encoding difference vs input_file_name()
    universe = _tx_live_files(table_path)
    if universe is None:
        universe = _list_data_files(spark, table_path)
    new_files = sorted(
        f for f in universe if _norm_file(f) not in indexed
    )
    if not new_files:
        return existing
    n_words = (n_bits + 63) // 64
    data = (
        spark.read.option("basePath", table_path)
        .parquet(*new_files)
        .select(F.input_file_name().alias("file"), _key(F.col(column)).alias("k"))
    )
    pos = F.explode(
        F.array(*_positions_expr(F.col("k"), n_bits, n_hashes))
    ).alias("pos")
    fresh = (
        data.select("file", pos)
        .select(
            "file",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
        )
        .groupBy("file", "w")
        .agg(F.bit_or("bit").alias("word"))
        .groupBy("file")
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("wm"))
        .select(
            "file",
            F.expr(
                f"transform(sequence(0, {n_words - 1}),"
                " i -> coalesce(element_at(wm, i), 0L))"
            ).alias("words"),
            F.lit(n_bits).alias("n_bits"),
            F.lit(n_hashes).alias("n_hashes"),
        )
    )
    merged = existing.unionByName(fresh).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(idx_path)
    return spark.read.parquet(idx_path)


def _row_might_contain(key, n_bits: int, n_hashes: int):
    """Probe expression against THIS row's `words` array column."""
    test = None
    for pos in _positions_expr(key, n_bits, n_hashes):
        word = F.element_at(F.col("words"), (pos / 64).cast("int") + F.lit(1))
        shifted = F.call_function(
            "shiftright", word, F.pmod(pos, F.lit(64)).cast("int")
        )
        bit = shifted.bitwiseAND(F.lit(1)) == F.lit(1)
        test = bit if test is None else (test & bit)
    return test


def _norm_file(f: str) -> str:
    """Normalize a file reference for set-membership comparison.

    input_file_name() renders URL-ENCODED URIs ("file:///my%20table/p");
    directory listings yield plain paths ("/my table/p"). Strip the local
    scheme and percent-decode so both render identically. (A file whose
    literal name contains '%' round-trips correctly: input_file_name
    encodes the '%' itself, so one unquote restores the literal name;
    plain listing paths contain no encoding to begin with — they are only
    unquoted once here, same as the URI side after scheme-strip.)"""
    from urllib.parse import unquote

    return unquote(re.sub(r"^file:/+", "/", f))


def _list_data_files(spark: SparkSession, table_path: str) -> list[str]:
    """Data files under the table root via the HADOOP FS client — works on
    any filesystem (local, HDFS, s3a), unlike os.walk which silently
    returns nothing for non-local schemes. Recurses into hive partition
    dirs; skips `_`/`.`-prefixed sidecars (`_bloom_idx_*`, `_SUCCESS`,
    hidden files) at every path level — Spark's own listing rule."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    # Qualify BEFORE stringifying: listFiles yields fully-qualified URIs,
    # and a relative/unqualified table_path spelling would fail the
    # prefix match below — degrading the `_`/`.` sidecar filter to the
    # basename only, so `_bloom_idx_*` part files would come back as
    # table data (and get rewritten/deleted by erase/prune/vacuum).
    root = fs.makeQualified(root)
    root_str = _norm_file(root.toString()) + "/"
    out: list[str] = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        full = p.toString()
        rel = _norm_file(full)
        rel = rel[len(root_str):] if rel.startswith(root_str) else p.getName()
        parts = rel.split("/")
        if any(seg.startswith(("_", ".")) for seg in parts):
            continue
        if not parts[-1].endswith(".parquet"):
            continue
        out.append(full)
    return sorted(out)


def prune_files(spark: SparkSession, table_path: str, column: str, value) -> list[str]:
    """Files that might contain `value` (no false negatives).

    Stale-index safe: candidates are drawn from the table's CURRENT file
    universe (the tx log's live set on transactional tables, the directory
    listing otherwise); a data file appended after the last (update_)build
    call has no index row and is always kept as a candidate, so the pruned
    scan stays a superset of the true match set even when the sidecar lags
    the table. Index rows for files that no longer exist (compacted away,
    erased, or tx-removed) are ignored — a point lookup on a tx table can
    never resurrect a removed file through a stale sidecar."""
    idx = spark.read.parquet(bloom_index_path(table_path, column))
    actual = _tx_live_files(table_path)
    if actual is None:
        actual = _list_data_files(spark, table_path)
    first = idx.select("n_bits", "n_hashes").first()
    if first is None:
        return actual  # empty index prunes nothing
    n_bits, n_hashes = first["n_bits"], first["n_hashes"]
    # xxhash64 is type-sensitive: probe with the literal cast to the data
    # column's exact type or the hash won't match the indexed one
    dtype = _table_df(spark, table_path).schema[column].dataType
    probe = _row_might_contain(_key(F.lit(value).cast(dtype)), n_bits, n_hashes)
    verdict = {
        _norm_file(r["file"]): bool(r["hit"])
        for r in idx.select("file", probe.alias("hit")).collect()
    }
    return [f for f in actual if verdict.get(_norm_file(f), True)]


def prune_files_any(
    spark: SparkSession, table_path: str, column: str, values: list
) -> list[str]:
    """Files that might contain ANY of `values` — ONE index pass for the
    whole batch, with a CONSTANT-size plan: the values become a broadcast
    relation carrying their probe-bit positions, and a single
    forall-bits-set test runs per (file, value) pair. (An OR-chain of
    per-value probe expressions would grow the plan by |values|·n_hashes
    subtrees — a 10k-key right-to-be-forgotten batch would blow past the
    codegen method limit.) Same stale-index safety as `prune_files`:
    unindexed files are always candidates, index rows for vanished files
    are ignored (tx-aware, like `prune_files`)."""
    idx = spark.read.parquet(bloom_index_path(table_path, column))
    actual = _tx_live_files(table_path)
    if actual is None:
        actual = _list_data_files(spark, table_path)
    first = idx.select("n_bits", "n_hashes").first()
    if first is None or not values:
        return actual if values else []
    n_bits, n_hashes = first["n_bits"], first["n_hashes"]
    dtype = _table_df(spark, table_path).schema[column].dataType
    vals = spark.createDataFrame(
        [(v,) for v in values], f"__v {dtype.simpleString()}"
    ).select(
        F.array(*_positions_expr(_key(F.col("__v")), n_bits, n_hashes)).alias(
            "__pos"
        )
    ).distinct()
    hit = F.expr(
        "forall(transform(__pos, p ->"
        " (shiftright(element_at(words, cast(p / 64 as int) + 1),"
        "  cast(pmod(p, 64) as int)) & 1) = 1), x -> x)"
    )
    hits = {
        _norm_file(r["file"])
        for r in idx.crossJoin(F.broadcast(vals))
        .filter(hit)
        .select("file")
        .distinct()
        .collect()
    }
    indexed = {_norm_file(r["file"]) for r in idx.select("file").collect()}
    return [
        f for f in actual
        if _norm_file(f) in hits or _norm_file(f) not in indexed
    ]


def read_with_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    value,
    *,
    files: list[str] | None = None,
) -> DataFrame:
    """Point lookup through the index: scan only candidate files, then
    apply the exact filter (removing Bloom false positives). Result is
    row-identical to `read.parquet(table).filter(col == value)`.
    Pass `files` (from a prior `prune_files` call) to avoid probing the
    index twice. `basePath` keeps hive partition columns intact when the
    candidate files live under `key=value` directories. On a
    transaction-log table the candidate scan goes through the log's
    reader, so deletion-vector'd rows (txlog.tx_delete_where) can never
    resurrect through a point lookup."""
    if files is None:
        files = prune_files(spark, table_path, column, value)
    if not files:
        schema = _table_df(spark, table_path).schema
        return spark.createDataFrame([], schema)
    if _tx_live_files(table_path) is not None:
        from .txlog import _read_live, _read_uris, tx_snapshot

        # invert read_uri: candidates arrived as store URIs
        # (_tx_live_files emits exactly the snapshot's resolved URI per
        # live rel, ext clone refs included), so the log rel is an exact
        # lookup in the uri->rel map — never os.path arithmetic, which
        # mangles scheme-ful URIs (abspath("s3://b/t") ->
        # "<cwd>/s3:/b/t")
        snap = tx_snapshot(table_path)
        uri_to_rel = dict(zip(
            _read_uris(table_path, snap["files"], snap.get("bases")),
            snap["files"],
        ))
        rels = []
        for f in files:
            rel = uri_to_rel.get(f)
            if rel is None:
                raise ValueError(
                    f"read_with_index: candidate {f!r} is not a live "
                    "file's resolved URI — stale index sidecar or a "
                    "DataStore read_uri drift"
                )
            rels.append(rel)
        scan = _read_live(spark, table_path, rels, snap)
        return scan.filter(F.col(column) == F.lit(value))
    return (
        spark.read.option("basePath", table_path)
        .parquet(*files)
        .filter(F.col(column) == F.lit(value))
    )
