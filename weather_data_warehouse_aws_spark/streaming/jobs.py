"""Structured Streaming variants of the batch aggregations (SURVEY §2.10).

The reference is strictly daily batch (EventBridge cron, `README.md:55-59`);
its bronze layer, though, is *naturally* a file-arrival stream, and the
driver's `events` table invites windowed aggregation. These jobs are the
streaming twins of the batch queries in queries/temporal.py — same logical
plan through the Dataset API, which is exactly Spark's pitch: write once,
run batch or incremental.

Scale notes:
* watermarks bound state: `1 hour` watermark + 1-hour tumbling windows keeps
  O(#active windows × #groups) state per executor;
* `availableNow` trigger gives incremental batch (catch-up without a
  long-running cluster) — used by the tests;
* session windows use the built-in `session_window` (state-store-backed,
  mergeable) rather than the gaps-and-islands window chain, which doesn't
  stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_session_conf

EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a directory of parquet event files."""
    ensure_session_conf(spark)
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def hourly_event_counts(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of queries/temporal.q_events_hourly: tumbling 1-hour
    windows with late-data tolerance = `watermark`.

    Groups on the window STRUCT and projects `.start` after the agg —
    extracting the field before aggregation severs event-time tracking and
    makes append mode (the finalize-and-emit mode) illegal.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_windows(events: DataFrame, *, gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization via the built-in mergeable session window —
    the stateful twin of queries/temporal.q_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, *, timeout_sec: int = 120,
                  mode: str = "complete") -> DataFrame:
    """Drain a stream with the availableNow trigger into an in-memory table
    and return the result as a batch DataFrame. `complete` for aggregations;
    `append` for row streams (dedup, enrichment)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stream_df.sparkSession.table(name)


def deduped_event_stream(
    events: DataFrame, *, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once event delivery over an at-least-once source: drop rows
    repeating a key within the watermark horizon — the streaming twin of the
    batch keyed dedup (queries/joins.q_dedup_latest) and the standard fix
    for replayed file drops / producer retries.

    State design: `dropDuplicatesWithinWatermark` keeps one state entry per
    key and EVICTS entries older than the watermark — bounded state, unlike
    streaming `dropDuplicates`, whose key set grows forever. Duplicates
    arriving later than the watermark horizon are therefore not guaranteed
    to dedup: size the watermark to the source's replay window, not to the
    data's lateness.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def enriched_event_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream against a (broadcast)
    dimension snapshot. The static side is re-resolved per micro-batch, so
    a dim refresh is picked up without restarting the query — the streaming
    twin of the fact-view dim joins (pipeline/views.py)."""
    return events.join(F.broadcast(dim), "user_id", "left")


def scd2_enriched_stream(
    events: DataFrame,
    scd2_dim: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """POINT-IN-TIME stream enrichment against an SCD2 dimension: each
    event joins the dim VERSION whose [effective_from_date,
    effective_to_date) range contains the event's event-time — not just
    the current version, so late/replayed events get the attributes that
    were true WHEN THEY HAPPENED. This is the streaming consumer of the
    reference's SCD2 design (`build_dimensions.py:70-91` documents the
    effective-dating; `operators/scd2.py` builds it): a live feed joined
    to dim_location must pick the historically-correct city attributes.

    Plan shape: stream-static join on the natural key plus a range
    residual — Spark broadcasts the dim per micro-batch (dims are
    MB-scale), so this is a map-side probe with zero streaming state; a
    dim refresh (new merge output) is picked up at the next batch without
    restarting. Half-open [from, to): an event exactly ON a version
    boundary belongs to the NEW version, matching scd2_merge's expire
    algebra (old closes AT the effective date)."""
    d = F.broadcast(scd2_dim)
    ev_date = F.to_date(events[ts_col])
    cond = (
        (events[key] == scd2_dim[key])
        & (ev_date >= scd2_dim["effective_from_date"])
        & (ev_date < scd2_dim["effective_to_date"])
    )
    return events.join(d, cond, "left").drop(scd2_dim[key])


def run_upsert_foreachbatch(
    stream_df: DataFrame,
    silver_path: str,
    checkpoint_path: str,
    partition_col: str,
    key_cols: list[str],
    *,
    timeout_sec: int = 180,
) -> None:
    """foreachBatch UPSERT sink: merge each micro-batch by key into a
    TRANSACTION-LOG table partitioned by `partition_col`.

    The plain file sink appends exactly-once but can't update; a naive
    per-batch dynamic overwrite LOSES rows when two micro-batches touch the
    same partition (the second replaces the first). Here each micro-batch
    is one atomic `tx_merge` commit: only files containing matched keys
    rewrite (stats-pruned key scan — not partition-granular), a key whose
    partition value changes is retired from its old partition (the key
    scan finds the old copy wherever it lives and the update lands in its
    new partition), and a replayed batch is naturally idempotent (its keys
    are already matched, so the re-merge reproduces the same state).
    Duplicate keys WITHIN one batch raise — merge semantics need one
    source row per key; pre-aggregate the batch to latest-per-key
    upstream if the feed can repeat keys. Read the target with `tx_read`."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.txlog import tx_merge

        tx_merge(
            batch_df.sparkSession, silver_path, batch_df,
            list(key_cols), partition_by=[partition_col],
        )

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def run_incremental_agg_foreachbatch(
    diff_stream: DataFrame,
    agg_path: str,
    checkpoint_path: str,
    group_by: list[str],
    sum_cols: list[str],
    *,
    initial_agg: DataFrame | None = None,
    count_col: str = "n_rows",
    timeout_sec: int = 180,
) -> None:
    """Streaming incremental gold maintenance: each micro-batch is a slice
    of a CDC changefeed (operators/cdc.py::snapshot_diff shape — op +
    old_/new_ images) and is folded into the maintained aggregate with
    apply_agg_delta. The fact stream is never re-scanned; per batch the
    cost is |batch| + |aggregate|.

    Exactly-once: the aggregate is a transaction-log table and each batch
    commits under the `("incremental_agg", batch_id)` token
    (`_run_tx_foreachbatch`), so a replayed batch neither double-counts
    nor skips. ``read_current_agg`` reads the current state.

    Ordering: a changefeed is inherently ordered; the single-writer file
    source delivers files in arrival order (`latestFirst` stays false).
    `initial_agg` seeds the prior for the very first batch (e.g.
    grouped_sums over the base snapshot); default is an empty aggregate.
    """
    from ..operators.cdc import apply_agg_delta

    def _merge(spark: SparkSession, batch_df: DataFrame, prior) -> DataFrame:
        if prior is None:
            if initial_agg is not None:
                prior = initial_agg
            else:
                # empty aggregate in the exact shape apply_agg_delta emits
                from ..operators.cdc import grouped_sums

                empty_snap = batch_df.select(
                    *[F.col(f"new_{g}").alias(g) for g in group_by],
                    *[F.col(f"new_{c}").alias(c) for c in sum_cols],
                ).limit(0)
                prior = grouped_sums(empty_snap, group_by, sum_cols, count_col)
        return apply_agg_delta(prior, batch_df, group_by, sum_cols, count_col)

    _run_tx_foreachbatch(
        diff_stream, agg_path, checkpoint_path, _merge,
        timeout_sec=timeout_sec, app="incremental_agg",
    )


def changefeed_to_diff(
    feed: DataFrame, cols: list[str]
) -> DataFrame:
    """Adapt a `txtable` change-feed batch (table columns +
    `_change_type` in {'insert','delete'} + `_commit_version`) to the
    `snapshot_diff` shape `apply_agg_delta` consumes: inserts become
    after-images (op I), deletes become before-images (op D). A rewrite
    commit (compact/erase/merge) arrives as delete+insert of the
    overlapping rows; the delta algebra nets them out, so a pure-layout
    rewrite contributes zero — only logical changes move the aggregate."""
    types = dict(feed.dtypes)

    def side(df: DataFrame, op: str, prefix: str, other: str) -> DataFrame:
        return df.select(
            F.lit(op).alias("op"),
            *[F.col(c).alias(f"{prefix}_{c}") for c in cols],
            *[
                F.lit(None).cast(types[c]).alias(f"{other}_{c}")
                for c in cols
            ],
        )

    return side(
        feed.filter(F.col("_change_type") == "insert"), "I", "new", "old"
    ).unionByName(
        side(feed.filter(F.col("_change_type") == "delete"), "D", "old", "new")
    )


def run_txtable_agg_foreachbatch(
    feed_stream: DataFrame,
    agg_path: str,
    checkpoint_path: str,
    group_by: list[str],
    sum_cols: list[str],
    *,
    count_col: str = "n_rows",
    timeout_sec: int = 180,
) -> None:
    """End-to-end incremental view maintenance ON the table format: the
    input is a `txtable` change-feed stream (sources/tx_source.py —
    commit-version offsets over a transaction-log table), the state is a
    maintained grouped SUM/COUNT aggregate, and the state itself lives on
    a transaction-log table with `(app, batch_id)` exactly-once tokens.
    Per micro-batch the cost is |changed files| + |aggregate| — the base
    table is never re-scanned, and a crashed/replayed batch can neither
    double-count nor skip. This is the composition the pieces were built
    for: gold tables on the log (pipeline/run.py) stream their own changes
    into downstream aggregates with no extra CDC storage."""
    from ..operators.cdc import apply_agg_delta, grouped_sums

    cols = list(group_by) + list(sum_cols)

    def _merge(spark: SparkSession, batch_df: DataFrame, prior) -> DataFrame:
        diff = changefeed_to_diff(batch_df, cols)
        if prior is None:
            empty_snap = batch_df.select(*cols).limit(0)
            prior = grouped_sums(empty_snap, group_by, sum_cols, count_col)
        return apply_agg_delta(prior, diff, group_by, sum_cols, count_col)

    _run_tx_foreachbatch(
        feed_stream, agg_path, checkpoint_path, _merge,
        timeout_sec=timeout_sec, app="txtable_agg",
    )


def _run_tx_foreachbatch(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_path: str,
    merge_fn,
    *,
    timeout_sec: int = 180,
    app: str = "state",
) -> None:
    """Transaction-log state store: the maintained state is a txlog TABLE.
    Per micro-batch: read the current snapshot as the prior, fold the
    batch with ``merge_fn(spark, batch_df, prior)``, and `tx_overwrite`
    the result under the idempotence token ``(app, batch_id)`` — a batch
    REPLAYED after a sink-side crash finds its token already folded and
    commits nothing (exactly-once, the Delta txn-action design), so no
    completeness markers or manual GC: history is the log, retention is
    `tx_vacuum`, and consumers read the state with `tx_read`
    (time-travelable to any retained batch's version).
    The prior-read / publish race needs no care: data files are immutable
    and the overwrite is one atomic commit. ``merge_fn`` must be
    DETERMINISTIC given (batch, prior) — that is what makes a retried
    batch reproduce the same state. Used by the incremental-aggregate,
    change-feed aggregate and CMS maintenance jobs; any mergeable state
    rides the same scaffold."""
    from ..operators.txlog import tx_exists, tx_read, tx_snapshot, tx_vacuum

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.txlog import tx_overwrite

        spark = batch_df.sparkSession
        prior = None
        if tx_exists(state_path):
            snap = tx_snapshot(state_path)
            if int(snap["txns"].get(app, -1)) >= int(batch_id):
                return  # replayed batch — already folded, exactly-once
            if snap["files"]:
                prior = tx_read(spark, state_path)
        updated = merge_fn(spark, batch_df, prior)
        tx_overwrite(updated, state_path, txn=(app, int(batch_id)))
        # retention: current + retry-safety prior STATE. Each folded
        # batch appends TWO commits (overwrite + this vacuum), so
        # 2 states = 4 versions.
        tx_vacuum(state_path, retain_versions=4)

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def read_current_agg(spark: SparkSession, agg_path: str) -> DataFrame:
    """Current maintained-aggregate state: the transaction-log table's
    latest snapshot (an in-flight batch is never visible)."""
    from ..operators.txlog import tx_exists, tx_read

    if not tx_exists(agg_path):
        raise FileNotFoundError(f"no maintained aggregate under {agg_path}")
    return tx_read(spark, agg_path)


def correlated_event_stream(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    watermark: str = "2 hours",
    band_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM band join: pair two live event streams on an equi-key
    within a strict event-time band |l.ts − r.ts| < band_seconds — the
    streaming twin of the batch band join behind the forecast-accuracy view
    (operators/band_join.py; reference semantics create_views.sql:109-115,
    re-expressed for two unbounded sources).

    State design (the part batch joins never face): BOTH sides are
    watermarked and the join condition bounds event-time distance, so Spark
    derives an eviction horizon = watermark + band for each side's buffered
    rows — state is O(arrival rate × (watermark + band)), not O(stream
    history). Without the time-range condition the state would grow
    forever; without the watermarks the join would refuse to run in append
    mode. `how="leftOuter"` emits unmatched left rows (null right columns)
    once the watermark closes their band — same contract as the batch
    band_join's left variant.
    """
    l = left.select(
        F.col(key).alias("join_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
        F.col("value").alias("l_value"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", watermark)
    band = F.expr(f"INTERVAL {band_seconds} SECONDS")
    cond = (
        (F.col("join_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts") - band)
        & (F.col("r_ts") < F.col("l_ts") + band)
    )
    return l.join(r, cond, how).select(
        "join_key", "l_id", "r_id", "l_ts", "r_ts", "l_value", "r_value"
    )


def attributed_event_stream(
    points: DataFrame,
    openers: DataFrame,
    *,
    key: str = "user_id",
    watermark: str = "2 hours",
    window_seconds: int = 7200,
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM attribution (point-in-window) join: each `openers` row
    opens a half-open event-time window `[ts, ts+window_seconds)`; match
    every same-key `points` row inside it — the streaming twin of the batch
    interval_join (operators/interval_join.py), with the ASYMMETRIC range
    the band join can't express (a click 1s before the purchase must NOT
    attribute; 1s after must).

    Same bounded-state contract as correlated_event_stream: both sides
    watermarked + a time-range join condition give Spark an eviction
    horizon of watermark + window per side. `how="leftOuter"` preserves
    unattributed points once the watermark passes their last possible
    window. Boundary semantics are exactly the batch operator's: start
    inclusive, end exclusive, full timestamp precision.
    """
    p = points.select(
        F.col(key).alias("join_key"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("point_id"),
    ).withWatermark("p_ts", watermark)
    o = openers.select(
        F.col(key).alias("o_key"),
        F.col("ts").alias("o_ts"),
        F.col("event_id").alias("opener_id"),
    ).withWatermark("o_ts", watermark)
    win = F.expr(f"INTERVAL {window_seconds} SECONDS")
    cond = (
        (F.col("join_key") == F.col("o_key"))
        & (F.col("p_ts") >= F.col("o_ts"))
        & (F.col("p_ts") < F.col("o_ts") + win)
    )
    return p.join(o, cond, how).select(
        "join_key", "point_id", "opener_id", "p_ts", "o_ts"
    )


def hourly_distinct_users(events: DataFrame, *, watermark: str = "1 hour",
                          lg_k: int = 12) -> DataFrame:
    """Streaming distinct-user counts per tumbling hour via mergeable HLL
    sketches — the streaming twin of operators/rollup_time.distinct_rollup.

    Exact streaming COUNT(DISTINCT) would hold every seen id in state;
    `hll_sketch_agg` keeps 2^lg_k-byte registers per (window, key) instead,
    and the emitted sketch column stays MERGEABLE downstream: a batch job
    unions finalized hourly sketches into day/month rollups without ever
    re-reading the stream (the lambda-architecture join-point, minus the
    lambda: one code path, one error model). State is bounded by
    |open windows|·|keys|·KB regardless of id cardinality.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.expr(f"hll_sketch_agg(user_id, {lg_k})").alias("sketch"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "sketch",
            F.expr("CAST(hll_sketch_estimate(sketch) AS LONG)").alias("n_users_est"),
        )
    )


def run_cms_foreachbatch(
    stream_df: DataFrame,
    col: str,
    cms_path: str,
    checkpoint_path: str,
    *,
    width: int = 2048,
    depth: int = 5,
    timeout_sec: int = 180,
) -> None:
    """Streaming heavy-hitter maintenance: each micro-batch's Count-Min
    sketch (operators/cms.py) merges into a persisted sketch — frequency
    state over an unbounded stream in d·width longs, never a per-key table.

    Exactly-once by the same transaction-log state store as
    `run_incremental_agg_foreachbatch`: merge is an exact integer SUM, so
    a retried batch re-merging against the same prior produces the
    identical sketch. `read_current_agg(spark, cms_path)` reads the live
    sketch for `cms_estimate`/`cms_heavy_hitters` probes."""
    from ..operators.cms import cms_build, cms_merge

    def _merge(spark, batch_df: DataFrame, prior) -> DataFrame:
        batch_sketch = cms_build(batch_df, col, width=width, depth=depth)
        return batch_sketch if prior is None else cms_merge(prior, batch_sketch)

    _run_tx_foreachbatch(
        stream_df, cms_path, checkpoint_path, _merge,
        timeout_sec=timeout_sec, app="cms",
    )
