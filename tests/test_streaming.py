"""Structured Streaming tests: the streaming jobs must agree with their
batch twins when the stream is fully drained (availableNow)."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.sources.tables import load_table
from weather_data_warehouse_aws_spark.streaming.jobs import (
    hourly_event_counts,
    read_events_stream,
    run_to_memory,
    session_windows,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_smoke_dir, tmp_path_factory):
    """Re-land events as a multi-file parquet directory (a stream source
    needs a directory it can discover files in)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_smoke_dir, "events").repartition(8).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_streaming_hourly_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    result = run_to_memory(hourly_event_counts(stream), "hourly_counts")

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    got = {(r.window_start, r.event_type): (r.n_events, r.total_value) for r in result.collect()}
    want = {(r.window_start, r.event_type): (r.n_events, r.total_value) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_streaming_session_windows(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    result = run_to_memory(session_windows(stream, gap="30 minutes"), "session_counts")
    rows = result.collect()
    assert len(rows) > 0
    # session windows are disjoint per user and each holds >= 1 event
    assert all(r.n_events >= 1 for r in rows)
    per_user_total = {}
    for r in rows:
        per_user_total[r.user_id] = per_user_total.get(r.user_id, 0) + r.n_events
    batch_counts = {
        r.user_id: r.n
        for r in spark.read.parquet(events_dir).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_user_total == batch_counts


def test_session_window_agrees_with_gaps_and_islands(spark, events_dir):
    """The built-in session_window (batch mode) and the SQL gaps-and-islands
    sessionization must carve identical sessions (same start/end/count)."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(events_dir)
    builtin = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("start"), "n_events")
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    manual = (
        ev.withColumn("prev_ts", F.lag("ts").over(w_user))
        .withColumn(
            "is_break",
            (
                F.col("prev_ts").isNull()
                | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 1800)
            ).cast("int"),
        )
        .withColumn("session_seq", F.sum("is_break").over(w_user))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n_events"))
        .select("user_id", "start", "n_events")
    )
    got = {(r.user_id, r.start): r.n_events for r in builtin.collect()}
    want = {(r.user_id, r.start): r.n_events for r in manual.collect()}
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path_factory):
    """Append-mode windowed agg with a 1-hour watermark: a row arriving
    after the watermark passed its window must NOT change emitted results —
    the bounded-state guarantee that makes 100 TB streams feasible."""
    import datetime as dt
    import os

    src = str(tmp_path_factory.mktemp("late_src"))
    out = str(tmp_path_factory.mktemp("late_out")) + "/res"
    ckpt = str(tmp_path_factory.mktemp("late_ckpt"))

    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("append").parquet(src)

    B = dt.datetime(2024, 6, 1, 10, 0, 0)

    def run():
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # append mode requires grouping on the window STRUCT itself —
        # projecting .start before the agg severs event-time tracking
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("w"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: on-time rows across 10:00 and 11:00 windows, max ts 13:30
    write_batch("b1", [
        (1, B, 1, "view", 1.0, "{}"),
        (2, B + dt.timedelta(minutes=30), 1, "view", 1.0, "{}"),
        (3, B + dt.timedelta(hours=1, minutes=10), 1, "view", 1.0, "{}"),
        (4, B + dt.timedelta(hours=3, minutes=30), 1, "view", 1.0, "{}"),
    ])
    run()
    emitted1 = {
        (str(r.w), r.n) for r in spark.read.parquet(out).collect()
    }
    # watermark after batch1 = 13:30 - 1h = 12:30 → windows ending ≤ 12:30
    # (the 10:00 and 11:00 windows) are final and emitted
    assert (str(B), 2) in emitted1
    assert (str(B + dt.timedelta(hours=1)), 1) in emitted1

    # batch 2: a LATE row for the already-final 10:00 window + a fresh row
    # advancing the watermark
    write_batch("b2", [
        (5, B + dt.timedelta(minutes=45), 1, "view", 1.0, "{}"),  # late, dropped
        (6, B + dt.timedelta(hours=6), 1, "view", 1.0, "{}"),
    ])
    run()
    final = {str(r.w): r.n for r in spark.read.parquet(out).collect()}
    assert final[str(B)] == 2, "late row leaked into a finalized window"


def test_stream_static_enrichment_join(spark, events_dir):
    """Stream-static broadcast join: every streamed event carries its dim
    attributes; dim misses stay null (left join)."""
    from weather_data_warehouse_aws_spark.streaming.jobs import (
        enriched_event_stream,
        run_to_memory,
    )

    users = spark.createDataFrame(
        [(i, f"tier{i % 3}") for i in range(0, 120)], "user_id bigint, tier string"
    )
    stream = read_events_stream(spark, events_dir)
    enriched = enriched_event_stream(stream, users)
    agg = enriched.groupBy("tier").count()
    got = {r.tier: r["count"] for r in run_to_memory(agg, "enriched_counts").collect()}

    batch = (
        spark.read.parquet(events_dir)
        .join(F.broadcast(users), "user_id", "left")
        .groupBy("tier")
        .count()
    )
    want = {r.tier: r["count"] for r in batch.collect()}
    assert got == want
    assert None in want or set(want) >= {"tier0", "tier1", "tier2"}


def test_foreachbatch_upsert_sink(spark, events_dir, tmp_path_factory):
    """foreachBatch keyed upsert: micro-batches touching the SAME partitions
    merge instead of clobbering (the naive per-batch overwrite loses rows);
    checkpointed re-runs are no-ops."""
    import pyspark.sql.functions as SF

    from weather_data_warehouse_aws_spark.operators.txlog import tx_read
    from weather_data_warehouse_aws_spark.streaming.jobs import run_upsert_foreachbatch

    out = str(tmp_path_factory.mktemp("feb_out")) + "/silver"
    ckpt = str(tmp_path_factory.mktemp("feb_ckpt"))
    stream = read_events_stream(spark, events_dir).withColumn("day", SF.to_date("ts"))
    # 8 source files, maxFilesPerTrigger=4 -> 2 micro-batches over the same days
    run_upsert_foreachbatch(stream, out, ckpt, "day", ["event_id"])
    n1 = tx_read(spark, out).count()
    assert n1 == spark.read.parquet(events_dir).count()
    assert tx_read(spark, out).select("event_id").distinct().count() == n1
    # re-run: checkpoint marks everything processed -> no-op, no duplicates
    run_upsert_foreachbatch(stream, out, ckpt, "day", ["event_id"])
    assert tx_read(spark, out).count() == n1


def test_streaming_dedup_exactly_once(spark, events_dir, tmp_path_factory):
    """An at-least-once source (every file landed twice, replicas split
    across micro-batches) must drain to exactly-once per event_id."""
    from weather_data_warehouse_aws_spark.streaming.jobs import deduped_event_stream

    d = str(tmp_path_factory.mktemp("events_dup"))
    ev = spark.read.parquet(events_dir)
    ev.repartition(4).write.mode("append").parquet(d)
    ev.repartition(4).write.mode("append").parquet(d)

    stream = read_events_stream(spark, d)
    # watermark far beyond the data's span: no replica is ever "too late",
    # so dedup must be total
    result = run_to_memory(
        deduped_event_stream(stream, watermark="3650 days"),
        "dedup_events",
        mode="append",
    )
    got = result.groupBy("event_id").agg(F.count("*").alias("n")).collect()
    assert all(r.n == 1 for r in got), "a duplicate survived the dedup"
    assert len(got) == ev.select("event_id").distinct().count()


def test_stream_stream_band_join_matches_batch(spark, events_dir, tmp_path_factory):
    """Stream-stream band join (watermarked, time-range condition) must
    produce exactly the batch band join's pairs once both streams drain."""
    from weather_data_warehouse_aws_spark.streaming.jobs import (
        correlated_event_stream,
        read_events_stream,
    )

    ev = spark.read.parquet(events_dir)
    ldir = str(tmp_path_factory.mktemp("ss_left"))
    rdir = str(tmp_path_factory.mktemp("ss_right"))
    ev.filter(F.col("event_id") % 2 == 0).repartition(4).write.mode("overwrite").parquet(ldir)
    ev.filter(F.col("event_id") % 2 == 1).repartition(4).write.mode("overwrite").parquet(rdir)

    joined = correlated_event_stream(
        read_events_stream(spark, ldir), read_events_stream(spark, rdir)
    )
    got = {
        (r.l_id, r.r_id)
        for r in run_to_memory(joined, "ss_band", mode="append").collect()
    }

    lb, rb = spark.read.parquet(ldir), spark.read.parquet(rdir)
    want = {
        (r.l_id, r.r_id)
        for r in lb.alias("l")
        .join(
            rb.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") > F.col("l.ts") - F.expr("INTERVAL 3600 SECONDS"))
            & (F.col("r.ts") < F.col("l.ts") + F.expr("INTERVAL 3600 SECONDS")),
        )
        .select(F.col("l.event_id").alias("l_id"), F.col("r.event_id").alias("r_id"))
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_hll_distinct_matches_batch_sketch(spark, events_dir):
    """Streaming HLL distinct-user rollup ≡ the batch sketch on the same
    data when drained: identical estimates per (window, event_type), and
    the emitted sketches keep MERGING downstream — the daily union of the
    streamed hourly sketches equals the direct daily batch sketch."""
    from weather_data_warehouse_aws_spark.streaming.jobs import hourly_distinct_users

    stream = read_events_stream(spark, events_dir)
    result = run_to_memory(hourly_distinct_users(stream), "hourly_hll")

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), "event_type")
        .agg(F.expr("CAST(hll_sketch_estimate(hll_sketch_agg(user_id, 12)) AS LONG) AS n"))
    )
    got = {(r.window_start, r.event_type): r.n_users_est for r in result.collect()}
    want = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert got == want and len(got) > 0

    daily_from_stream = {
        (r.d, r.event_type): r.n
        for r in result.groupBy(
            F.date_trunc("day", "window_start").alias("d"), "event_type"
        )
        .agg(F.expr("CAST(hll_sketch_estimate(hll_union_agg(sketch)) AS LONG) AS n"))
        .collect()
    }
    daily_direct = {
        (r.d, r.event_type): r.n
        for r in spark.read.parquet(events_dir)
        .groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(F.expr("CAST(hll_sketch_estimate(hll_sketch_agg(user_id, 12)) AS LONG) AS n"))
        .collect()
    }
    assert daily_from_stream == daily_direct


def test_stream_stream_attribution_join_matches_batch(spark, events_dir, tmp_path_factory):
    """Stream-stream point-in-window attribution join ≡ the batch
    interval_join on drain, including the asymmetric half-open bounds
    (planted exact-boundary rows: at-start attributes, at-end does not,
    1s-before does not)."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.operators.interval_join import interval_join
    from weather_data_warehouse_aws_spark.streaming.jobs import (
        attributed_event_stream,
        read_events_stream,
    )

    ev = spark.read.parquet(events_dir)
    pdir = str(tmp_path_factory.mktemp("att_points"))
    odir = str(tmp_path_factory.mktemp("att_openers"))
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    planted_openers = spark.createDataFrame(
        [(900_001, base, 999_001, "purchase", 1.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    planted_points = spark.createDataFrame(
        [
            (900_101, base - dt.timedelta(seconds=1), 999_001, "click", 1.0, "{}"),   # before -> no
            (900_102, base, 999_001, "click", 1.0, "{}"),                             # at start -> yes
            (900_103, base + dt.timedelta(seconds=7199), 999_001, "click", 1.0, "{}"),# last in -> yes
            (900_104, base + dt.timedelta(seconds=7200), 999_001, "click", 1.0, "{}"),# at end -> no
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    clicks = ev.filter(F.col("event_type") == "click").unionByName(planted_points)
    purchases = ev.filter(F.col("event_type") == "purchase").unionByName(planted_openers)
    clicks.repartition(4).write.mode("overwrite").parquet(pdir)
    purchases.repartition(4).write.mode("overwrite").parquet(odir)

    joined = attributed_event_stream(
        read_events_stream(spark, pdir), read_events_stream(spark, odir)
    )
    got = {
        (r.point_id, r.opener_id)
        for r in run_to_memory(joined, "ss_attr", mode="append").collect()
    }

    want = {
        (r.point_id, r.opener_id)
        for r in interval_join(
            spark.read.parquet(pdir).select(
                "user_id", F.col("event_id").alias("point_id"), F.col("ts").alias("p_ts")
            ),
            spark.read.parquet(odir).select(
                "user_id",
                F.col("event_id").alias("opener_id"),
                F.col("ts").alias("w_start"),
                (F.col("ts") + F.expr("INTERVAL 7200 SECONDS")).alias("w_end"),
            ),
            on=["user_id"], point_ts="p_ts", start_ts="w_start",
            end_ts="w_end", bucket_sec=3600,
        ).collect()
    }
    assert len(want) > 0
    assert got == want
    # the planted boundary rows landed exactly as the half-open contract says
    assert (900_102, 900_001) in got and (900_103, 900_001) in got
    assert (900_101, 900_001) not in got and (900_104, 900_001) not in got


def test_foreachbatch_upsert_preserves_null_partition(spark, tmp_path_factory):
    """Existing rows in the NULL partition (__HIVE_DEFAULT_PARTITION__)
    must survive a batch that touches it: only matched keys update."""
    from weather_data_warehouse_aws_spark.operators.txlog import tx_overwrite, tx_read
    from weather_data_warehouse_aws_spark.streaming.jobs import (
        run_upsert_foreachbatch,
    )

    out = str(tmp_path_factory.mktemp("feb_null")) + "/t"
    ckpt = str(tmp_path_factory.mktemp("feb_null_ckpt"))
    feed = str(tmp_path_factory.mktemp("feb_null_feed")) + "/data"

    # seed the target: two rows in the NULL partition, one in a real one
    seed = spark.createDataFrame(
        [(1, None, "keep1"), (2, None, "keep2"), (3, "d1", "keep3")],
        "id bigint, day string, v string",
    )
    tx_overwrite(seed, out, partition_by=["day"])

    # one batch: update id=1 (null partition) + insert id=4 (null partition)
    batch = spark.createDataFrame(
        [(1, None, "updated"), (4, None, "new")],
        "id bigint, day string, v string",
    )
    batch.coalesce(1).write.parquet(feed)
    stream = (
        spark.readStream.schema("id bigint, day string, v string")
        .parquet(feed)
    )
    run_upsert_foreachbatch(stream, out, ckpt, "day", ["id"])

    got = {r.id: (r.day, r.v) for r in tx_read(spark, out).collect()}
    assert got == {
        1: (None, "updated"),   # upserted
        2: (None, "keep2"),     # existing null-partition row SURVIVES
        3: ("d1", "keep3"),     # untouched partition intact
        4: (None, "new"),       # inserted
    }


def test_scd2_point_in_time_stream_enrichment(spark, tmp_path_factory):
    """Events joined to the SCD2 version effective AT event time: an event
    before the segment change sees the old attribute, one after sees the
    new one, a boundary-date event belongs to the NEW version, and an
    unknown key null-extends."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.streaming.jobs import (
        run_to_memory,
        scd2_enriched_stream,
    )

    dim = spark.createDataFrame(
        [
            (1, "OLD", dt.date(2024, 1, 1), dt.date(2024, 2, 1), False),
            (1, "NEW", dt.date(2024, 2, 1), dt.date(9999, 12, 31), True),
            (2, "ONLY", dt.date(2024, 1, 1), dt.date(9999, 12, 31), True),
        ],
        "user_id int, segment string, effective_from_date date, "
        "effective_to_date date, is_current boolean",
    )
    feed = str(tmp_path_factory.mktemp("scd2_feed")) + "/events"
    spark.createDataFrame(
        [
            (100, 1, dt.datetime(2024, 1, 15, 12, 0)),   # OLD era
            (101, 1, dt.datetime(2024, 2, 1, 0, 30)),    # boundary day -> NEW
            (102, 1, dt.datetime(2024, 3, 1, 9, 0)),     # NEW era
            (103, 2, dt.datetime(2024, 1, 2, 8, 0)),     # single-version key
            (104, 9, dt.datetime(2024, 1, 2, 8, 0)),     # unknown key
        ],
        "event_id int, user_id int, ts timestamp",
    ).write.parquet(feed)

    stream = spark.readStream.schema(
        "event_id int, user_id int, ts timestamp"
    ).parquet(feed)
    out = scd2_enriched_stream(stream, dim)
    rows = run_to_memory(out, "scd2_enriched", mode="append").collect()
    got = {r.event_id: r.segment for r in rows}
    assert got == {100: "OLD", 101: "NEW", 102: "NEW", 103: "ONLY", 104: None}


def test_foreachbatch_upsert_tx_mode_moves_partitions(spark, tmp_path_factory):
    """Each micro-batch is one atomic tx_merge commit, and a key whose
    partition value CHANGES is retired from its old partition (the key
    scan finds it wherever it lives; a partition-scoped overwrite can't)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_history,
        tx_read,
    )
    from weather_data_warehouse_aws_spark.streaming.jobs import (
        run_upsert_foreachbatch,
    )

    out = str(tmp_path_factory.mktemp("feb_tx")) + "/t"
    ckpt = str(tmp_path_factory.mktemp("feb_tx_ckpt"))
    feed = str(tmp_path_factory.mktemp("feb_tx_feed")) + "/data"

    spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "id bigint, day string, v string",
    ).coalesce(1).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema("id bigint, day string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    run_upsert_foreachbatch(stream, out, ckpt, "day", ["id"])
    assert tx_read(spark, out).count() == 3

    # id=2 MOVES d1 -> d2 (updated value), id=4 inserts
    spark.createDataFrame(
        [(2, "d2", "b2"), (4, "d1", "d")], "id bigint, day string, v string"
    ).coalesce(1).write.mode("append").parquet(feed)
    run_upsert_foreachbatch(stream, out, ckpt, "day", ["id"])
    got = {r.id: (r.day, r.v) for r in tx_read(spark, out).collect()}
    assert got == {
        1: ("d1", "a"),
        2: ("d2", "b2"),   # moved AND updated; old d1 copy retired
        3: ("d2", "c"),
        4: ("d1", "d"),
    }
    assert [h["op"] for h in tx_history(out)].count("merge") >= 2

    # checkpointed re-run: no-op, same state, no extra commits
    n_commits = len(tx_history(out))
    run_upsert_foreachbatch(stream, out, ckpt, "day", ["id"])
    assert len(tx_history(out)) == n_commits
    assert tx_read(spark, out).count() == 4
