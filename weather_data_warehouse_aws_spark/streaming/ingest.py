"""Incremental bronze→silver ingestion as a file-source stream.

The reference's daily Glue job re-reads the ENTIRE bronze glob and appends
to silver — duplicating silver on every run (SURVEY §2.11 M4). The batch
fix is a transaction-log replace of the batch's dates
(pipeline/silver.py::write_silver_tx); the *architectural* fix is this:
bronze is a file-arrival stream, and Structured Streaming's checkpoint
tracks exactly which files have been processed. Re-running the job is a
no-op; a new day's files are picked up incrementally; a crashed run
resumes where it stopped. Exactly-once into the silver TRANSACTION-LOG
table: each micro-batch is one atomic `tx_append` under an
`(app, batch_id)` idempotence token, so sink-side replays commit nothing
and readers never observe a torn batch.

At scale this replaces the reference's EventBridge+full-rescan with a
long-running (or availableNow-cron) incremental job whose per-run cost is
O(new data), not O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.schemas import BRONZE_CURRENT_SCHEMA
from ..pipeline.silver import build_silver_current
from ..session import ensure_session_conf


def stream_bronze_current(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """File stream over the bronze landing zone (same glob as the batch
    reader, `bronze_to_silver.py:27`)."""
    ensure_session_conf(spark)
    return (
        spark.readStream.schema(BRONZE_CURRENT_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 8)
        .json(f"{bronze_dir}/raw/current/*/*/*/*/*.json")
    )


def run_silver_ingest(
    spark: SparkSession,
    bronze_dir: str,
    silver_path: str,
    checkpoint_path: str,
    *,
    timeout_sec: int = 180,
) -> None:
    """Drain all currently-available bronze files into the silver
    TRANSACTION-LOG table.

    Two idempotence layers compose here: the checkpoint means files
    already processed are never re-read, and the sink commits each
    micro-batch under a `(app, batch_id)` token (`tx_stream_sink`), so a
    batch replayed after a sink-side crash — foreachBatch is
    at-least-once — commits nothing the second time. Exactly-once into an
    ATOMIC table: a reader never sees a torn micro-batch, unlike the
    plain parquet sink this replaces (whose half-written files were
    visible until the stream's own _spark_metadata filtered them — but
    only to readers that went through the streaming sink's log). The
    silver transformation is the SAME function the batch path uses — one
    definition, two execution modes.
    """
    from ..operators.txlog import tx_stream_sink

    bronze = stream_bronze_current(spark, bronze_dir)
    silver = build_silver_current(bronze)
    q = (
        silver.writeStream.foreachBatch(
            tx_stream_sink(
                silver_path, "silver-ingest-current",
                partition_by=["observation_date"],
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def stream_bronze_forecast(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """File stream over the forecast bronze zone — the `explode(list)`
    flattening (X1) runs statelessly inside the stream."""
    from ..pipeline.schemas import BRONZE_FORECAST_SCHEMA

    ensure_session_conf(spark)
    return (
        spark.readStream.schema(BRONZE_FORECAST_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 8)
        .json(f"{bronze_dir}/raw/forecast/*/*/*/*/*.json")
    )


def run_forecast_ingest(
    spark: SparkSession,
    bronze_dir: str,
    silver_path: str,
    checkpoint_path: str,
    *,
    timeout_sec: int = 180,
) -> None:
    """Forecast twin of run_silver_ingest: 40-point explode + flatten +
    horizon math per micro-batch, checkpoint + `(app, batch_id)` tokens
    giving exactly-once into the silver transaction-log table. Same
    transformation function as the batch path."""
    from ..operators.txlog import tx_stream_sink
    from ..pipeline.silver import build_silver_forecast

    bronze = stream_bronze_forecast(spark, bronze_dir)
    silver = build_silver_forecast(bronze)
    q = (
        silver.writeStream.foreachBatch(
            tx_stream_sink(
                silver_path, "silver-ingest-forecast",
                partition_by=["forecast_created_date"],
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
