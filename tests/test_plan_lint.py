"""Plan linter: each hazard class fires on a constructed bad plan and the
registry's own queries never produce an error-level finding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from weather_data_warehouse_aws_spark.plans.lint import lint_plan, lint_report
from weather_data_warehouse_aws_spark.sources.tables import load_table


def _codes(df, level=None):
    finds = lint_plan(df)
    return {f.code for f in finds if level is None or f.level == level}


def test_cartesian_fires(spark, sf_smoke_dir):
    a = load_table(spark, sf_smoke_dir, "nation")
    b = load_table(spark, sf_smoke_dir, "region")
    # force a true cartesian (crossJoin of two shuffled sides)
    bad = a.repartition(4).crossJoin(b.repartition(4).hint("shuffle_replicate_nl"))
    assert "cartesian" in _codes(bad, "error")


def test_row_udf_fires(spark, sf_smoke_dir):
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType(), useArrow=False)
    df = load_table(spark, sf_smoke_dir, "nation").select(slow("n_nationkey"))
    assert "python-row-udf" in _codes(df, "error")


def test_single_partition_window_fires(spark, sf_smoke_dir):
    df = load_table(spark, sf_smoke_dir, "orders").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert "single-partition" in _codes(df, "warn")


def test_clean_plan_is_clean(spark, sf_smoke_dir):
    df = (
        load_table(spark, sf_smoke_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .count()
    )
    assert _codes(df, "error") == set()
    assert "cartesian" not in _codes(df)
    assert isinstance(lint_report(df), str)  # report renders


@pytest.mark.parametrize(
    "name",
    ["pricing_summary", "band_joins", "interval_join", "set_ops",
     "dedup_clusters", "multimodal_features"],
)
def test_registry_queries_have_no_error_findings(spark, sf_smoke_dir, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf_smoke_dir)
    errors = {f.code for f in lint_plan(df) if f.level == "error"}
    assert errors == set(), errors


def test_no_pushdown_fires_on_derived_column_filter(spark, sf_smoke_dir):
    docs = load_table(spark, sf_smoke_dir, "documents")
    derived = docs.filter((F.col("doc_id") % 7).cast("string") == "3")
    assert "no-pushdown" in _codes(derived, "warn")
    raw = docs.filter(F.col("doc_id") == 3)
    assert "no-pushdown" not in _codes(raw)


def test_unsized_rdd_fires_on_python_list_frame(spark):
    df = spark.createDataFrame([(1, 2)], "x long, y long")
    assert "unsized-rdd" in _codes(df, "warn")


def test_unsized_rdd_quiet_on_checkpoint_and_arrow_frames(spark):
    import pyarrow as pa

    assert "unsized-rdd" not in _codes(spark.range(5).localCheckpoint())
    arrow = spark.createDataFrame(
        pa.table({"x": pa.array([1], pa.int64()), "y": pa.array([2], pa.int64())}),
        "x long, y long",
    )
    assert "unsized-rdd" not in _codes(arrow)


def test_curation_packed_has_no_unsized_rdd(spark, sf_smoke_dir):
    from weather_data_warehouse_aws_spark.pipeline.curate import (
        curate_corpus,
        release_curation,
    )

    docs = load_table(spark, sf_smoke_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    stages = curate_corpus(docs, eval_docs=eval_docs)
    try:
        assert stages["dup_pairs"].count() > 0  # the graph stage has edges
        assert "unsized-rdd" not in _codes(stages["packed"])
    finally:
        release_curation(stages)
