"""Test-data table loaders (parquet sources, SURVEY.md §2.1 S3).

The reference reads silver/gold parquet with ``spark.read.parquet``
(``build_dimensions.py:28,53,153-154``). Here every generic-operator query
loads from the driver-generated TPC-H-ish parquet at
``/root/testdata/sf*/`` (TESTDATA.md).

Scale note: `spark.read.parquet` on a directory of files gives splittable,
column-pruned, predicate-pushdown scans out of the box — at 100 TB the same
call works as long as files are ~128 MB-1 GB; nothing here assumes
single-file inputs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_session_conf

# Per-session PLAN cache: building a reader + resolving its schema costs
# ~0.1s of serial driver/py4j latency per call, and the suite calls
# load_table dozens of times per run — pure construction overhead that is
# identical at any cluster size. DataFrame plans are immutable, so
# handing every caller the same object is safe; NO data is cached (each
# action still scans the parquet), so this is not result memoization.
# WeakKey so a retired session's entries die with it.
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; accepts `<dir>/<name>.parquet` layout.

    `events.ts` is TIMESTAMP(NANOS) in parquet, which Spark reads only as
    long (`spark.sql.legacy.parquet.nanosAsLong`); convert back to a real
    timestamp here (integer DIV — double division would lose precision on
    10^18-scale epoch values). The data is micro-precision, so this is
    lossless and matches DuckDB's TIMESTAMP_NS reads.
    """
    cache = _PLAN_CACHE.setdefault(spark, {})
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    # staleness guard: the cached reader pins its file listing + inferred
    # schema at first load, so a regenerated/extended table would read
    # stale through the cache. Keying on the path's (mtime, size) makes a
    # rewrite (file replaced) or a directory add/remove (dir mtime bumps)
    # miss the cache instead of silently reading old metadata; one stat()
    # per call is noise next to the ~0.1s reader construction it saves.
    # Not covered: for a directory table, rewriting a part file IN PLACE
    # (same name, opened for write) changes neither the directory's mtime
    # nor its size, so the cached reader keeps the old footer/listing —
    # regenerate by writing new files (or a new directory), not in place.
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)  # let the reader raise its own error
    df = cache.get(key)
    if df is None:
        ensure_session_conf(spark)
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        cache[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view (SURVEY.md §2.1 S9/S10 analog).

    The reference's Glue Crawler + `weather_dwh` catalog becomes the Spark
    session catalog; views are metadata-only, so this is free at any scale.
    """
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
