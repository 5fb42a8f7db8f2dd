"""SparkSession factory with scale-sane defaults.

The reference delegates all physical execution to Glue 4.0 (Spark 3.3) and
Athena; the only knobs it turns are partition layout and columnar format
(reference ``README.md:295-301``). Here we pin the configs that matter for a
local[32] run that must *model* a 1000-executor run:

* AQE on (coalesce + skew-join): runtime re-planning replaces hand-tuning.
* ``spark.sql.session.timeZone=UTC``: Athena/Presto evaluates ``TO_UNIXTIME``
  in UTC (reference ``create_views.sql:112-114``); we match, and it also makes
  parquet NTZ-vs-LTZ timestamp reads agree with the DuckDB oracle.
* shuffle partitions sized for the test scale; AQE coalesces the rest.
* ``spark.sql.codegen.cache.maxEntries`` = `CODEGEN_CACHE_ENTRIES` (2000;
  Spark's default is 100). Spark compiles every distinct generated class
  with Janino (several ms each) and keeps it in this LRU cache. One daily
  load (land a day, `run_pipeline`, the four dashboard queries) uses
  130-160 distinct classes — more than 100 — so under the default each
  load evicted the previous load's classes and compiled about 150 again;
  a `curate_corpus` pass recompiled 60-85. Counted with an unbounded
  cache (compiles = distinct classes), a whole daily_load benchmark run
  uses 287 classes and a curation run 152, about 440 in one process; the
  tier-1 test suite, which plans every registry query, had compiled
  7,931 after 770 of its 823 tests. 2000 holds the warehouse and
  curation working sets with over 4x headroom for ad-hoc queries, while
  a process that plans thousands of distinct queries (the test suite)
  still evicts rather than keep every class it ever compiled. With it, a
  warm daily load compiles 13-35 classes (plans whose literals change
  per load: write timestamps, batch dates) and a warm curation pass 0-6.
  It is a STATIC conf: only a session built by `get_spark` gets it, and
  `ensure_session_conf` cannot apply it to a session built elsewhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Entries in Spark's generated-class cache (static conf
#: ``spark.sql.codegen.cache.maxEntries``); the module docstring says how
#: the size was chosen.
CODEGEN_CACHE_ENTRIES = 2000


def engine_conf() -> dict[str, str]:
    """The session settings `get_spark` builds with, as a conf dict, so a
    tool that needs its own builder (e.g. with the UI on) runs the same
    engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return {
        "spark.master": os.environ.get("SPARK_MASTER", f"local[{cpus}]"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # size post-shuffle partitions by BYTES (advisory target), not by
        # core count: parallelismFirst=true (Spark's compat default)
        # pins small stages at defaultParallelism — 32 near-empty tasks
        # per stage at test scale, and partition counts coupled to the
        # local core count instead of the data at any scale. false is
        # the setting Spark's own tuning docs recommend; the advisory
        # size stays env-tunable for cluster deployments.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
            "SPARK_GRAFT_ADVISORY_PART", "64m"
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # static: only a session built here gets it (ensure_session_conf
        # cannot raise it on a session built elsewhere)
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }


def get_spark(app_name: str = "weather_data_warehouse_aws_spark") -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    for key, value in engine_conf().items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs we rely on to a session we didn't build.

    The correctness driver constructs its own SparkSession; semantics that
    depend on session conf (``from_unixtime``, ``to_date`` on timestamps,
    parquet NTZ reads) must not silently drift, so every public query entry
    point routes through here. Static confs (the codegen cache size) are
    fixed when a session is first built and cannot be applied here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # see get_spark: byte-sized post-shuffle partitions (runtime-settable)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
    )
    # the synthetic `events` table carries TIMESTAMP(NANOS) parquet columns,
    # which vanilla Spark refuses to read; read them as long and convert in
    # the loader (sources/tables.py) — values are micro-precision in practice
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
