#!/usr/bin/env python
"""Per-query Spark JOB attribution: run a registry query (or bench pipeline)
with the UI enabled and dump every job's description, duration, and task
count — the measurement tool behind the job-count claims in
OPTIMIZATION_r*.md (guide §1: measure first; at sf0.1 the suite is
job-overhead-bound, so job COUNTS are the load-independent evidence).

Below each job it prints that job's completed stages: executor run time,
task count and the stage's RDD operation path from the status store's
operation graph. A scan of a Python-parallelized frame reads
`parallelize > mapPartitions > map > mapPartitions > ...` and a stage that
recurs with the same path across jobs is a relation rescanned per
consumer; a stage whose time sits in one `Generate` path is a heavy
explode.

Usage: python tools/profile_jobs.py <query> [iters]   (iters >= 1, default 2)
The first iteration warms codegen/broadcast caches; jobs are counted on
the LAST iteration only (group boundaries via job-group tags).

       python tools/profile_jobs.py daily_load [loads]   (loads >= 1, default 3)
Builds a 7-day warehouse from seed-7 bronze (4 extractions a day), lands
`loads` further days one `run_pipeline` each, and prints the LAST load's
jobs grouped by pipeline stage: every name `pipeline.run` calls into runs
under its own job group (`tx_overwrite` once per table), so a job counts
for the innermost stage that started it. Also prints the generated
classes Janino compiled during that load (`CodegenMetrics`).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _stage_path(status_store, stage_id: int) -> str:
    """The stage's RDD operation scopes in RDD-id order, e.g.
    `parallelize > mapPartitions > WholeStageCodegen (2) > Exchange`: each
    RDD is named by its innermost scope (the root cluster is the stage
    itself), consecutive repeats folded."""
    nodes: list[tuple[int, str]] = []

    def walk(cluster, scope):
        it = cluster.childNodes().iterator()
        while it.hasNext():
            node = it.next()
            nodes.append((node.id(), scope or node.name()))
        it = cluster.childClusters().iterator()
        while it.hasNext():
            child = it.next()
            walk(child, child.name())

    walk(status_store.operationGraphForStage(stage_id).rootCluster(), None)
    path: list[str] = []
    for _, name in sorted(nodes):
        if not path or path[-1] != name:
            path.append(name)
    return " > ".join(path)


def _print_jobs(spark, groups: list[str]) -> float:
    """Print every succeeded job of `groups` (in group order) with its
    completed stages; returns the summed job wall in ms."""
    from datetime import datetime

    app_id = spark.sparkContext.applicationId
    port = urllib.parse.urlparse(spark.sparkContext.uiWebUrl).port
    url = f"http://localhost:{port}/api/v1/applications/{app_id}/jobs?status=succeeded"
    jobs = json.loads(urllib.request.urlopen(url).read())
    stages_url = f"http://localhost:{port}/api/v1/applications/{app_id}/stages"
    status_store = spark.sparkContext._jsc.sc().statusStore()
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    total_ms = 0.0
    for group in groups:
        mine = sorted((j for j in jobs if j.get("jobGroup") == group),
                      key=lambda j: j["jobId"])
        if len(groups) > 1:
            print(f"[{group}] {len(mine)} jobs")
        for j in mine:
            t0 = datetime.strptime(j["submissionTime"], fmt)
            t1 = datetime.strptime(j["completionTime"], fmt)
            ms = (t1 - t0).total_seconds() * 1000
            total_ms += ms
            desc = (j.get("name") or j.get("description") or "")[:100]
            print(f"job {j['jobId']:>4} {ms:8.0f}ms tasks={j['numTasks']:>4} {desc}")
            for sid in sorted(j["stageIds"]):
                attempts = json.loads(urllib.request.urlopen(f"{stages_url}/{sid}").read())
                for st in attempts:
                    if st["status"] != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    print(f"    stage {sid:>4} run={st['executorRunTime']:7d}ms "
                          f"tasks={st['numTasks']:>4} {_stage_path(status_store, sid)}")
    return total_ms


def _daily_load(spark, loads: int) -> None:
    """The `daily_load` target (see the module doc)."""
    import datetime as dt
    import functools
    import shutil
    import tempfile

    from weather_data_warehouse_aws_spark.pipeline import run as pipeline_run
    from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze

    seed, history_days, extractions = 7, 7, 4
    start = dt.date(2024, 1, 1) + dt.timedelta(days=seed % 180)
    sc = spark.sparkContext
    current = {"load": "setup"}
    order: list[str] = []

    def wrap(attr: str, stage) -> None:
        orig = getattr(pipeline_run, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = stage(args, kwargs) if callable(stage) else stage
            group = f"{current['load']}:{name}"
            if group not in order:
                order.append(group)
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                return orig(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        setattr(pipeline_run, attr, wrapper)

    for attr in ("write_silver_tx", "tx_read", "build_dim_location",
                 "build_dim_date", "register_fact_views"):
        wrap(attr, attr)
    wrap("tx_overwrite", lambda args, kwargs: "tx_overwrite." + os.path.basename(
        os.path.normpath(kwargs.get("path", args[1] if len(args) > 1 else ""))))
    wrap("run_pipeline", "run_pipeline")
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    work = tempfile.mkdtemp(prefix="profile-daily-load-")
    wh = os.path.join(work, "warehouse")
    try:
        generate_bronze(os.path.join(work, "history"), start=start, days=history_days,
                        extractions_per_day=extractions, seed=seed)
        pipeline_run.run_pipeline(spark, os.path.join(work, "history"), wh)
        t_last = n_compiled = 0
        for i in range(loads):
            day_dir = os.path.join(work, f"day-{i:03d}")
            generate_bronze(day_dir, start=start + dt.timedelta(days=history_days + i),
                            days=1, extractions_per_day=extractions,
                            seed=seed * 100_003 + i + 1)
            current["load"] = f"load{i}"
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            pipeline_run.run_pipeline(spark, day_dir, wh)
            t_last = time.perf_counter() - t0
            n_compiled = compiles.getCount() - c0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    last = [g for g in order if g.startswith(f"load{loads - 1}:")]
    total_ms = _print_jobs(spark, last)
    n_jobs = sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in last)
    print(f"# {n_jobs} jobs in the last load, sum(job wall)={total_ms:.0f}ms, "
          f"load wall={t_last:.3f}s, {n_compiled} classes compiled")


def main() -> None:
    name = sys.argv[1]
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else (3 if name == "daily_load" else 2)
    if iters < 1:
        sys.exit("profile_jobs: iters must be >= 1")

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    from weather_data_warehouse_aws_spark.session import engine_conf, ensure_session_conf

    # get_spark's engine defaults (so profiles match what it runs), with
    # the UI on for the REST job dump, bound to any free port
    builder = SparkSession.builder.appName("wdwa-profile")
    conf = {**engine_conf(), "spark.ui.enabled": "true", "spark.ui.port": "0"}
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    ensure_session_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")

    if name == "daily_load":
        _daily_load(spark, iters)
        return

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    fn = queries[name]

    t_last = None
    for it in range(iters):
        spark.sparkContext.setJobGroup(f"iter{it}", name)
        t0 = time.perf_counter()
        n = fn(spark, SF_DIR).count()
        t_last = time.perf_counter() - t0
        spark.catalog.clearCache()
    print(f"# {name}: last iter {t_last:.3f}s ({n} rows)", file=sys.stderr)

    total_ms = _print_jobs(spark, [f"iter{iters - 1}"])
    n_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(f"iter{iters - 1}"))
    print(f"# {n_jobs} jobs in final iter, sum(job wall)={total_ms:.0f}ms, "
          f"iter wall={t_last:.3f}s")


if __name__ == "__main__":
    main()
