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


def main() -> None:
    name = sys.argv[1]
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 2
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

    app_id = spark.sparkContext.applicationId
    port = urllib.parse.urlparse(spark.sparkContext.uiWebUrl).port
    url = f"http://localhost:{port}/api/v1/applications/{app_id}/jobs?status=succeeded"
    jobs = json.loads(urllib.request.urlopen(url).read())
    stages_url = f"http://localhost:{port}/api/v1/applications/{app_id}/stages"
    status_store = spark.sparkContext._jsc.sc().statusStore()
    last = [j for j in jobs if j.get("jobGroup") == f"iter{iters - 1}"]
    last.sort(key=lambda j: j["jobId"])
    total_ms = 0.0
    for j in last:
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
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
    print(f"# {len(last)} jobs in final iter, sum(job wall)={total_ms:.0f}ms, "
          f"iter wall={t_last:.3f}s")


if __name__ == "__main__":
    main()
