"""The two workloads, each a closed loop with one client and no other
threads. A workload has

* `setup()`: build its inputs and state from scratch;
* `warm()`: warm-up ops run after the builds, before timing;
* `op(i)`: one timed operation, returning what `check(i, result)` (run
  after the timer stops) compares with the expected answer;
* `finish()`: the end-of-run check;
* `install_spans(tracer)` and `layer_counters()` for the traced run.

Sizes are fixed here, so every run of a workload does the same work;
only the seed changes the values.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators import txlog
from weather_data_warehouse_aws_spark.pipeline import analytics, curate, views
from weather_data_warehouse_aws_spark.pipeline import run as pipeline_run
from weather_data_warehouse_aws_spark.sources.tables import load_table

from . import inputs, oracle
from .tracer import NullTracer

HISTORY_DAYS = 7
EXTRACTIONS_PER_DAY = 4
N_DOCS = 1000
EVAL_EVERY = 100  # the eval slice: doc_id % 100 == 0, ids shifted out of range
TX_TABLE_ALIAS = {"fact_forecast_accuracy": "fact_accuracy"}

# span name -> counters reported for it. Spans whose own work is planning
# or orchestration (lazy builders, run_pipeline around its children, cache
# release) get the three counters that would show them starting jobs of
# their own; spans that run Spark jobs get all seven.
ALL = ("calls", "self_s", "jobs", "tasks", "shuffle_bytes", "executor_run_s", "gc_s")
PLAN = ("calls", "self_s", "jobs")
SPANS = {
    # daily_load: run_pipeline and the names pipeline.run imported
    "pipeline.run.run_pipeline": PLAN,
    "pipeline.silver.write_silver_tx": ALL,
    "operators.txlog.tx_read": ALL,
    "pipeline.gold.build_dim_location": ALL,
    "pipeline.gold.build_dim_date": PLAN,
    "pipeline.views.register_fact_views": PLAN,
    "operators.txlog.tx_overwrite.dim_location": ALL,
    "operators.txlog.tx_overwrite.dim_date": ALL,
    "operators.txlog.tx_overwrite.fact_accuracy": ALL,
    # daily_load's dashboard refresh: snapshot read, query builder, the
    # collect that runs it
    "pipeline.run.read_gold_snapshot": ALL,
    "pipeline.analytics.build": PLAN,
    "pipeline.analytics.collect": ALL,
    # curation: curate_corpus, the operators pipeline.curate imported, the
    # final action and the cache release
    "pipeline.curate.curate_corpus": ALL,
    "operators.dedup.minhash_lsh_pairs": ALL,
    "operators.graph.dedup_clusters": ALL,
    "operators.bloom.bloom_prune": ALL,
    "operators.sampling.leakage_safe_split": ALL,
    "operators.packing.pack_concat_cut": ALL,
    "pipeline.curate.packed_count": ALL,
    "pipeline.curate.release_curation": ("calls", "self_s"),  # unpersist runs no job
}
STORAGE_COUNTERS = {
    "storage.bytes_per_bronze_byte": "ratio",
    "storage.files_per_load": "count",
    "storage.log_files": "count",
    "views.accuracy_useful_ratio": "ratio",
    "txlog.snapshot_useful_ratio": "ratio",
}


def _tx_overwrite_span(args, kwargs) -> str:
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    table = os.path.basename(os.path.normpath(path))
    return f"operators.txlog.tx_overwrite.{TX_TABLE_ALIAS.get(table, table)}"


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = NullTracer()  # the runner swaps in a Tracer to trace

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        pass

    def before_op(self) -> None:
        """Untimed preparation of the next op's input."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def release(self, result) -> None:
        """Timed end of an op that runs after `check`."""

    def finish(self) -> bool:
        return True

    def install_spans(self, tracer) -> None:
        pass

    def after_traced_op(self) -> None:
        pass

    def layer_counters(self) -> dict[str, float]:
        return {}


def _build_query(q: str, snap: dict, as_of):
    fact, dim_loc = snap["fact_forecast_accuracy"], snap["dim_location"]
    if q == "accuracy_by_horizon":
        return analytics.accuracy_by_horizon(fact)
    if q == "city_performance_ranking":
        return analytics.city_performance_ranking(fact, dim_loc)
    if q == "current_weather_summary":
        actual = views.fact_weather_actual(snap["silver_current"], dim_loc, snap["dim_date"])
        return analytics.current_weather_summary(actual, dim_loc, as_of=as_of)
    return analytics.quality_distribution(fact)


class DailyLoad(Workload):
    """The reference's daily cycle. Set-up generates H days of bronze
    history and builds the warehouse with one run_pipeline. Each op lands
    one new pre-generated bronze day, runs the whole pipeline on it (the
    daily Glue job), then refreshes the dashboard: each of the reference's
    sample queries (`sample_queries.sql` 1-4) reads the published snapshot
    and collects its answer, as four dashboard panels would."""

    name = "daily_load"
    QUERIES = ("accuracy_by_horizon", "city_performance_ranking",
               "current_weather_summary", "quality_distribution")
    WARM_LOADS = 1

    def __init__(self, spark, work, seed) -> None:
        super().__init__(spark, work, seed)
        self.days: list[tuple[str, dt.date]] = []
        self.landed = 0
        self.loads: list[dict] = []
        self.last_versions = None
        self.snapshot_reads = self.snapshot_new = 0

    def setup(self) -> None:
        self.history = os.path.join(self.work, "bronze-history")
        self.wh = os.path.join(self.work, "warehouse")
        inputs.generate_history(self.history, self.seed, HISTORY_DAYS, EXTRACTIONS_PER_DAY)
        pipeline_run.run_pipeline(self.spark, self.history, self.wh)

    def versions(self) -> dict[str, int]:
        with open(os.path.join(self.wh, "gold", "_snapshot.json")) as f:
            return json.load(f)

    def warm(self) -> None:
        for _ in range(self.WARM_LOADS):
            self.before_op()
            if not self.check(-1, self.op(-1)):
                raise RuntimeError("warm-up load failed its check")
        self.snapshot_reads = self.snapshot_new = 0

    def before_op(self) -> None:
        """Generate the bronze day the next op lands (outside its timer)."""
        d = os.path.join(self.work, f"bronze-day-{len(self.days):03d}")
        day = inputs.generate_day(d, self.seed, HISTORY_DAYS, len(self.days),
                                  EXTRACTIONS_PER_DAY)
        self.days.append((d, day))

    def op(self, i: int):
        before = self.versions()
        bronze, as_of = self.days[self.landed]
        pipeline_run.run_pipeline(self.spark, bronze, self.wh)
        self.landed += 1
        answers, snaps = {}, []
        for q in self.QUERIES:
            snap = pipeline_run.read_gold_snapshot(self.spark, self.wh)
            with self.tracer.span("pipeline.analytics.build"):
                df = _build_query(q, snap, as_of)
            with self.tracer.span("pipeline.analytics.collect"):
                answers[q] = df.collect()
            snaps.append(snap)
        return before, as_of, answers, snaps

    def check(self, i: int, result) -> bool:
        """The load committed exactly one new version of every table and
        published it, every panel read that generation, and every answer
        equals DuckDB's over the rows of that snapshot's tables."""
        before, as_of, answers, snaps = result
        after = self.versions()
        if set(after) != set(before) or any(after[t] != before[t] + 1 for t in before):
            return False
        for snap in snaps:
            self.snapshot_reads += 1
            self.snapshot_new += snap["versions"] != self.last_versions
            self.last_versions = snap["versions"]
            if snap["versions"] != after:
                return False
        expected = oracle.duckdb_answers(snaps[-1], as_of)
        return all(oracle.matches(q, rows, expected[q]) for q, rows in answers.items())

    def after_traced_op(self) -> None:
        """Accuracy rows and warehouse size after a load, read from outside."""
        acc = txlog.tx_read(self.spark, os.path.join(self.wh, "gold", "fact_forecast_accuracy"))
        wh_bytes, wh_files = inputs.tree_bytes_files(self.wh)
        self.loads.append({"acc_rows": acc.count(), "bytes": wh_bytes, "files": wh_files})

    def install_spans(self, tracer) -> None:
        tracer.wrap(pipeline_run, "run_pipeline", "pipeline.run.run_pipeline")
        tracer.wrap(pipeline_run, "write_silver_tx", "pipeline.silver.write_silver_tx")
        tracer.wrap(pipeline_run, "tx_read", "operators.txlog.tx_read")
        tracer.wrap(pipeline_run, "build_dim_location", "pipeline.gold.build_dim_location")
        tracer.wrap(pipeline_run, "build_dim_date", "pipeline.gold.build_dim_date")
        tracer.wrap(pipeline_run, "register_fact_views", "pipeline.views.register_fact_views")
        tracer.wrap(pipeline_run, "tx_overwrite", _tx_overwrite_span)
        tracer.wrap(pipeline_run, "read_gold_snapshot", "pipeline.run.read_gold_snapshot")
        self.loads = []
        self.snapshot_reads = self.snapshot_new = 0
        self.after_traced_op()  # the baseline the first traced load is compared with

    def layer_counters(self) -> dict[str, float]:
        out = {}
        if len(self.loads) > 1:
            first, last = self.loads[0], self.loads[-1]
            new = sum(max(0, b["acc_rows"] - a["acc_rows"])
                      for a, b in zip(self.loads, self.loads[1:]))
            written = sum(b["acc_rows"] for b in self.loads[1:])
            out["views.accuracy_useful_ratio"] = new / written if written else 0.0
            out["storage.files_per_load"] = (last["files"] - first["files"]) / (len(self.loads) - 1)
            bronze = inputs.tree_bytes_files(self.history)[0] + sum(
                inputs.tree_bytes_files(d)[0] for d, _ in self.days[:self.landed])
            out["storage.bytes_per_bronze_byte"] = last["bytes"] / bronze
        log_files = 0
        for dirpath, _, names in os.walk(self.wh):
            if os.path.basename(dirpath) == "_txn_log":
                log_files += len(names)
        out["storage.log_files"] = float(log_files)
        if self.snapshot_reads:
            out["txlog.snapshot_useful_ratio"] = self.snapshot_new / self.snapshot_reads
        return out

    def finish(self) -> bool:
        """The incrementally built accuracy fact equals a from-scratch
        run_pipeline over every bronze day this run landed."""
        combined = os.path.join(self.work, "bronze-all")
        for d in [self.history, *(d for d, _ in self.days[:self.landed])]:
            shutil.copytree(d, combined, dirs_exist_ok=True)
        scratch = os.path.join(self.work, "warehouse-scratch")
        pipeline_run.run_pipeline(self.spark, combined, scratch)
        got = pipeline_run.read_gold_snapshot(self.spark, self.wh)
        want = pipeline_run.read_gold_snapshot(self.spark, scratch)
        fg = oracle.accuracy_fingerprint(got["fact_forecast_accuracy"], got["dim_location"])
        fw = oracle.accuracy_fingerprint(want["fact_forecast_accuracy"], want["dim_location"])
        self.final_check = {"incremental": fg, "from_scratch": fw}
        return fg == fw


class Curation(Workload):
    """Each op is one curate_corpus pass over the corpus with a 1% eval
    slice, forced by packed.count() and followed by release_curation."""

    name = "curation"
    CHECKED_STAGES = ("cleaned", "passed", "dup_pairs", "decontaminated")
    # passes after the set-up pass, before timing: the JIT is still
    # compiling through the second pass (about 17, 7.1, 6.6 then 5.2 s a
    # pass on 4 cores), and a timed pass that overlaps it moves with every
    # stall of the compiler threads
    WARM_PASSES = 1

    def setup(self) -> None:
        inputs.write_documents(os.path.join(self.work, "docs", "documents.parquet"),
                               self.seed, N_DOCS)
        self.docs = load_table(self.spark, os.path.join(self.work, "docs"), "documents") \
            .select("doc_id", "text")
        self.eval_docs = self.docs.filter(F.col("doc_id") % EVAL_EVERY == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        result = self.op(-1)  # the set-up pass: warm-up and reference answer
        self.reference = self._answer(result)
        self.release(result)

    def warm(self) -> None:
        for _ in range(self.WARM_PASSES):
            self.release(self.op(-1))

    def op(self, i: int):
        with self.tracer.span("pipeline.curate.curate_corpus"):
            stages = curate.curate_corpus(self.docs, eval_docs=self.eval_docs)
        with self.tracer.span("pipeline.curate.packed_count"):
            n_packed = stages["packed"].count()
        return stages, n_packed

    def _answer(self, result) -> tuple:
        """Stage row counts and the packed output's order-insensitive hash,
        read before the pass's caches are released."""
        stages, n_packed = result
        packed = stages["packed"]
        h = F.sum(F.xxhash64(*sorted(packed.columns)).cast("decimal(38,0)"))
        packed_hash = packed.agg(h.alias("h")).first()["h"]
        counts = tuple(stages[s].count() for s in self.CHECKED_STAGES)
        return counts, n_packed, int(packed_hash or 0)

    def check(self, i: int, result) -> bool:
        return self._answer(result) == self.reference

    def release(self, result) -> None:
        with self.tracer.span("pipeline.curate.release_curation"):
            curate.release_curation(result[0])

    def install_spans(self, tracer) -> None:
        for attr, layer in (("minhash_lsh_pairs", "operators.dedup"),
                            ("dedup_clusters", "operators.graph"),
                            ("bloom_prune", "operators.bloom"),
                            ("leakage_safe_split", "operators.sampling"),
                            ("pack_concat_cut", "operators.packing")):
            tracer.wrap(curate, attr, f"{layer}.{attr}")


WORKLOADS = {w.name: w for w in (DailyLoad, Curation)}
