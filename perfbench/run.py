"""Warehouse benchmark: one workload per run, a closed loop with one client.

    python3 perfbench/run.py --workload daily_load|curation \\
        --seed N --seconds S --trace 0|1

Run it from the repository root. It starts a local Spark session through
the package's `session.get_spark` on every core, builds the workload's
inputs from the seed, warms up, then times ops until `--seconds` of op time
have passed and checks every op's answer. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1` the
same untraced loop runs first, then a second loop of `--seconds` runs with
spans around the calls into each layer, and the metrics are the per-layer
ones plus the tracing overhead (traced over untraced op_p50_s).

Everything the run writes stays under `.bench_work/` at the repository
root; per-run details (every sample with its co-tenant CPU and load1, the
spans) are kept in `.bench_work/results/`. A run with a failed op exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TAIL_BEYOND = 10  # op_tail_s: highest percentile with this many samples beyond it


def _configure_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work dir, and size Spark to the machine. Runs before pyspark is
    imported, since the session module reads SPARK_GRAFT_CPUS on import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell",
    ])


def _tail(latencies: list[float]) -> tuple[float, str]:
    """(value, label) of the highest nearest-rank percentile that still has
    TAIL_BEYOND samples above it. When that percentile would not lie above
    the median (fewer than 2 * TAIL_BEYOND + 1 samples), the slowest op."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        return xs[-1], f"max (n={n})"
    return xs[n - TAIL_BEYOND - 1], f"p{100.0 * (n - TAIL_BEYOND) / n:.1f} (n={n})"


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def run_loop(wl, seconds: float, tracer, hostload) -> list[dict]:
    """Closed loop: time ops until `seconds` of op time have passed; the op
    that crosses the limit finishes and counts. Input preparation, answer
    checks and trace harvesting sit between ops, outside the timer."""
    samples: list[dict] = []
    busy = 0.0
    i = 0
    while busy < seconds:
        wl.before_op()
        window = hostload.CpuWindow()
        tracer.begin_op(i)
        t0 = time.perf_counter()
        error = None
        try:
            result = wl.op(i)
        except Exception:  # a failed op is counted, and the loop goes on
            error = traceback.format_exc()
        latency = time.perf_counter() - t0
        ok, check_s = False, 0.0
        if error is None:
            t1 = time.perf_counter()
            try:
                ok = bool(wl.check(i, result))
            except Exception:
                error = traceback.format_exc()
            check_s = time.perf_counter() - t1
            t1 = time.perf_counter()
            wl.release(result)
            latency += time.perf_counter() - t1
        tracer.end_op()
        if error:
            _log(f"op {i} failed:\n{error}")
        elif not ok:
            _log(f"op {i}: wrong answer")
        if tracer.enabled:
            wl.after_traced_op()
        samples.append({
            "op": i, "latency_s": latency, "ok": ok, "check_s": check_s,
            "foreign_cores": window.foreign_cores(), "load1": window.load1,
        })
        busy += latency
        i += 1
    return samples


def _e2e_metrics(samples: list[dict], setup_s: float) -> dict:
    lat = [s["latency_s"] for s in samples]
    tail, _ = _tail(lat)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": tail, "unit": "s"},
        "ops_per_s": {"value": len(lat) / sum(lat), "unit": "1/s"},
    }


def _layer_metrics(wl, tracer, traced: list[dict], untraced: list[dict], spans_cfg,
                   storage_units) -> tuple[dict, dict]:
    """Per-op means of every span counter, the storage counters, and the
    trace's own coverage and overhead. Returns (metrics, coverage detail)."""
    from perfbench.tracer import COUNTER_UNITS

    n_ops = len(traced)
    sums: dict[str, dict[str, float]] = {name: dict.fromkeys(c, 0.0)
                                         for name, c in spans_cfg.items()}
    for s in tracer.spans:
        if s.name not in sums:
            raise RuntimeError(f"span {s.name} has no metrics")
        row = sums[s.name]
        row["calls"] += 1
        row["self_s"] += s.self_s
        for c in ("jobs", "tasks", "shuffle_bytes", "executor_run_s", "gc_s"):
            if c in row:
                row[c] += getattr(s, c)
    metrics = {}
    for name, row in sums.items():
        for c, v in row.items():
            metrics[f"{name}.{c}"] = {"value": v / n_ops, "unit": COUNTER_UNITS[c]}
    counters = wl.layer_counters()
    for name, unit in storage_units.items():
        metrics[name] = {"value": float(counters.get(name, 0.0)), "unit": unit}

    shares, rest = [], []
    for smp in traced:
        top = sum(s.end - s.start for s in tracer.op_spans(smp["op"]) if s.parent is None)
        shares.append(top / smp["latency_s"])
        rest.append(smp["latency_s"] - top)
    p50_traced = statistics.median(x["latency_s"] for x in traced)
    p50_untraced = statistics.median(x["latency_s"] for x in untraced)
    metrics["trace.top_span_share"] = {"value": statistics.median(shares), "unit": "ratio"}
    metrics["trace.unspanned_s"] = {"value": statistics.median(rest), "unit": "s"}
    metrics["trace.overhead_ratio"] = {"value": p50_traced / p50_untraced, "unit": "ratio"}
    coverage = {"top_span_share_p50": statistics.median(shares),
                "unspanned_s_p50": statistics.median(rest),
                "traced_op_p50_s": p50_traced, "untraced_op_p50_s": p50_untraced}
    return metrics, coverage


def _declared_metrics(trace: bool) -> list[str] | None:
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it owns) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["daily_load", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    _configure_env(work)
    try:
        return _run(args, tag, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, tag: str, work: str, t_start: float) -> int:
    sys.path.insert(0, ROOT)
    # the package under test, then the benchmark modules that import it; a
    # tree without the package fails here, before any Spark starts
    from weather_data_warehouse_aws_spark.session import get_spark

    from perfbench import hostload
    from perfbench.tracer import NullTracer, Tracer
    from perfbench.workloads import SPANS, STORAGE_COUNTERS, WORKLOADS

    results = os.path.join(WORK_ROOT, "results")
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        session_s = time.perf_counter() - t_start
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        wl.warm()
        setup_s = time.perf_counter() - t_start
        _log(f"{tag}: session {session_s:.2f}s, build {build_s:.2f}s, "
             f"warm-up {setup_s - session_s - build_s:.2f}s")

        untraced = run_loop(wl, args.seconds, wl.tracer, hostload)
        retained = None
        traced: list[dict] = []
        tracer = None
        if args.trace:
            # after the untraced loop: the full collections this takes
            # would slow the ops that follow them; only the traced run
            # reports it, so an untraced run does not pay for them
            retained = hostload.retained_mb(spark)
            tracer = Tracer(spark.sparkContext)
            wl.install_spans(tracer)
            wl.tracer = tracer
            try:
                traced = run_loop(wl, args.seconds, tracer, hostload)
            finally:
                tracer.unwrap_all()
                wl.tracer = NullTracer()
        final_ok = wl.finish()
        if not final_ok:
            _log(f"end-of-run check failed: {getattr(wl, 'final_check', '')}")

        samples = untraced + traced
        attempted = len(samples)
        failed = attempted if not final_ok else sum(not s["ok"] for s in samples)
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "setup": {"session_s": session_s, "build_s": build_s, "setup_s": setup_s},
                  "retained_mb": retained,
                  "untraced": untraced, "traced": traced,
                  "final_check": getattr(wl, "final_check", None)}
        if args.trace:
            metrics, coverage = _layer_metrics(wl, tracer, traced, untraced, SPANS,
                                               STORAGE_COUNTERS)
            detail["coverage"] = coverage
            metrics["memory.retained_mb"] = {"value": retained["total"], "unit": "MB"}
            _log(f"trace: top-level spans cover {coverage['top_span_share_p50']:.1%} of op "
                 f"time, {coverage['unspanned_s_p50']:.3f}s un-spanned per op; traced "
                 f"op_p50_s {coverage['traced_op_p50_s']:.3f}s vs untraced "
                 f"{coverage['untraced_op_p50_s']:.3f}s. Lazy builders only plan: their "
                 "Spark work is counted in the span of the action that forces it.")
        else:
            metrics = _e2e_metrics(untraced, setup_s)
        lat = [s["latency_s"] for s in untraced]
        _, tail_label = _tail(lat)
        detail["op_tail_percentile"] = tail_label
        foreign = [s["foreign_cores"] for s in samples if s["foreign_cores"] is not None]
        _log(f"{tag}: {len(lat)} timed ops, p50 {statistics.median(lat):.3f}s, tail "
             f"{tail_label}, co-tenant cores max {max(foreign, default=0):.2f}, load1 "
             f"{[s['load1'] for s in samples]}")

        declared = _declared_metrics(bool(args.trace))
        if declared is not None and sorted(declared) != sorted(metrics):
            missing = sorted(set(declared) ^ set(metrics))
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {missing}")

        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({**detail, "metrics": metrics}, f, indent=1, default=str)
        if tracer is not None:
            with open(os.path.join(results, f"{tag}-spans.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.as_dict()) + "\n")
    finally:
        _stop(spark)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
