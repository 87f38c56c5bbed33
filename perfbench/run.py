"""Benchmark entry point.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 5 --trace 0

Runs one workload on ``local[nproc]`` from this single driver process:
set-up (session start, seeded inputs, one warm-up pass), then timed
passes for ``--seconds``, then output checks outside the timed region.
With ``--trace 0`` the result line carries the end-to-end metrics; with
``--trace 1`` passes alternate untraced/traced and the result carries
the per-layer metrics and the tracing overhead. The last stdout line is
the JSON result; the line before it is a detailed report (quartiles,
sample counts, per-pass times, checks, failed operations). Everything
the run writes stays under ``perfbench/.work`` and is removed at exit;
traced runs leave their spans in ``perfbench/.results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names and units, as listed in
    ``BENCHMARK.json`` at the repository root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Keep every file the run (and its JVM and executor Python
    workers) writes inside the checkout, and make the program importable
    in executor processes whatever the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "spark-warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _stat(values: list[float], unit: str) -> dict:
    """Median with quartiles and the sample count."""
    return {
        "value": _percentile(values, 50),
        "unit": unit,
        "q1": _percentile(values, 25),
        "q3": _percentile(values, 75),
        "n": len(values),
    }


def start_session():
    from crmint_spark.session import get_spark

    cpus = _nproc()
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            # heap committed up front (-Xms = SPARK_DRIVER_MEM): peak RSS
            # then does not depend on when the collector grows the heap;
            # no hsperfdata file, which the JVM would put under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so every executor Python
    worker it forked) to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    # the JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def layer_values(wl, info, tracer, spark_t, listener, cpu, live_bytes: int) -> dict[str, float]:
    """One traced pass's per-layer metrics."""
    from perfbench import layers

    phases = tracer.catalyst_phases()
    v = {
        "pipeline.jobs": sum(
            len(p.jobs) for s in tracer.spans if s.name == "pipeline.run"
            for p in [wl.pipelines[s.attrs["pipeline"]]]
        ),
        "pipeline.attempts": tracer.calls("worker"),
        "pipeline.job_s": tracer.outer_seconds("worker"),
        "pipeline.ready_wait_s": tracer.ready_wait_seconds(wl.pipelines),
        "templating.render_calls": tracer.calls("templating.render"),
        "templating.render_s": tracer.outer_seconds("templating.render"),
        "dialect.transpile_calls": tracer.calls("dialect.transpile"),
        "dialect.transpile_s": tracer.outer_seconds("dialect.transpile"),
        "dialect.split_script_s": tracer.outer_seconds("dialect.split_script"),
        "sql_executor.statements": tracer.calls("sql_executor.statement"),
        "sql_executor.statement_s": tracer.outer_seconds("sql_executor.statement"),
        "sql_executor.self_s": tracer.statement_self_seconds(),
        "catalyst.sql_calls": tracer.calls("catalyst.sql"),
        "catalyst.analysis_s": phases["analysis"],
        "catalyst.optimization_s": phases["optimization"],
        "catalyst.planning_s": phases["planning"],
        "catalog.read_calls": tracer.calls("catalog.read"),
        "catalog.read_s": tracer.outer_seconds("catalog.read"),
        "catalog.write_calls": tracer.calls("catalog.write"),
        "catalog.write_s": tracer.outer_seconds("catalog.write"),
        "catalog.record_job_s": tracer.outer_seconds("catalog.record_job"),
        "catalog.write_amplification": (
            spark_t["output_bytes"] / live_bytes if live_bytes else 0.0
        ),
        "streamer.rows": info.get("uploaded_rows", 0),
        "streamer.batches": info.get("batches", 0),
        "driver.python_cpu_s": cpu[0],
        "driver.jvm_cpu_s": cpu[1],
    }
    for cls, metric in layers.WORKER_METRICS.items():
        v[metric] = tracer.worker_seconds(cls)
    upload_s = v["streamer.upload_s"]
    v["streamer.rows_per_s"] = v["streamer.rows"] / upload_s if upload_s else 0.0
    v.update({f"spark.{k}": x for k, x in spark_t.items()})
    v.update({f"streaming.{k}": x for k, x in listener.totals().items()})
    return v


def check_coverage(workload: str, tracer_calls: dict[str, int]) -> list[str]:
    from perfbench import layers

    missing = []
    for layer, (names, heavy_on) in layers.COVERAGE.items():
        if workload not in heavy_on:
            continue
        missing += [f"{layer}:{n}" for n in names if tracer_calls.get(n, 0) == 0]
    return missing


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    _isolate(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run(args, work: str) -> int:
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, session_s, work, WORKLOADS[args.workload])
    finally:
        stop_session(spark)


def _measure(args, spark, session_s, work, wl_cls) -> int:
    from perfbench import layers

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    wl = wl_cls(spark, work, args.seed)

    t = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.register()
    register_s = time.perf_counter() - t

    all_ops = []
    wl.before_pass()
    t = time.perf_counter()
    warm = wl.run_pass()
    warmup_s = time.perf_counter() - t
    wl.settle(warm)
    all_ops += warm.ops
    setup_s = session_s + generate_s + register_s + warmup_s

    trace = bool(args.trace)
    tracer = layers.Tracer() if trace else None
    counters = layers.SparkCounters(spark) if trace else None
    passes, traced_vals, traced_calls = [], [], {}
    t_start = time.perf_counter()
    i = 0
    # traced runs go untraced, traced, untraced at least, so that the
    # overhead ratio is not biased by passes getting warmer
    while (
        i == 0
        or time.perf_counter() - t_start < args.seconds
        or (trace and i < 3)
    ):
        traced = trace and i % 2 == 1
        wl.before_pass()
        if traced:
            tracer.reset()
            counters.take()
            listener = layers.streaming_listener()
            spark.streams.addListener(listener)
            tracer.install()
            cpu0 = (time.process_time(), layers.jvm_cpu_seconds(jvm_pid))
        try:
            res = wl.run_pass()
        finally:
            if traced:
                tracer.uninstall()
        if traced:
            cpu = (
                time.process_time() - cpu0[0],
                layers.jvm_cpu_seconds(jvm_pid) - cpu0[1],
            )
            spark_counts = counters.take()
            spark.streams.removeListener(listener)
        wl.settle(res)
        if traced:
            vals = layer_values(wl, res.info, tracer, spark_counts[0], listener, cpu, wl.live_bytes())
            vals["_groups"] = spark_counts[1]
            traced_vals.append(vals)
            seen = {n: tracer.calls(n) for n in layers.WRAPPED}
            seen.update({f"worker:{c}": tracer.calls(f"worker:{c}") for c in layers.WORKER_METRICS})
            seen["status_store:jobs"] = vals["spark.jobs"]
            seen["listener:progress"] = vals["streaming.batches"]
            for name, n in seen.items():
                traced_calls[name] = traced_calls.get(name, 0) + n
            tracer.dump(os.path.join(_results_dir(), f"trace-{wl.name}.jsonl"))
        passes.append({"index": i, "traced": traced, "wall_s": res.wall_s,
                       "ops": res.ops, "info": res.info})
        all_ops += res.ops
        i += 1

    checks = wl.check()
    rss = layers.peak_rss_mb(jvm_pid)

    untraced = [p for p in passes if not p["traced"]]
    measured_ops = [o for p in untraced for o in p["ops"]]
    op_ms = [o.seconds * 1000.0 for o in measured_ops if o.latency and not o.error]
    failed = [o for o in all_ops if o.error]
    run_vals = [p["wall_s"] for p in untraced]
    report = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1,
                    "session_s": session_s, "generate_s": generate_s,
                    "register_s": register_s, "warmup_s": warmup_s},
        "run_s": _stat(run_vals, "s"),
        "op_p50_ms": _stat(op_ms, "ms") if op_ms else None,
        "op_p90_ms": {"value": _percentile(op_ms, 90), "unit": "ms", "n": len(op_ms)} if op_ms else None,
        "error_rate": {"value": len(failed) / len(all_ops) if all_ops else 1.0,
                       "unit": "ratio", "n": len(all_ops)},
        "driver_peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": _nproc(),
        "report": report,
        # pass index, wall time, kind; the warm-up pass is index 0
        "run_s_by_pass": [(0, round(warmup_s, 4), "warm-up")] + [
            (p["index"] + 1, round(p["wall_s"], 4), "traced" if p["traced"] else "timed")
            for p in passes
        ],
        "pass_info": [warm.info] + [p["info"] for p in passes],
        "ops_by_name": _ops_by_name(measured_ops),
        "warmup_ops": [(o.name, round(o.seconds, 3)) for o in warm.ops],
        "checks": checks,
        "failed_ops": [(o.name, o.error) for o in failed],
    }

    e2e_units, layer_units = _metric_units()
    if trace:
        missing = check_coverage(wl.name, traced_calls)
        if missing:
            print(json.dumps(detail, default=str))
            print(f"wrapper coverage failed on {wl.name}: no calls seen for {missing}", file=sys.stderr)
            return 3
        metrics = {}
        for name, unit in layer_units.items():
            if name == "trace.overhead_ratio":
                traced_runs = [p["wall_s"] for p in passes if p["traced"]]
                val = statistics.median(traced_runs) / statistics.median(run_vals)
            else:
                val = statistics.median(v[name] for v in traced_vals)
            metrics[name] = {"value": val, "unit": unit}
        detail["groups"] = traced_vals[-1]["_groups"]
    else:
        metrics = {}
        for name, unit in e2e_units.items():
            r = report[name]
            metrics[name] = {"value": r["value"] if r else 0.0, "unit": unit}

    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": all(checks.values()) and bool(checks),
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def _ops_by_name(ops) -> dict:
    by: dict[str, list[float]] = {}
    for o in ops:
        if not o.error:
            by.setdefault(o.name, []).append(o.seconds * 1000.0)
    return {k: _stat(v, "ms") for k, v in by.items() if len(v) > 0}


def _results_dir() -> str:
    d = os.path.join(HERE, ".results")
    os.makedirs(d, exist_ok=True)
    return d


if __name__ == "__main__":
    sys.exit(main())
