"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one closed-loop client, on
``local[<cpus>]``. Inputs are generated from ``--seed`` inside the
checkout (``.perfbench_work/``); the engine only sees those files.

A run sets up ``SETUP_ROUNDS`` times (each round launches a fresh
driver JVM, starts the session and generates the inputs), then warms up
untimed, checking every output, then times
``round(seconds / nominal_pass_s)`` whole passes of the workload, which
takes about ``--seconds`` on a 4-core box. Outputs written during the
timed passes are checked after them. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
records spans around the calls into each layer, runs the layer probes
and reports the per-layer metrics, writing the spans to
``.perfbench_work/traces/``. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The exit
code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("telemetry_etl", "tpch_mix")
SETUP_ROUNDS = 3
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s", "op_s.p50": "s", "op_s.tail": "s", "ops_per_s": "1/s",
    "rows_per_s": "1/s",
}
PER_LAYER = {
    "session.launch_s": "s", "session.start_s": "s", "driver.peak_rss_mb": "MB",
    "sources.binary.scan_s": "s", "sources.binary.packets": "count",
    "operators.decom.self_s": "s", "operators.decom.rows_out": "count",
    "operators.calibration.self_s": "s",
    "sinks.parquet.write_s": "s", "sinks.parquet.bytes_per_input_byte": "ratio",
    "core.pipeline.jobs_per_batch": "count", "core.pipeline.overhead_s": "s",
    "plans.build_s": "s", "plans.exec_s": "s",
    "operators.dedup.shingles_s": "s", "operators.dedup.minhash_self_s": "s",
    "operators.dedup.lsh_self_s": "s", "operators.dedup.verify_self_s": "s",
    "operators.dedup.candidates": "count", "operators.dedup.verified": "count",
    "operators.dedup.verified_per_candidate": "ratio",
    "engine.jobs": "count", "engine.tasks": "count", "engine.task_failures": "count",
    "engine.executor_run_s": "s", "engine.executor_cpu_s": "s", "engine.gc_s": "s",
    "engine.shuffle_read_bytes": "bytes", "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes", "engine.output_bytes": "bytes",
    "python.worker_run_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio", "trace.spans": "count",
}


def pin_environment(work: str) -> None:
    """Session settings that must be in place before the JVM starts:
    Python workers import the package from the checkout, the session
    uses every CPU this process may run on, the driver heap fits a small
    box, and scratch files stay inside the checkout."""
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tempfile.tempdir = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str) -> tuple[object, float]:
    """A session on a freshly launched driver JVM, and the time the JVM
    launch alone took (timed around pyspark's ``launch_gateway``)."""
    import pyspark.context
    from mission_data_pipeline_spark import get_spark

    launch = pyspark.context.launch_gateway
    launch_s = []

    def timed_launch(*a, **kw):
        t0 = time.perf_counter()
        try:
            return launch(*a, **kw)
        finally:
            launch_s.append(time.perf_counter() - t0)

    pyspark.context.launch_gateway = timed_launch
    try:
        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    finally:
        pyspark.context.launch_gateway = launch
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sum(launch_s)


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it; the maximum when there are 10 samples or fewer."""
    s, n = sorted(times), len(times)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def make_workload(name: str, seed: int, work: str):
    if name == "telemetry_etl":
        from etl import TelemetryEtl

        return TelemetryEtl(seed, work)
    from queries import TpchMix

    return TpchMix(seed, work)


def overhead(traced: list[float], untraced: list[float]) -> dict:
    d = statistics.median(traced) - statistics.median(untraced)
    return {"trace.overhead_s": d, "trace.overhead_frac": d / statistics.median(untraced)}


def query_trace_overhead(spark, wl, tracer, pairs: int = 4) -> dict:
    """The workload's ``pairs`` fastest queries, each run untraced and
    traced in alternating order."""
    from spans import Tracer

    off = Tracer(tracer.run_id, enabled=False)
    times: dict[bool, list[float]] = {False: [], True: []}
    for i, name in enumerate(sorted(wl.warm_s, key=wl.warm_s.get)[:pairs]):
        for t in ((off, tracer) if i % 2 == 0 else (tracer, off)):
            t0 = time.perf_counter()
            wl.run_op(spark, name, t)
            times[t.enabled].append(time.perf_counter() - t0)
    return overhead(times[True], times[False])


def layer_metrics(spark, wl, tracer, session_s: list[float], launch_s: list[float]) -> dict:
    """Every per-layer metric: window counters of the workload's own
    operations, plus the telemetry, dedup and plan probes. Tracing
    overhead is traced minus untraced wall of the same operations: one-
    batch pipeline runs for telemetry_etl, short queries otherwise."""
    import datagen
    from etl import telemetry_probe
    from queries import dedup_probe, plan_probe

    m = {"session.launch_s": statistics.median(launch_s),
         "session.start_s": statistics.median(session_s)}
    m.update(wl.window_layers(spark, tracer))
    probe, pipe_s = telemetry_probe(spark, wl.work, wl.seed, tracer,
                                    pipeline_pairs=2 if wl.name == "telemetry_etl" else 1)
    m.update(probe)
    if wl.name == "telemetry_etl":
        m.update(overhead(pipe_s[True], pipe_s[False]))
        tables = os.path.join(wl.work, "probe_tables")
        datagen.write_tables(tables, 0.001, wl.seed)
        m.update(plan_probe(spark, tables, tracer))
    else:
        m.update(query_trace_overhead(spark, wl, tracer))
        tables = wl.data_dir
    m.update(dedup_probe(spark, os.path.join(tables, "documents.parquet"), tracer))
    m["trace.spans"] = len(tracer.spans)
    return m


def run(args, work: str) -> tuple[dict, int]:
    from engine import driver_peak_rss_mb
    from spans import Tracer

    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}", bool(args.trace))
    wl = make_workload(args.workload, args.seed, work)
    rounds, session_s, launch_s, spark = [], [], [], None
    try:
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
                stop_jvm()
            t0 = time.perf_counter()
            spark, launched = start_session(work)
            session_s.append(time.perf_counter() - t0)
            launch_s.append(launched)
            wl.generate()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(spark, Tracer(tracer.run_id, enabled=False))
        setup_s = statistics.median(rounds) + time.perf_counter() - t0

        samples, failed, window_s = wl.measure(
            spark, max(1, round(args.seconds / wl.nominal_pass_s)), tracer)
        rss = driver_peak_rss_mb(spark)
        times = [dt for _, dt in samples]
        tail_s, tail_pct = tail(times)
        e2e = {
            "setup_s": setup_s, "op_s.p50": statistics.median(times), "op_s.tail": tail_s,
            "ops_per_s": len(times) / window_s, "rows_per_s": wl.rows_per_s,
        }
        print(f"{wl.name}: seed {args.seed}, {len(times)} ops in {window_s:.2f} s, "
              f"failed_frac = {failed / len(times):.4f} ({failed}/{len(times)}), "
              f"op_s.tail is p{tail_pct:.1f} of {len(times)} samples")
        for name, bad in wl.problems.items():
            print(f"  OUTPUT CHECK FAILED {name}: {bad}")
        if args.trace:
            layers = layer_metrics(spark, wl, tracer, session_s, launch_s)
            if rss is not None:
                layers["driver.peak_rss_mb"] = rss
            for k, v in layers.items():
                if k not in PER_LAYER:
                    print(f"  {k} = {v:.4f} s")
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                     f"{args.workload}-seed{args.seed}.json"))
            report = {k: (layers[k], u) for k, u in PER_LAYER.items() if k in layers}
        else:
            report = {k: (e2e[k], u) for k, u in END_TO_END.items() if k in e2e}
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
    for k, (v, u) in report.items():
        print(f"  {k} = {v:.6g} {u}")
    ok = not wl.problems and failed == 0
    return {
        "correct": ok, "attempted": len(times), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }, 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("mission_data_pipeline_spark", "bench.py", "__spark_entry__.py",
                 os.path.join("scripts", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    try:
        result, code = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
