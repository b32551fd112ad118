"""Fast self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs the harness in-process on sf0.001 tables and 2000-packet files and
checks that:

- BENCHMARK.json declares exactly the metrics and units the harness reports;
- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) prints by name with its unit, on both BENCHMARK.json workloads;
- a deliberately corrupted expected value (a wrong calibration
  coefficient in the ETL recomputation, an emptied oracle for one query)
  is caught as failed operations, ``correct: false`` and exit code 1;
- the same seed writes byte-identical ETL input files and tables, and
  another seed does not.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import os
import shutil
import sys

import run as bench

SEED = 5


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_inputs_reproducible(work: str) -> list[str]:
    import datagen

    def write(tag: str, seed: int) -> str:
        d = os.path.join(work, f"inputs_{tag}")
        os.makedirs(d, exist_ok=True)
        datagen.write_ccsds_file(os.path.join(d, "hk.bin"), 2000, seed)
        datagen.write_tables(d, 0.001, seed)
        return _digest([os.path.join(d, n) for n in os.listdir(d)])

    a, b, c = write("a", SEED), write("b", SEED), write("c", SEED + 1)
    problems = []
    if a != b:
        problems.append("same seed wrote different input files")
    if a == c:
        problems.append("different seeds wrote identical input files")
    return problems


def run_once(workload: str, trace: int, work: str) -> tuple[dict, int, str]:
    args = argparse.Namespace(workload=workload, seed=SEED, seconds=1.0, trace=trace)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        result, code = bench.run(args, os.path.join(work, f"{workload}-{trace}"))
    return result, code, out.getvalue()


def check_benchmark_json() -> list[str]:
    """BENCHMARK.json declares the same metrics, with the same units, as
    the harness reports."""
    import json

    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for key, want in (("end_to_end", bench.END_TO_END), ("per_layer", bench.PER_LAYER)):
        got = {m["name"]: m["unit"] for m in spec[key]}
        if got != want:
            problems.append(f"BENCHMARK.json {key} differs from the harness: "
                            f"{sorted(set(got.items()) ^ set(want.items()))}")
    return problems


def check_metrics_printed(name: str, result: dict, text: str, trace: int) -> list[str]:
    want = bench.PER_LAYER if trace else bench.END_TO_END
    problems = []
    for metric, unit in want.items():
        got = result["metrics"].get(metric)
        if got is None or got["unit"] != unit:
            problems.append(f"{name}: metric {metric} missing or not in {unit}")
        elif not any(line.split() == [metric, "=", line.split()[2], unit]
                     for line in text.splitlines() if line.strip().startswith(metric + " ")):
            problems.append(f"{name}: metric {metric} not printed with its unit")
    return problems


def main() -> int:
    work = os.path.join(bench.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    bench.pin_environment(os.path.join(work, "env"))
    import etl
    import queries

    etl.PACKETS_PER_FILE, etl.PROBE_PACKETS, queries.SF = 2000, 1000, 0.001
    problems = check_benchmark_json() + check_inputs_reproducible(work)
    try:
        for workload, trace in (("tpch_mix", 1), ("telemetry_etl", 0)):
            result, code, text = run_once(workload, trace, work)
            problems += check_metrics_printed(workload, result, text, trace)
            if code != 0 or not result["correct"] or result["failed"]:
                problems.append(f"{workload}: clean run not correct: {result}")

        oracle_sql = queries.oracle_sql
        queries.oracle_sql = lambda: {
            **oracle_sql(), "d4_union_all": f"SELECT * FROM ({oracle_sql()['d4_union_all']}) LIMIT 0"
        }
        result, code, text = run_once("tpch_mix", 0, work)
        queries.oracle_sql = oracle_sql
        problems += check_metrics_printed("tpch_mix corrupted", result, text, 0)
        if code != 1 or result["correct"] or result["failed"] < 1:
            problems.append(f"corrupted oracle not caught: {result}")

        poly = etl.POLY
        etl.POLY = {**poly, "obc_temp": (poly["obc_temp"][0] + 1e-6, poly["obc_temp"][1])}
        result, code, text = run_once("telemetry_etl", 1, work)
        etl.POLY = poly
        problems += check_metrics_printed("telemetry_etl corrupted", result, text, 1)
        if code != 1 or result["correct"] or result["failed"] != result["attempted"]:
            problems.append(f"corrupted calibration not caught: {result}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"SELFTEST FAIL: {p}")
    print("SELFTEST OK" if not problems else f"SELFTEST: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
