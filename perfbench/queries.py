"""The ``tpch_mix`` workload and the dedup and plan layer probes.

Each pass runs the 14 named library queries once, in an order drawn from
the seed, materialized to the noop sink; one operation is one query.
Every query's result is compared once per run, in the first untimed
warm-up pass, against its DuckDB oracle with
``scripts/check_correctness.py``'s ``compare``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import duckdb

import datagen
from engine import job_group_counters
from mission_data_pipeline_spark.operators.dedup import (
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from __spark_entry__ import oracle_sql
from mission_data_pipeline_spark.plans.queries import QUERIES
from mission_data_pipeline_spark.sources.tables import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from check_correctness import compare  # noqa: E402

TPCH_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "j1_broadcast_dim_join", "agg_distinct_by_group", "rollup_flag_status",
    "w_rank_orders_by_priority", "w1_tumbling_window", "w4_sessionization",
    "asof_join_latest_purchase", "range_join_event_pairs", "agg_percentiles",
    "time_bucket_rollup", "d4_union_all",
]
#: lineitem = 6M x SF rows; sf0.01 is the oracle-check scale of TESTDATA.md.
SF = 0.01
N_DOCS = 500
#: Untimed passes after the checked one. On a 4-core box the per-pass
#: median query time falls for two more passes at sf0.01 while the JIT
#: compiles the planner, then stays flat.
WARM_PASSES = 2
#: x2_lsh_near_dedup_survivors' parameters, for the dedup probe.
NEAR_DEDUP = {"max_doc_id": 80, "n": 2, "num_hashes": 8, "bands": 4, "threshold": 0.6}


class TpchMix:
    name = "tpch_mix"
    #: one pass takes about this long on a 4-core box; sets the pass count
    nominal_pass_s = 6.0

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.data_dir = os.path.join(work, "tables")
        self.problems: dict[str, list[str]] = {}
        self.warm_s: dict[str, float] = {}
        self.input_rows: dict[str, int] = {}

    def generate(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        self.rows = datagen.write_tables(self.data_dir, SF, self.seed, n_docs=N_DOCS)

    def order(self, p: int) -> list[str]:
        """The seeded query order of pass ``p``."""
        names = list(TPCH_MIX)
        random.Random(self.seed * 7919 + p).shuffle(names)
        return names

    def warm_up(self, spark, tracer) -> None:
        """One untimed pass that checks each result against its oracle,
        then ``WARM_PASSES`` untimed passes until per-query times settle."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data_dir, t)}.parquet'")
        oracles = oracle_sql()
        for name in self.order(-1):
            t0 = time.perf_counter()
            try:
                df = QUERIES[name].spark(spark, self.data_dir)
                got = df.toPandas()
                self.warm_s[name] = time.perf_counter() - t0
                self.input_rows[name] = sum(
                    self.rows[os.path.basename(p).split(".")[0]]
                    for p in df.inputFiles()
                    if os.path.basename(p).split(".")[0] in self.rows
                )
                bad = compare(name, got, con.execute(oracles[name]).fetchdf())
            except Exception as e:  # a failing query is a failed op, not a crash
                bad = [f"{type(e).__name__}: {str(e)[:300]}"]
            if bad:
                self.problems[name] = bad
        con.close()
        for p in range(-1 - WARM_PASSES, -1):
            for name in self.order(p):
                if name not in self.problems:
                    self.run_op(spark, name, tracer)

    def run_op(self, spark, name: str, tracer) -> None:
        with tracer.span("plans.build"):
            df = QUERIES[name].spark(spark, self.data_dir)
            if tracer.enabled:
                df._jdf.queryExecution().executedPlan()
        with tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def measure(self, spark, passes: int, tracer):
        """``passes`` whole passes: (samples, failed ops, window wall).
        In a traced run, engine counters are read for every query of the
        first pass, outside the per-query times."""
        sc = spark.sparkContext
        samples, failed, self.pass_counters = [], 0, {}
        start = time.perf_counter()
        for p in range(passes):
            for name in self.order(p):
                group = f"perfbench:{p}:{name}"
                sc.setJobGroup(group, name, False)
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"op.{name}"):
                        self.run_op(spark, name, tracer)
                    ok = name not in self.problems
                except Exception as e:
                    self.problems.setdefault(name, []).append(f"{type(e).__name__}: {e}")
                    ok = False
                samples.append((name, time.perf_counter() - t0))
                sc.setJobGroup(None, None)
                failed += not ok
                if tracer.enabled and p == 0:
                    self.pass_counters[name] = job_group_counters(spark, group)
        window_s = time.perf_counter() - start
        # input rows of the tables each query scans
        self.rows_per_s = sum(self.input_rows.get(n, 0) for n, _ in samples) / window_s
        self.samples = samples
        return samples, failed, window_s

    def window_layers(self, spark, tracer) -> dict:
        """Engine counters summed over the first pass, median build and
        execution spans, and each query's median time."""
        totals: dict[str, float] = {}
        for counters in self.pass_counters.values():
            for k, v in counters.items():
                totals[k] = totals.get(k, 0) + v
        totals["plans.build_s"] = statistics.median(tracer.durations("plans.build"))
        totals["plans.exec_s"] = statistics.median(tracer.durations("plans.exec"))
        by: dict[str, list[float]] = {}
        for n, dt in self.samples:
            by.setdefault(n, []).append(dt)
        totals.update({f"plans.{n}.s": statistics.median(v) for n, v in sorted(by.items())})
        return totals


def dedup_probe(spark, docs_path: str, tracer, reps: int = 3) -> dict:
    """``shingles`` -> ``minhash_signatures`` -> ``lsh_candidate_pairs`` ->
    ``jaccard_verify`` with x2_lsh_near_dedup_survivors' parameters:
    candidate and verified pair counts and per-step self times."""
    from pyspark.sql import functions as F

    p = NEAR_DEDUP
    docs = spark.read.parquet(docs_path).filter(F.col("doc_id") < p["max_doc_id"])

    def chain(k: int):
        with tracer.span("operators.dedup.shingles"):
            g = shingles(docs, n=p["n"])
        out = g
        if k >= 1:
            with tracer.span("operators.dedup.minhash_signatures"):
                out = minhash_signatures(g, num_hashes=p["num_hashes"])
        if k >= 2:
            with tracer.span("operators.dedup.lsh_candidate_pairs"):
                out = lsh_candidate_pairs(out, bands=p["bands"])
        if k >= 3:
            with tracer.span("operators.dedup.jaccard_verify"):
                out = jaccard_verify(out, g, threshold=p["threshold"])
        return out

    steps = ("shingles", "minhash", "lsh", "verify")
    t: dict[str, list[float]] = {s: [] for s in steps}
    for _ in range(reps):
        for k, s in enumerate(steps):
            t0 = time.perf_counter()
            with tracer.span(f"probe.dedup.{s}"):
                chain(k).write.format("noop").mode("overwrite").save()
            t[s].append(time.perf_counter() - t0)
    m = {s: statistics.median(v) for s, v in t.items()}
    cand, ver = chain(2).count(), chain(3).count()
    return {
        "operators.dedup.shingles_s": m["shingles"],
        "operators.dedup.minhash_self_s": m["minhash"] - m["shingles"],
        "operators.dedup.lsh_self_s": m["lsh"] - m["minhash"],
        "operators.dedup.verify_self_s": m["verify"] - m["lsh"],
        "operators.dedup.candidates": cand,
        "operators.dedup.verified": ver,
        "operators.dedup.verified_per_candidate": ver / cand if cand else 0.0,
    }


def plan_probe(spark, data_dir: str, tracer, names=("q1_pricing_summary",
               "w1_tumbling_window", "d4_union_all"), reps: int = 2) -> dict:
    """``QUERIES[n].spark()`` plus ``executedPlan()`` and a noop execution
    for a fixed few queries (used where the workload runs no queries)."""
    build, run = [], []
    for _ in range(reps):
        for n in names:
            t0 = time.perf_counter()
            with tracer.span("plans.build"):
                df = QUERIES[n].spark(spark, data_dir)
                df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            with tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
            build.append(t1 - t0)
            run.append(time.perf_counter() - t1)
    return {"plans.build_s": statistics.median(build), "plans.exec_s": statistics.median(run)}
