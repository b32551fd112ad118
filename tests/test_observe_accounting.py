"""R3 record accounting: exact per-stage counts from ONE job/batch.

The scale contract (VERDICT r05 #1): per-stage ``records_in/out`` come
from ``df.observe(count(*))`` on each DataFrame side, harvested after
the batch's single action — never from a ``count()`` per stage, which
would re-execute the plan once per stage. Reference semantics matched:
``src/mdp/observability/metrics.py:60-77`` (record_stage fed with real
counts).
"""

from collections.abc import Iterator

from pyspark.sql import functions as F

from mission_data_pipeline_spark.core import (
    Extractor,
    Loader,
    Pipeline,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.base import StageConfig


class RangeExtractor(Extractor):
    def __init__(self, n_batches=2, rows=10):
        super().__init__(StageConfig())
        self._n, self._rows = n_batches, rows

    def extract(self, spark) -> Iterator[TelemetryBatch]:
        for b in range(self._n):
            df = spark.range(self._rows).select(
                F.lit("p").alias("name"),
                (F.col("id") + b * self._rows).cast("double").alias("raw_value"),
            )
            yield TelemetryBatch(params=df, metadata={"batch": b})


class HalvingFilter(Transformer):
    def transform(self, batch):
        return TelemetryBatch(
            batch.packets,
            batch.params.filter(F.col("raw_value") % 2 == 0),
            batch.metadata,
        )


class DoublingTransformer(Transformer):
    def transform(self, batch):
        return TelemetryBatch(
            batch.packets,
            batch.params.withColumn("raw_value", F.col("raw_value") * 2),
            batch.metadata,
        )


class NoopLoader(Loader):
    """Single write action, no driver materialization, no row count."""

    def __init__(self):
        super().__init__(StageConfig())

    def load(self, batch):
        batch.params.write.format("noop").mode("overwrite").save()
        return None  # rows-written unknown → backfilled from observation


def test_observe_mode_counts_and_single_job(spark):
    p = Pipeline(
        {"name": "obsjob"},
        extractor=RangeExtractor(n_batches=2, rows=10),
        transformers=[HalvingFilter(), DoublingTransformer()],
        loader=NoopLoader(),
    )
    r = p.run(spark)
    assert r.ok

    # exact per-stage accounting, harvested from CollectMetrics
    per_batch = len(r.stage_results) // 2
    for b in range(2):
        halv, doub, load = r.stage_results[b * per_batch : (b + 1) * per_batch]
        assert (halv.records_in, halv.records_out) == (10, 5)
        assert (doub.records_in, doub.records_out) == (5, 5)
        assert (load.records_in, load.records_out) == (5, 5)
    assert r.total_packets == 20
    snap = p.metrics.snapshot()
    assert snap["total_packets"] == 20
    assert snap["stages"]["HalvingFilter"]["records_in"] == 20
    assert snap["stages"]["HalvingFilter"]["records_out"] == 10
    assert snap["stages"]["NoopLoader"]["records_out"] == 10

    # THE scale assertion: one Spark job per batch (observe mode never
    # forces extra actions; a count() per stage would run 4 jobs/batch)
    tracker = spark.sparkContext.statusTracker()
    for b in (1, 2):
        jobs = tracker.getJobIdsForGroup(f"mdps:obsjob:batch{b}")
        assert len(jobs) == 1, f"batch {b}: expected exactly 1 job, got {jobs}"


class _TwoSidedExtractor(Extractor):
    def __init__(self):
        super().__init__(StageConfig())

    def extract(self, s) -> Iterator[TelemetryBatch]:
        yield TelemetryBatch(
            packets=s.range(7).selectExpr("id as apid"),
            params=s.range(3).selectExpr("'p' as name"),
        )


def test_unexecuted_side_counted_once(spark):
    """A side the action never executes is counted once with count() —
    accounting never silently reads -1 after an action ran."""
    p = Pipeline(
        {"name": "deadfill"},
        extractor=_TwoSidedExtractor(),
        loader=NoopLoader(),  # writes params only; packets side never runs
    )
    r = p.run(spark)
    assert r.ok
    assert r.total_packets == 10  # packets(7) + params(3), exact
    load = next(s for s in r.stage_results if s.stage_name == "NoopLoader")
    assert load.records_in == 10
    assert load.records_out == 3  # None from the loader: params rows only


def test_etl_batch_runs_only_the_write_jobs(spark, hk_bin, tmp_path):
    """Scan -> decom -> calibration -> parquet through the Pipeline runs
    exactly the jobs of a bare ``write_parquet_per_parameter`` of the same
    plan: accounting adds no job (no dead-branch count(), no loader
    count()), and the counts still equal the fixture's."""
    from mission_data_pipeline_spark.operators import (
        Calibration,
        ParameterDefinition,
        apply_calibrations,
        decommutate,
    )
    from mission_data_pipeline_spark.sinks import write_parquet_per_parameter
    from mission_data_pipeline_spark.sources import read_packets
    from mission_data_pipeline_spark.stages import (
        BinaryPacketExtractor,
        CalibrationTransformer,
        DecomTransformer,
        ParquetLoader,
    )

    params = [
        {"name": "obc_temp_dn", "apid": 0x100, "byte_offset": 0, "bit_length": 16},
        {"name": "bus_voltage_dn", "apid": 0x100, "byte_offset": 2, "bit_length": 16},
        {"name": "bat_current_dn", "apid": 0x100, "byte_offset": 4, "bit_length": 16},
    ]
    cal = {"parameter": "obc_temp_dn", "method": "polynomial",
           "coefficients": [-55.0, 0.04394531], "unit": "degC"}
    n_packets, n_params = 200, 200 * len(params)

    p = Pipeline(
        {"name": "etljobs"},
        extractor=BinaryPacketExtractor({"path": hk_bin, "sec_hdr_length": 4}),
        transformers=[
            DecomTransformer({"parameters": params}),
            CalibrationTransformer({"calibrations": [cal]}),
        ],
        loader=ParquetLoader({"output_dir": str(tmp_path / "pipe")}),
    )
    r = p.run(spark)
    assert r.ok
    counts = [(s.stage_name, s.records_in, s.records_out) for s in r.stage_results]
    assert counts == [
        ("DecomTransformer", n_packets, n_packets + n_params),
        ("CalibrationTransformer", n_packets + n_params, n_packets + n_params),
        ("ParquetLoader", n_packets + n_params, n_params),
    ]
    assert r.total_packets == n_packets

    sc = spark.sparkContext
    sc.setJobGroup("etljobs-bare", "bare write of the same plan", False)
    try:
        bare = apply_calibrations(
            decommutate(
                read_packets(spark, hk_bin, sec_hdr_length=4),
                [ParameterDefinition(**d) for d in params],
            ),
            [Calibration(cal["parameter"], cal["method"],
                         tuple(cal["coefficients"]), unit=cal["unit"])],
        )
        write_parquet_per_parameter(bare, str(tmp_path / "bare"))
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    tracker = sc.statusTracker()
    pipe_jobs = tracker.getJobIdsForGroup("mdps:etljobs:batch1")
    bare_jobs = tracker.getJobIdsForGroup("etljobs-bare")
    assert len(bare_jobs) >= 1
    assert len(pipe_jobs) == len(bare_jobs), (pipe_jobs, bare_jobs)
