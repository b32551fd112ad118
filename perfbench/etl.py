"""The ``telemetry_etl`` workload and the telemetry layer probe.

The workload is the path the engine exists for: ``Pipeline.run`` with
``BinaryPacketExtractor`` (one file per batch) -> ``DecomTransformer`` ->
``CalibrationTransformer`` -> ``ParquetLoader``, over seeded CCSDS files.
One operation is one batch. A run loads a fixed number of batches,
cycling the files, all appending to one output directory, so later
batches pay for a growing output the way a long-running pipeline does.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.dataset as pads

import datagen
from engine import group_job_ids, job_group_counters
from mission_data_pipeline_spark.core.base import Extractor, Loader, Transformer
from mission_data_pipeline_spark.core.pipeline import Pipeline
from mission_data_pipeline_spark.core.results import StageStatus
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

N_FILES = 3
PACKETS_PER_FILE = 20_000
PROBE_PACKETS = 5_000
EXPECTED_ABS_TOL = 1e-9

PARAMETERS = [
    {"name": "obc_temp", "apid": datagen.HK_APID, "byte_offset": 0, "bit_length": 16},
    {"name": "bus_voltage", "apid": datagen.HK_APID, "byte_offset": 2, "bit_length": 16},
    {"name": "bat_current", "apid": datagen.HK_APID, "byte_offset": 4, "bit_length": 16},
    {"name": "mission_time_s", "apid": datagen.HK_APID, "byte_offset": 6,
     "bit_length": 32, "param_type": "float"},
]
POLY = {"obc_temp": (-55.0, 0.04394531), "bus_voltage": (0.0, 0.008056640625)}
TABLE_RAW, TABLE_ENG = (0, 1024, 2048, 3072, 4095), (-2, -1, 0, 1, 2)
CALIBRATIONS = [
    {"parameter": "obc_temp", "method": "polynomial",
     "coefficients": list(POLY["obc_temp"]), "unit": "degC"},
    {"parameter": "bus_voltage", "method": "polynomial",
     "coefficients": list(POLY["bus_voltage"]), "unit": "V"},
    {"parameter": "bat_current", "method": "table", "table_raw": list(TABLE_RAW),
     "table_eng": list(TABLE_ENG), "unit": "A"},
]


def expected_eng(f: datagen.CcsdsFile) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per parameter: (seq_count, eng_value) of the rows decom must emit
    for ``f``, recomputed in numpy from the DN values."""
    hk = f.apid == datagen.HK_APID
    seq = f.seq_count[hk].astype(np.int64)
    raw = {
        "obc_temp": f.obc_temp[hk].astype(np.float64),
        "bus_voltage": f.bus_voltage[hk].astype(np.float64),
        "bat_current": f.bat_current[hk].astype(np.float64),
        "mission_time_s": f.mission_time_s[hk].astype(np.float64),
    }
    eng = {
        "obc_temp": POLY["obc_temp"][0] + POLY["obc_temp"][1] * raw["obc_temp"],
        "bus_voltage": POLY["bus_voltage"][0] + POLY["bus_voltage"][1] * raw["bus_voltage"],
        "bat_current": np.interp(raw["bat_current"], TABLE_RAW, TABLE_ENG),
        "mission_time_s": raw["mission_time_s"],
    }
    return {k: (seq, v) for k, v in eng.items()}


def check_output(out_dir: str, files: list[datagen.CcsdsFile]) -> list[str]:
    """Read the per-parameter parquet back and compare it, as a multiset
    of (seq_count, eng_value) rows per parameter, with the numpy
    recomputation for the files the batches loaded (in order)."""
    table = pads.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["name", "seq_count", "eng_value"]
    )
    names = np.asarray(table.column("name").to_pylist())
    seq = table.column("seq_count").to_numpy().astype(np.int64)
    eng = table.column("eng_value").to_numpy()
    expected = [expected_eng(f) for f in files]
    problems = []
    for p in PARAMETERS:
        name = p["name"]
        exp_seq = np.concatenate([e[name][0] for e in expected])
        exp_eng = np.concatenate([e[name][1] for e in expected])
        sel = names == name
        got_seq, got_eng = seq[sel], eng[sel]
        if len(got_seq) != len(exp_seq):
            problems.append(f"{name}: {len(got_seq)} rows written, {len(exp_seq)} expected")
            continue
        a, b = np.lexsort((got_eng, got_seq)), np.lexsort((exp_eng, exp_seq))
        if not np.array_equal(got_seq[a], exp_seq[b]):
            problems.append(f"{name}: seq_count values differ")
        err = np.abs(got_eng[a] - exp_eng[b])
        if len(err) and err.max() > EXPECTED_ABS_TOL:
            problems.append(f"{name}: eng_value off by up to {err.max():.3g}")
    return problems


def _spanned(stage, tracer, method: str):
    """A stage proxy with the wrapped stage's class name (so the
    pipeline's stage results and job names are unchanged) that records a
    span around each call of ``method``."""
    base = Transformer if isinstance(stage, Transformer) else Loader
    span = f"stages.{type(stage).__name__}.{method}"

    def call(self, batch):
        with tracer.span(span):
            return getattr(stage, method)(batch)

    cls = type(type(stage).__name__, (base,), {
        method: call,
        "setup": lambda self: stage.setup(),
        "teardown": lambda self: stage.teardown(),
    })
    return cls()


class _TimedExtractor(Extractor):
    """Yields the wrapped extractor's batches and times each one, from
    the pipeline's request for it to the request for the next one:
    extraction, transforms, load and bookkeeping."""

    def __init__(self, inner: Extractor, tracer) -> None:
        super().__init__()
        self.inner, self.tracer = inner, tracer
        self.batch_s: list[float] = []

    def extract(self, spark):
        it = iter(self.inner.extract(spark))
        while True:
            t0 = time.perf_counter()
            with self.tracer.span("stages.BinaryPacketExtractor.extract"):
                batch = next(it, None)
            if batch is None:
                return
            yield batch
            self.batch_s.append(time.perf_counter() - t0)


def etl_pipeline(name: str, paths: list[str], out_dir: str, tracer):
    ext = _TimedExtractor(
        BinaryPacketExtractor({"path": paths, "sec_hdr_length": datagen.SEC_HDR_LEN,
                               "files_per_batch": 1}),
        tracer,
    )
    pipe = Pipeline(
        {"name": name},
        extractor=ext,
        transformers=[
            _spanned(DecomTransformer({"parameters": PARAMETERS}), tracer, "transform"),
            _spanned(CalibrationTransformer({"calibrations": CALIBRATIONS}), tracer,
                     "transform"),
        ],
        loader=_spanned(ParquetLoader({"output_dir": out_dir}), tracer, "load"),
    )
    return pipe, ext


def _failed_batches(result, n_batches: int) -> int:
    """Batches with a failed stage (three stage results per batch)."""
    per = 3
    return sum(
        any(r.status is StageStatus.FAILED for r in result.stage_results[i * per:(i + 1) * per])
        for i in range(n_batches)
    )


class TelemetryEtl:
    name = "telemetry_etl"
    #: one batch takes about this long on a 4-core box
    nominal_pass_s = 6.0

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.data_dir = os.path.join(work, "ccsds")
        self.problems: dict[str, list[str]] = {}

    def generate(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        os.makedirs(self.data_dir)
        self.files = [
            datagen.write_ccsds_file(os.path.join(self.data_dir, f"hk{i}.bin"),
                                     PACKETS_PER_FILE, self.seed * 1000 + i)
            for i in range(N_FILES)
        ]

    def _run(self, spark, name: str, n_batches: int, tracer):
        """``n_batches`` batches through one ``Pipeline.run``; the output
        is checked after the run. Returns (batch times, failed batches,
        wall of the run alone)."""
        out = os.path.join(self.work, f"out_{name}")
        loaded = [self.files[i % N_FILES] for i in range(n_batches)]
        pipe, ext = etl_pipeline(name, [f.path for f in loaded], out, tracer)
        t0 = time.perf_counter()
        with tracer.span("core.pipeline.run"):
            result = pipe.run(spark)
        wall = time.perf_counter() - t0
        if result.status is not StageStatus.SUCCESS:
            bad = [f"pipeline status {result.status.value}: {result.errors[:1]}"]
        else:
            bad = check_output(out, loaded)
        if bad:
            self.problems[name] = bad
        failed = _failed_batches(result, len(ext.batch_s))
        return ext.batch_s, len(ext.batch_s) if self.problems else failed, wall

    def warm_up(self, spark, tracer) -> None:
        """One untimed, checked batch that pays the cold start."""
        self._run(spark, "warmup", 1, tracer)

    def measure(self, spark, passes: int, tracer):
        """``passes`` batches: (samples, failed ops, window wall)."""
        self.batch_s, failed, window_s = self._run(spark, "etl", passes, tracer)
        rows = sum(
            len(PARAMETERS) * int((self.files[i % N_FILES].apid == datagen.HK_APID).sum())
            for i in range(len(self.batch_s))
        )
        self.rows_per_s = rows / window_s
        return [("batch", dt) for dt in self.batch_s], failed, window_s

    def window_layers(self, spark, tracer) -> dict:
        """Engine counters summed over the window's batches."""
        totals: dict[str, float] = {}
        for i in range(1, len(self.batch_s) + 1):
            for k, v in job_group_counters(spark, f"mdps:etl:batch{i}").items():
                totals[k] = totals.get(k, 0) + v
        return totals


def telemetry_probe(spark, work: str, seed: int, tracer, reps: int = 3,
                    pipeline_pairs: int = 2) -> tuple[dict, dict]:
    """Per-layer times by prefix materialization on one probe file:
    ``read_packets`` -> noop, then + ``decommutate``, then +
    ``apply_calibrations``, then + ``write_parquet_per_parameter``
    (medians of ``reps``). Then the same file through one-batch
    ``Pipeline.run`` calls, alternately untraced and traced (ABBA order).
    Returns the metrics and the pipeline walls by tracing state."""
    d = os.path.join(work, "probe_ccsds")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    f = datagen.write_ccsds_file(os.path.join(d, "probe.bin"), PROBE_PACKETS, seed)
    defs = [ParameterDefinition(**p) for p in PARAMETERS]
    cals = [Calibration(**{**c, "coefficients": tuple(c.get("coefficients", ())),
                           "table_raw": tuple(c.get("table_raw", ())),
                           "table_eng": tuple(c.get("table_eng", ()))})
            for c in CALIBRATIONS]

    def prefix(k: int):
        with tracer.span("sources.binary.read_packets"):
            df = read_packets(spark, f.path, sec_hdr_length=datagen.SEC_HDR_LEN)
        if k >= 1:
            with tracer.span("operators.decom.decommutate"):
                df = decommutate(df, defs)
        if k >= 2:
            with tracer.span("operators.calibration.apply_calibrations"):
                df = apply_calibrations(df, cals)
        return df

    out = os.path.join(d, "out")
    t: dict[str, list[float]] = {k: [] for k in ("scan", "decom", "cal", "write")}
    for _ in range(reps):
        for k, key in enumerate(("scan", "decom", "cal")):
            t0 = time.perf_counter()
            with tracer.span(f"probe.{key}"):
                prefix(k).write.format("noop").mode("overwrite").save()
            t[key].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("probe.write"), tracer.span("sinks.parquet.write_parquet_per_parameter"):
            write_parquet_per_parameter(prefix(2), out)
        t["write"].append(time.perf_counter() - t0)
    m = {k: statistics.median(v) for k, v in t.items()}

    off = type(tracer)(tracer.run_id, enabled=False)
    pipe_s: dict[bool, list[float]] = {False: [], True: []}
    for i in range(2 * pipeline_pairs):
        traced = i % 4 in (1, 2)
        pipe, _ = etl_pipeline(f"probe{i}", [f.path], os.path.join(d, f"pipe{i}"),
                               tracer if traced else off)
        t0 = time.perf_counter()
        with tracer.span("probe.pipeline"):
            pipe.run(spark)
        pipe_s[traced].append(time.perf_counter() - t0)

    out_bytes = sum(
        os.path.getsize(os.path.join(r, n))
        for r, _, names in os.walk(out) for n in names if n.endswith(".parquet")
    )
    return {
        "sources.binary.scan_s": m["scan"],
        "sources.binary.packets": prefix(0).count(),
        "operators.decom.self_s": m["decom"] - m["scan"],
        "operators.decom.rows_out": prefix(1).count(),
        "operators.calibration.self_s": m["cal"] - m["decom"],
        "sinks.parquet.write_s": m["write"] - m["cal"],
        "sinks.parquet.bytes_per_input_byte": out_bytes / f.n_bytes,
        "core.pipeline.jobs_per_batch": len(group_job_ids(spark, "mdps:probe0:batch1")),
        "core.pipeline.overhead_s": statistics.median(pipe_s[False]) - m["write"],
    }, pipe_s
