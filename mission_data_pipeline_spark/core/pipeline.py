"""Pipeline orchestration.

Parity: reference ``src/mdp/core/pipeline.py:69-195`` — semantics P1–P8
(SURVEY §2.8):

- P1 setup/teardown around every stage invocation (``base.py:75-79``);
- P2 transformer failure → batch continues **unchanged**, FAILED
  StageResult recorded; ``stop_on_error=True`` (default) stops the run,
  else the remaining transformers of THIS batch are skipped and the
  partially-transformed batch is still loaded (``pipeline.py:177-195``);
- P3 loader failure → FAILED result, stop if stop_on_error;
- P4 extractor failure → caught by the outer loop, run marked FAILED;
- P5 ``dry_run`` executes transformers but skips the loader (the plan
  is still forced so transform errors surface);
- P6 ``max_batches``; P7 result objects; P8 SUCCESS iff zero errors.

Unlike the reference, hooks actually fire (R2) and per-stage metrics are
actually recorded (R3). Record accounting has one path, with no options
(``core/observe.py``): every DataFrame side a stage produces gets a
``df.observe(count(*))`` node, and the counts are harvested after the
batch's single action (the loader's write). A side the action never
executed is counted once with ``count()``. Because counts only exist
after the action, ``batch.extracted`` / ``batch.transformed`` hooks
fire with ``records=-1``; StageResult and metrics are filled in after
the harvest. A batch aborted before any action ran reads ``-1``.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Iterator

from pydantic import BaseModel
from pyspark.sql import SparkSession

from mission_data_pipeline_spark.core.base import (
    Extractor,
    Loader,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.observe import (
    BatchObservations,
    Boundary,
    Side,
)
from mission_data_pipeline_spark.core.results import (
    PipelineResult,
    StageResult,
    StageStatus,
)
from mission_data_pipeline_spark.observability.hooks import HookManager
from mission_data_pipeline_spark.observability.metrics import PipelineMetrics

log = logging.getLogger("mission_data_pipeline_spark.pipeline")

# A stage result whose counts are filled in after the harvest: the
# boundary it read, and the boundary or side it produced (or the rows
# a loader reported writing).
_Pending = tuple[StageResult, Boundary, Boundary | Side | int]


class PipelineConfig(BaseModel):
    model_config = {"frozen": True, "extra": "forbid"}

    name: str = "pipeline"
    stop_on_error: bool = True
    dry_run: bool = False
    max_batches: int | None = None


class Pipeline:
    def __init__(
        self,
        config: PipelineConfig | dict | None = None,
        *,
        extractor: Extractor,
        transformers: list[Transformer] | None = None,
        loader: Loader | None = None,
        hooks: HookManager | None = None,
        metrics: PipelineMetrics | None = None,
    ) -> None:
        if config is None:
            config = PipelineConfig()
        elif isinstance(config, dict):
            config = PipelineConfig(**config)
        self.config = config
        self.extractor = extractor
        self.transformers = list(transformers or [])
        self.loader = loader
        self.hooks = hooks or HookManager()
        self.metrics = metrics or PipelineMetrics()

    # -- timed stage wrappers (P1: setup/teardown even on error) --------

    def _timed(self, stage, fn):
        t0 = time.perf_counter()
        stage.setup()
        try:
            out = fn()
            elapsed = time.perf_counter() - t0
            return out, elapsed, None
        except Exception as exc:  # noqa: BLE001 - stage errors are data
            elapsed = time.perf_counter() - t0
            return None, elapsed, exc
        finally:
            stage.teardown()

    # -- run -------------------------------------------------------------

    def run(self, spark: SparkSession) -> PipelineResult:
        cfg = self.config
        result = PipelineResult(pipeline_name=cfg.name, status=StageStatus.SUCCESS)
        t_start = time.perf_counter()
        self.hooks.fire("pipeline.start", pipeline=cfg.name, config=cfg)
        log.info("pipeline start", extra={"ctx_pipeline": cfg.name})

        sc = spark.sparkContext
        try:
            batches: Iterator[TelemetryBatch] = self.extractor.extract(spark)
            for batch in batches:
                result.batches_processed += 1
                sc.setJobGroup(
                    f"mdps:{cfg.name}:batch{result.batches_processed}",
                    f"pipeline {cfg.name} batch {result.batches_processed}",
                    False,
                )
                try:
                    stop = self._run_batch(batch, result)
                finally:
                    sc.setJobGroup(None, None)  # type: ignore[arg-type]
                if stop:
                    break
                if (
                    cfg.max_batches is not None
                    and result.batches_processed >= cfg.max_batches
                ):
                    break
        except Exception as exc:  # noqa: BLE001 - P4 extractor failure
            msg = f"{type(self.extractor).__name__}: {exc}"
            result.errors.append(msg)
            result.stage_results.append(
                StageResult(
                    stage_name=type(self.extractor).__name__,
                    status=StageStatus.FAILED,
                    error=str(exc),
                )
            )
            self.hooks.fire(
                "stage.error", stage=type(self.extractor).__name__, error=exc
            )

        result.elapsed_s = time.perf_counter() - t_start
        result.status = (
            StageStatus.SUCCESS if not result.errors else StageStatus.FAILED
        )  # P8
        self.hooks.fire("pipeline.complete", result=result)
        log.info(
            "pipeline complete",
            extra={"ctx_status": result.status.value, "ctx_elapsed": result.elapsed_s},
        )
        return result

    def _run_batch(self, batch: TelemetryBatch, result: PipelineResult) -> bool:
        """Runs one batch through transformers + loader.

        Returns True if the run must stop (stop_on_error hit).
        """
        cfg = self.config
        n_batch = result.batches_processed
        obs = BatchObservations(f"b{n_batch}")
        current, boundary = obs.attach(batch, "extract")
        extracted = boundary
        pending: list[_Pending] = []
        self.hooks.fire("batch.extracted", batch=n_batch, records=-1)

        stopping = False
        for tr in self.transformers:
            tname = type(tr).__name__
            out, elapsed, exc = self._timed(tr, lambda t=tr, b=current: t.transform(b))
            if exc is None:
                current, out_boundary = obs.attach(out, tname)
                sr = StageResult(tname, StageStatus.SUCCESS, elapsed)
                result.stage_results.append(sr)
                pending.append((sr, boundary, out_boundary))
                boundary = out_boundary
                continue
            # P2: batch continues unchanged (in == out == upstream count);
            # remaining transformers of this batch are skipped either way.
            sr = StageResult(tname, StageStatus.FAILED, elapsed, error=str(exc))
            result.stage_results.append(sr)
            pending.append((sr, boundary, boundary))
            result.errors.append(f"{tname}: {exc}")
            self.metrics.record_stage(tname, elapsed_s=elapsed, error=True)
            self.hooks.fire("stage.error", stage=tname, error=exc)
            stopping = cfg.stop_on_error
            break
        self.hooks.fire("batch.transformed", batch=n_batch, records=-1)

        if not stopping:
            stopping = self._load(current, boundary, obs, pending, result)

        # counts read -1 where no action ran
        result.total_packets += max(extracted.rows, 0)
        self.metrics.record_batch(max(extracted.rows, 0))
        for sr, b_in, out in pending:
            sr.records_in = b_in.rows
            sr.records_out = out if isinstance(out, int) else out.rows
            if sr.status is StageStatus.SUCCESS:
                self.metrics.record_stage(
                    sr.stage_name,
                    elapsed_s=sr.elapsed_s,
                    records_in=max(sr.records_in, 0),
                    records_out=max(sr.records_out, 0),
                )
        return stopping

    def _load(
        self,
        current: TelemetryBatch,
        boundary: Boundary,
        obs: BatchObservations,
        pending: list[_Pending],
        result: PipelineResult,
    ) -> bool:
        """Runs the batch's one action and harvests its observations.

        Returns True if the run must stop (loader failed, stop_on_error).
        """
        cfg = self.config
        if self.loader is None:
            return False  # nothing forces the plan; counts stay -1
        lname = type(self.loader).__name__
        if cfg.dry_run:
            # counting every side forces the plan, so transform-time
            # errors still surface
            obs.harvest()
            result.stage_results.append(StageResult(lname, StageStatus.SKIPPED))
            return False

        out, elapsed, exc = self._timed(
            self.loader, lambda: self.loader.load(current)
        )
        if exc is not None:  # P3
            result.stage_results.append(
                StageResult(lname, StageStatus.FAILED, elapsed, -1, 0, str(exc))
            )
            result.errors.append(f"{lname}: {exc}")
            self.metrics.record_stage(lname, elapsed_s=elapsed, error=True)
            self.hooks.fire("stage.error", stage=lname, error=exc)
            return cfg.stop_on_error
        obs.harvest()
        sr = StageResult(lname, StageStatus.SUCCESS, elapsed)
        result.stage_results.append(sr)
        # None: rows written = the loaded batch's params rows
        written = out if isinstance(out, int) else (boundary.params or boundary).rows
        pending.append((sr, boundary, written))
        self.hooks.fire("batch.loaded", batch=result.batches_processed, records=written)
        return False
