"""Streaming pipeline runner.

W1: the reference's generator micro-batching (``binary.py:115-123``)
restated as Structured Streaming + ``foreachBatch``: the SAME
Transformer stages and Loader used in batch mode run against every
micro-batch, with the same hooks/metrics accounting. Exactly-once is
inherited from the sink's idempotence + checkpointing (file sources
track progress in the checkpoint dir).
"""

from __future__ import annotations

import logging
import time
from typing import Any

from pyspark.sql import DataFrame

from mission_data_pipeline_spark.core.base import (
    Loader,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.observe import BatchObservations
from mission_data_pipeline_spark.observability.hooks import HookManager
from mission_data_pipeline_spark.observability.metrics import PipelineMetrics

log = logging.getLogger("mission_data_pipeline_spark.streaming")


class StreamingPipeline:
    """Apply Transformer stages + a Loader to each streaming micro-batch."""

    def __init__(
        self,
        *,
        transformers: list[Transformer] | None = None,
        loader: Loader | None = None,
        hooks: HookManager | None = None,
        metrics: PipelineMetrics | None = None,
        stream_is_params: bool = True,
    ) -> None:
        self.transformers = list(transformers or [])
        self.loader = loader
        self.hooks = hooks or HookManager()
        self.metrics = metrics or PipelineMetrics()
        self.stream_is_params = stream_is_params

    def _process_batch(self, df: DataFrame, epoch_id: int) -> None:
        # Record accounting via df.observe (core/observe.py), the same
        # one-action-per-batch discipline as the batch Pipeline: an eager
        # df.count() here would re-execute the micro-batch's source read
        # once per epoch just for the metric. With no loader, the
        # harvest's count() of each side is the batch's only action.
        obs = BatchObservations(f"stream-epoch{epoch_id}")
        batch, extracted = obs.attach(
            TelemetryBatch(params=df, metadata={"epoch": epoch_id})
            if self.stream_is_params
            else TelemetryBatch(packets=df, metadata={"epoch": epoch_id}),
            "extract",
        )
        self.hooks.fire("batch.extracted", batch=epoch_id, records=-1)
        stage_elapsed: list[tuple[str, float]] = []
        for tr in self.transformers:
            t0 = time.perf_counter()
            batch = tr.transform(batch)
            stage_elapsed.append((type(tr).__name__, time.perf_counter() - t0))
        batch, loaded = obs.attach(batch, "load")
        self.hooks.fire("batch.transformed", batch=epoch_id, records=-1)
        written = None
        load_elapsed = 0.0
        if self.loader is not None:
            t0 = time.perf_counter()
            written = self.loader.load(batch)
            load_elapsed = time.perf_counter() - t0
        obs.harvest()
        n = extracted.rows
        self.metrics.record_batch(n)
        for name, elapsed in stage_elapsed:
            self.metrics.record_stage(name, elapsed_s=elapsed, records_in=n)
        if self.loader is not None:
            # None: rows written = the loaded batch's params rows
            n_loaded = (
                written if isinstance(written, int)
                else (loaded.params or loaded).rows
            )
            self.metrics.record_stage(
                type(self.loader).__name__,
                elapsed_s=load_elapsed,
                records_in=loaded.rows,
                records_out=n_loaded,
            )
            self.hooks.fire("batch.loaded", batch=epoch_id, records=n_loaded)

    def start(
        self,
        stream: DataFrame,
        *,
        checkpoint_dir: str,
        available_now: bool = False,
        trigger_interval: str | None = None,
        query_name: str = "mdps-stream",
    ) -> Any:
        """Start the query; returns the StreamingQuery handle.

        ``available_now=True`` drains everything currently available and
        stops — the batch-parity mode used by tests and backfills.
        """
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        self.hooks.fire("pipeline.start", pipeline=query_name)
        return writer.start()
