"""Pipeline orchestration — SURVEY §2.8 (P1–P8), §2.9 (R1), §2.10.

The "dataset contract" between stages is :class:`TelemetryBatch` — two
lazy DataFrames (packets, tidy params) plus metadata — the Spark
restatement of the reference's ``TelemetryDataset``
(``src/mdp/models/dataset.py:14-24``). Stages declare transformations;
Spark executes them when a loader forces an action, so a
whole Extract→Transform*→Load chain is ONE Catalyst plan per batch.
"""

from mission_data_pipeline_spark.core.base import (
    Extractor,
    Loader,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.pipeline import Pipeline, PipelineConfig
from mission_data_pipeline_spark.core.registry import registry
from mission_data_pipeline_spark.core.results import (
    PipelineResult,
    StageResult,
    StageStatus,
)

__all__ = [
    "Extractor",
    "Loader",
    "Pipeline",
    "PipelineConfig",
    "PipelineResult",
    "StageResult",
    "StageStatus",
    "TelemetryBatch",
    "Transformer",
    "registry",
]
