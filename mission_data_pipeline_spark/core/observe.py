"""``df.observe``-based row accounting (R3, SURVEY §2.8).

Parity: reference ``src/mdp/observability/metrics.py:60-77`` feeds
``record_stage`` with per-stage record counts. The reference is eager
(pandas frames — ``len(df)`` is free); a naive Spark translation forces
``count()`` per stage, which re-executes every batch's plan once per
stage. The Spark-first mechanism is `CollectMetrics`: attach
``df.observe(name, count(*))`` to the DataFrame sides a batch passes
through and harvest the counts as a *side effect of the batch's single
action* (the loader's write). Counts are exact, not sampled.

Observations are per DataFrame *side*, not per stage boundary. A side a
stage passes through unchanged (the same object as upstream) shares the
upstream side's observation: decom and calibration leave ``packets``
untouched, and the ``packets`` observation sits inside the ``params``
plan, so a loader that writes only ``params`` still resolves it.

Harvest polls every side once, without blocking: Spark delivers
observed metrics before the action returns. :meth:`Observation.get`
would block forever on a side the action never executed, so the poll
goes through the JVM ``Observation.getRowOrEmpty`` (an ``Option[Row]``).
A side still unresolved after its poll — a branch the action did not
run, or an action such as ``toLocalIterator`` that reports no metrics —
is counted once with ``count()``.
"""

from __future__ import annotations

import logging
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mission_data_pipeline_spark.core.base import TelemetryBatch

log = logging.getLogger("mission_data_pipeline_spark.observe")

_warned_private_api = False


def _row_or_none(obs: Observation) -> dict | None:
    """Non-blocking harvest of one Observation; None if no action yet.

    Uses the JVM ``getRowOrEmpty`` bridge (same decode path as PySpark's
    own blocking ``Observation.get``). If a future PySpark reshuffles the
    private surface the side reads as unresolved and is counted, rather
    than blocking a pipeline on a dead branch.
    """
    global _warned_private_api
    try:
        jopt = obs._jo.getRowOrEmpty()  # noqa: SLF001
        if not jopt.isDefined():
            return None
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"  # noqa: SLF001
        )
        return CPickleSerializer().loads(utils.toPyRow(jopt.get())).asDict()
    except Exception:  # noqa: BLE001 - private-API drift → count, not a crash
        if not _warned_private_api:
            _warned_private_api = True
            log.warning(
                "Observation.getRowOrEmpty bridge unavailable; every "
                "observed side is counted with count() after the action."
            )
        return None


class Side:
    """One observed DataFrame side; ``rows`` is -1 until harvested."""

    __slots__ = ("df", "obs", "rows")

    def __init__(self, df: DataFrame, tag: str) -> None:
        self.obs = Observation(f"mdps:{tag}:{uuid.uuid4().hex[:8]}")
        self.df = df.observe(self.obs, F.count(F.lit(1)).alias("rows"))
        self.rows = -1


class Boundary(NamedTuple):
    """The observed sides of a batch at one stage boundary."""

    packets: Side | None
    params: Side | None

    @property
    def rows(self) -> int:
        """Rows across both sides, or -1 if a side is unresolved."""
        sides = [s for s in self if s is not None]
        if not sides or any(s.rows < 0 for s in sides):
            return -1
        return sum(s.rows for s in sides)


class BatchObservations:
    """Row-count observations over the DataFrame sides of one batch."""

    def __init__(self, tag: str) -> None:
        self.tag = tag
        self._sides: list[Side] = []

    def _side(self, df: DataFrame | None, tag: str) -> Side | None:
        if df is None:
            return None
        for side in self._sides:
            if side.df is df:  # passed through unchanged: share it
                return side
        side = Side(df, f"{self.tag}:{tag}")
        self._sides.append(side)
        return side

    def attach(
        self, batch: TelemetryBatch, stage: str
    ) -> tuple[TelemetryBatch, Boundary]:
        """Observe ``batch``'s sides; returns the observed batch (pass it
        downstream) and its boundary."""
        b = Boundary(
            self._side(batch.packets, f"{stage}:packets"),
            self._side(batch.params, f"{stage}:params"),
        )
        observed = TelemetryBatch(
            packets=b.packets.df if b.packets else None,
            params=b.params.df if b.params else None,
            metadata=batch.metadata,
        )
        return observed, b

    def harvest(self) -> None:
        """Resolve every side: one poll each, ``count()`` if unresolved.

        Downstream sides go first, so one ``count()`` of a derived side
        also resolves the upstream observations inside its plan.
        """
        for side in reversed(self._sides):
            if side.rows >= 0:
                continue
            row = _row_or_none(side.obs)
            side.rows = int(row["rows"]) if row is not None else side.df.count()
