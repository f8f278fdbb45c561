"""In-flight data-quality metrics: ``observe()`` + listener collection.

A 100 TB ingest pipeline cannot afford a second pass to know what it
just processed. Spark's observed-metrics mechanism computes declared
aggregates ON the data plane while the query runs — zero extra scans,
map-side accumulation, no shuffle — and surfaces them per micro-batch
(streaming) or per action (batch). This module packages the pattern
the reference lacks entirely (its Java handler counts nothing): a
standard quality bundle (row count, tombstone/null counts, event-time
bounds) plus the plumbing to collect it.

Batch:     df2, obs = observed_quality(df, ts_col="ts"); action; obs.get
Streaming: attach a QualityMetricsListener, wrap the stream with
           observed_quality(...), read per-batch rows off the listener.

Reference: SURVEY.md §2.2 (monitoring/ops checklist — absent in the
reference); the bundle shape follows Spark's Observation API docs.

Gotcha (observed empirically): metrics count ROW PASSES, not distinct
rows — a ``foreachBatch`` body that runs several actions re-executes
the source scan per action and inflates the counts. Persist the batch
DataFrame first (``batch.persist()``) so the plan above the
observation runs once. ``PipelineRunner`` already does this: it
persists each transformed micro-batch before its sink runs, so an
observation inside a pipeline transform counts each row once; the
sink-per-query path (no foreachBatch) is immune.
"""

from __future__ import annotations

import threading
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def quality_metrics(
    ts_col: str | None = None,
    null_cols: Sequence[str] = (),
) -> list[Column]:
    """The standard quality bundle as observe() aggregate columns.

    All of these are partial-aggregatable (count / conditional count /
    min / max), so the observation rides the existing stage with
    map-side combine — the only safe kind of metric at scale.
    """
    cols = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols:
        cols.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"n_null_{c}"
            )
        )
    if ts_col is not None:
        cols.append(F.min(ts_col).alias("min_ts"))
        cols.append(F.max(ts_col).alias("max_ts"))
    return cols


def observed_quality(
    df: DataFrame,
    name: str = "quality",
    ts_col: str | None = None,
    null_cols: Sequence[str] = (),
):
    """Attach the quality bundle to a DataFrame.

    Batch input: returns ``(df, Observation)`` — read ``obs.get`` after
    the first action. Streaming input: returns ``(df, None)`` — the
    metrics arrive per micro-batch via ``observedMetrics[name]`` on
    query progress (use :class:`QualityMetricsListener`).
    """
    metrics = quality_metrics(ts_col=ts_col, null_cols=null_cols)
    if df.isStreaming:
        return df.observe(name, *metrics), None
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


class QualityMetricsListener(StreamingQueryListener):
    """Collects named observed metrics from every micro-batch.

    ``rows(name)`` returns the per-batch metric rows (as dicts, in
    batch order) for one observation name across all queries seen.
    Thread-safe: the listener bus invokes callbacks off-thread.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._rows: list[tuple[str, int, dict]] = []

    def onQueryStarted(self, event) -> None:  # pragma: no cover - noop
        pass

    def onQueryProgress(self, event) -> None:
        progress = event.progress
        observed = progress.observedMetrics or {}
        with self._lock:
            for name, row in observed.items():
                self._rows.append(
                    (name, progress.batchId, row.asDict(recursive=True))
                )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - noop
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - noop
        pass

    def rows(self, name: str = "quality") -> list[dict]:
        with self._lock:
            out = [
                dict(batch_id=b, **r)
                for (n, b, r) in sorted(self._rows, key=lambda t: t[1])
                if n == name
            ]
        return out
