"""Types and metric tables shared by the runner and the workloads."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# The end-to-end metrics BENCHMARK.json gates. Every workload reports
# every one of them, each from one of its own named metrics
# (README.md has the map).
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "p50_s": "s",
    "rate_per_s": "1/s",
}

# Per-layer metrics of the traced run. Every workload reports all of
# them; a layer the workload does not touch reads 0. Times and counts
# are means per operation of the layer (per query execution, per
# micro-batch, per read), except where README.md says otherwise.
LAYER_UNITS = {
    "session.start_ms": "ms",
    "sources.prime_ms": "ms",
    "sources.scan_tasks": "count",
    "sources.input_bytes": "bytes",
    "sources.append_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.rows_read": "count",
    "cdc.rows_in": "count",
    "cdc.rows_routed": "count",
    "cdc.keep_ratio": "ratio",
    "pipelines.setup_ms": "ms",
    "pipelines.trigger_ms": "ms",
    "pipelines.planning_ms": "ms",
    "pipelines.checkpoint_ms": "ms",
    "pipelines.wait_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "queries.analysis_ms": "ms",
    "queries.optimization_ms": "ms",
    "queries.planning_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.sched_gap_ms": "ms",
    "queries.executor_run_ms": "ms",
    "queries.executor_cpu_ms": "ms",
    "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "operators.python_rows": "count",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_received": "bytes",
    "operators.python_stage_run_ms": "ms",
    "operators.python_worker_ms": "ms",
    "sinks.lake_merge_ms": "ms",
    "sinks.lake_files_added": "count",
    "sinks.lake_files_removed": "count",
    "sinks.lake_write_amp": "ratio",
    "sinks.lake_live_files": "count",
    "sinks.lake_log_bytes": "bytes",
    "sinks.lake_files_pruned": "count",
    "sinks.lake_read_ms": "ms",
    "sinks.lake_feed_ms": "ms",
    "sinks.lake_optimize_ms": "ms",
    "sinks.lake_optimize_bytes_rewritten": "bytes",
    "sinks.lake_vacuum_ms": "ms",
    "sinks.es_write_ms": "ms",
    "sinks.es_requests": "count",
    "sinks.es_bytes": "bytes",
    "sinks.es_items": "count",
    "sinks.es_retries": "count",
}


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    seed: int
    seconds: float
    slots: int
    scratch: str
    tracer: object  # trace.Tracer


@dataclass
class Result:
    """What a workload hands back: its named end-to-end metrics
    (seconds or milliseconds as named), their units, the generic
    metric each named one feeds, per-layer means, and the operation
    counts behind ``error_rate``."""

    named: dict[str, float]
    units: dict[str, str]
    generic: dict[str, str]  # END_TO_END name -> named metric
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) at the highest of the 50th, 75th, 90th, 95th
    and 99th percentiles that has at least ten samples beyond it (the
    median when there are fewer than 40 samples)."""
    pct = 50
    for p in (75, 90, 95, 99):
        if len(values) * (100 - p) / 100 >= 10:
            pct = p
    if pct == 50 or len(values) < 2:
        return median(values), pct
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0
