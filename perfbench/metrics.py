"""Metric names the benchmark emits, and the statistics behind them.

``END_TO_END`` is what an untraced run prints and ``PER_LAYER`` what a
traced run prints; every workload prints every name, and a per-layer
metric reads 0 on a workload that does not exercise that layer.
"""

from __future__ import annotations

import math
import statistics

from querylib import KEYS

END_TO_END = {
    "setup_s": "s",
    "ok_ops_ratio": "ratio",
    "op_p50_s": "s",
    "serve_geomean_s": "s",
}

SPAN_LAYERS = ["sources", "pipelines", "operators", "warehouse", "plans", "queries"]
SPAN_FIELDS = {
    "self_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_skew": "ratio",
}
DAG_TASKS = [
    "transform_open_close", "transform_info", "transform_sustainability", "register_warehouse",
]

PER_LAYER = {
    "cpu_s_per_op": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.warmup_ops": "count",
    "sources.kaggle_scan_s": "s",
    "sources.api_scan_s": "s",
    "pipelines.open_close_build_s": "s",
    "pipelines.open_close_exec_s": "s",
    "pipelines.info_s": "s",
    "pipelines.sustainability_s": "s",
    "warehouse.write_table_s": "s",
    "warehouse.files_written": "count",
    "warehouse.bytes_written_per_input_byte": "ratio",
    "warehouse.register_s": "s",
    "warehouse.serve_analyze_s": "s",
    "warehouse.serve_collect_s": "s",
    "warehouse.serve_jobs": "count",
    "warehouse.serve_tasks": "count",
    **{f"plans.task.{t}_s": "s" for t in DAG_TASKS},
    "plans.dag_overhead_s": "s",
    "plans.retries": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    **{f"queries.build_s.{k}": "s" for k in KEYS},
    "operators.exec_s": "s",
    "operators.exec_tasks": "count",
    **{f"operators.exec_s.{k}": "s" for k in KEYS},
    **{f"{layer}.{f}": u for layer in SPAN_LAYERS for f, u in SPAN_FIELDS.items()},
    "trace.untraced_s": "s",
    "trace.untraced_share": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.reconcile_max_err": "ratio",
    "drift_ratio": "ratio",
    "drift_cpu_ratio": "ratio",
}

# A traced op's span self times must add up to its wall time within this
# share of it.
RECONCILE_TOLERANCE = 0.02


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    """Geometric mean: the summary of a mix of reads of different shapes,
    as TPC-H's power metric summarizes its queries; unlike the median of a
    few shapes, it does not jump from one shape's latency to another's."""
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def drift_ratio(latencies) -> float:
    """Median of the second half of the ops ÷ median of the first half.

    Applied to wall times and to CPU times per op: latency that drifts
    while CPU per op stays flat points at the host, not the program."""
    if len(latencies) < 2:
        return 1.0
    h = len(latencies) // 2
    return median(latencies[-h:]) / median(latencies[:h])
