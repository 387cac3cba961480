"""Summary statistics and the metric names the benchmark prints.

The names here must match ``BENCHMARK.json`` exactly (a test checks
it).  End-to-end metrics are common to every workload, because every
run prints all of them; which op kinds a workload counts as reads and
as writes is its ``READ_KINDS`` / ``WRITE_KINDS``."""

from __future__ import annotations

import math
import statistics

# (name, unit): printed by every --trace 0 run
END_TO_END = [
    ("setup_s", "s"),
    ("read_p50_gmean_ms", "ms"),
    ("write_p50_gmean_ms", "ms"),
    ("jvm_live_heap_mb", "MB"),
]

# (name, unit): printed by every --trace 1 run.  A layer a workload
# does not exercise reads 0.
PER_LAYER = [
    # client-visible numbers per operation kind (hbase_spark.table / admin)
    ("table.get_p50_ms", "ms"),
    ("table.get_tail_ms", "ms"),
    ("table.multi_get_p50_ms", "ms"),
    ("table.scan_p50_ms", "ms"),
    ("table.scan_tail_ms", "ms"),
    ("table.snapshot_p50_s", "s"),
    ("table.write_cells_per_s", "1/s"),
    ("table.error_rate", "ratio"),
    ("admin.write_amp", "ratio"),
    ("admin.space_amp", "ratio"),
    ("admin.table_open_ms", "ms"),
    ("admin.flush_ms", "ms"),
    ("admin.flush_bytes_written", "B"),
    ("admin.flush_files_written", "count"),
    ("admin.compact_ms", "ms"),
    ("admin.compact_bytes_rewritten", "B"),
    ("admin.table_files", "count"),
    ("sources.tables.session_start_ms", "ms"),
    ("operators.get.build_ms", "ms"),
    ("operators.get.plan_ms", "ms"),
    ("operators.get.exec_ms", "ms"),
    ("operators.get.files_read_per_op", "count"),
    ("operators.get.bytes_read_per_op", "B"),
    ("operators.get.rows_scanned_per_row_returned", "ratio"),
    ("operators.scan.build_ms", "ms"),
    ("operators.scan.plan_ms", "ms"),
    ("operators.scan.exec_ms", "ms"),
    ("operators.scan.files_read_per_op", "count"),
    ("operators.scan.bytes_read_per_op", "B"),
    ("operators.scan.rows_scanned_per_row_returned", "ratio"),
    ("filters.rows_examined_per_row_returned", "ratio"),
    ("operators.resolve.build_ms", "ms"),
    ("operators.resolve.plan_ms", "ms"),
    ("operators.resolve.exec_ms", "ms"),
    ("operators.resolve.exchanges", "count"),
    ("operators.resolve.sorts", "count"),
    ("operators.resolve.joins", "count"),
    ("operators.resolve.shuffle_bytes", "B"),
    ("operators.resolve.cells_in_per_cell_out", "ratio"),
    ("operators.mutations.build_ms", "ms"),
    ("operators.mutations.shuffle_bytes", "B"),
    ("operators.aggregations.exec_ms", "ms"),
    ("operators.aggregations.jobs", "count"),
    ("functions.dedup.docs_per_s", "1/s"),
    ("functions.dedup.build_ms", "ms"),
    ("functions.dedup.exec_ms", "ms"),
    ("functions.dedup.shuffle_bytes", "B"),
    ("functions.dedup.spill_bytes", "B"),
    ("functions.dedup.candidate_pairs", "count"),
    ("functions.dedup.verified_pairs", "count"),
    ("functions.dedup.verified_per_candidate", "ratio"),
    ("functions.graph.exec_ms", "ms"),
    ("functions.graph.jobs", "count"),
    ("functions.graph.shuffle_bytes", "B"),
    ("streaming.dedup.docs_per_s", "1/s"),
    ("streaming.dedup.batch_ms", "ms"),
    ("streaming.dedup.state_rows", "count"),
    ("streaming.dedup.state_memory_bytes", "B"),
    ("streaming.dedup.python_nodes", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.spill_bytes", "B"),
    ("spark.task_skew", "ratio"),
    ("spark.driver_only_ms", "ms"),
    ("spark.jvm_rss_peak_mb", "MB"),
    ("trace.read_p50_gmean_ms", "ms"),
    ("trace.write_p50_gmean_ms", "ms"),
    ("trace.overhead_pct", "%"),
    ("trace.collect_ms_per_op", "ms"),
    ("trace.spans", "count"),
]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def gmean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when ``n <= beyond``."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail(xs, beyond: int = 10) -> tuple[int | None, float]:
    """(percentile, value) of the tail rule; with too few samples the
    percentile is None and the value is the maximum."""
    p = tail_percentile(len(xs), beyond)
    if p is None:
        return None, max(xs, default=0.0)
    return p, percentile(xs, p)


def result_line(metrics: dict, names, *, attempted: int, failed: int) -> dict:
    """The JSON object of the last stdout line: exactly ``names``, each
    with its unit.  A name measured but not declared, or declared but
    not measured, is an error."""
    declared = [n for n, _ in names]
    if set(metrics) != set(declared):
        raise KeyError(
            f"not measured: {sorted(set(declared) - set(metrics))}, "
            f"not declared: {sorted(set(metrics) - set(declared))}"
        )
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in names},
    }
