"""What each workload runs, and the per-layer metrics a traced run reports.

Shape shared by every workload: one closed-loop client and one Spark
session on ``local[<cores>]`` (cores = the CPUs this process may use),
driver heap ``SPARK_GRAFT_DRIVER_MEM`` (default here 2g), the engine's
default 32 shuffle partitions. A pass runs the workload's keys back to
back; the timed action of a key is its registry call plus a full Arrow
``toPandas()`` fetch of the result.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    keys: dict[str, str]  # registry key -> layer that owns its function
    fresh_inputs: bool  # regenerate the input directory before every pass
    min_steady_passes: int


SQL_READS = Workload(
    name="sql_reads",
    why="TPC-H keys on the JVM/Catalyst read path with no Python workers: plan building and scans",
    keys={k: "plans" for k in (
        "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
        "q13_customer_distribution", "q18_large_orders", "q21_waiting_suppliers",
    )},
    fresh_inputs=False,
    min_steady_passes=3,
)

CURATION = Workload(
    name="curation",
    why="MapReduce word count on Python/Arrow workers, manifest commits and an AvailableNow stream, on fresh inputs every pass",
    keys={
        "mr_wordcount_combiner": "operators",
        "manifest_append_incremental": "sources",
        "stream_available_now": "streaming",
    },
    fresh_inputs=True,
    min_steady_passes=3,
)

WORKLOADS = {w.name: w for w in (SQL_READS, CURATION)}
LAYERS = ("plans", "operators", "streaming", "sources")

# Per-pass layer metrics read from the traced passes, with their units.
PER_LAYER_UNITS = {
    **{f"{layer}.call_s": "s" for layer in LAYERS},
    **{f"{layer}.calls": "count" for layer in LAYERS},
    "result.fetch_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "driver.idle_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s", "executor.deser_s": "s",
    "slot.util": "ratio", "task.skew": "ratio", "task.empty_frac": "ratio", "task.failed": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB", "scan.input_mb": "MB", "output.mb": "MB",
    "executor.peak_exec_mem_mb": "MB",
    "python.run_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.sent_mb": "MB", "python.recv_mb": "MB", "python.rows_recv": "count",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.input_rows": "count",
    "streaming.empty_frac": "ratio",
    "sources.manifest.commit_s": "s", "sources.manifest.commits": "count",
    "sources.manifest.read_s": "s", "sources.manifest.conflicts": "ratio",
}
