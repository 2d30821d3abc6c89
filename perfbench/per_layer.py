"""Names and units of the per-layer metrics, and the Spark-layer medians.

A layer that a workload does not run (the harness queries on an
extraction workload, say) reports 0 for its metrics there.
"""

from __future__ import annotations

import statistics

from bench import HEADLINE

PER_LAYER = {
    "corpus.gen_us_per_doc": "us",
    "kernels.extract_us_per_doc": "us",
    "kernels.extract_ms_per_mega_doc": "ms",
    "readability.score_us_per_doc": "us",
    "extract.fused_batch_us_per_doc": "us",
    "extract.arrow_build_us_per_doc": "us",
    "extract.out_bytes_per_doc": "B",
    "extract.helpers": "count",
    "extract.udf_us_per_doc": "us",
    "extract.in_bytes_per_doc": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.lane_busy_frac": "fraction",
    "spark.python_floor_frac": "fraction",
    "spark.task_max_over_median": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "skew.big_docs": "count",
    "skew.chunks": "count",
    "skew.chunk_us_per_span": "us",
    "lineage.crash_run_s": "s",
    "lineage.resume_s": "s",
    "lineage.resume_extract_s": "s",
    "lineage.buckets_resumed": "count",
    "lineage.buckets_processed": "count",
    "lineage.commits": "count",
    "catalog.append_s": "s",
    "catalog.appends": "count",
    "catalog.bytes_written_mb": "MB",
    "dedup.stages_s": "s",
    "dedup.exact_removed": "count",
    "dedup.near_removed": "count",
    "dedup.recall": "fraction",
    **{f"harness.{q}.{m}": u for q in HEADLINE for m, u in (("s", "s"), ("stages", "count"))},
    # Process tree, not one layer. It is reported here, without a bound,
    # because the JVM's heap growth makes it swing between runs on a loaded
    # host (0.49 quartile spread over ten runs of the durable pipeline).
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

_SUMMED = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "task_max_over_median", "shuffle_write_mb", "shuffle_read_mb",
    "input_mb", "output_mb",
)


def spark_layer(runs: list[dict], lanes: int) -> dict:
    """Medians over the timed runs of their job-group stage metrics."""
    med = statistics.median
    out = {f"spark.{k}": med(r["spark"][k] for r in runs) for k in _SUMMED}
    out["spark.lane_busy_frac"] = med(
        r["spark"]["executor_run_s"] / (r["res"]["run_s"] * lanes) for r in runs
    )
    return out
