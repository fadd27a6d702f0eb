"""Per-layer metric names: `<module>.<op>.<metric>` for each operation,
plus `runtime.<workload>.<metric>` for the Spark runtime. Every traced
run reports all of them; an operation the workload does not run reports
0. BENCHMARK.json lists the same names (checked by test_selfcheck.py).
"""

from __future__ import annotations

from workloads import DEDUP_GATES, WORKLOADS

# one-time import in cohort_qc's setup (first-touch figures)
IMPORT_OPS = {
    "sources.vcf.ingest": ["build_s", "build_jobs", "exec_s", "executor_cpu_s",
                           "input_bytes", "output_bytes"],
    "sources.packed.pack": ["build_s", "exec_s", "shuffle_bytes", "output_bytes"],
    "sources.gds_write.write": ["exec_s", "jobs", "tasks", "executor_cpu_s",
                                "output_bytes"],
}

# cohort_qc pass
COHORT_OPS = {
    "dataset.open": ["build_s", "build_jobs", "py4j_calls", "exec_s"],
    "operators.aggregates.af": ["exec_s", "shuffle_write_bytes", "exchanges"],
    "operators.aggregates.missing_sample": ["exec_s", "shuffle_write_bytes"],
    "operators.ld.hwe": ["exec_s", "executor_cpu_s", "task_p50_s"],
    "sources.packed.af": ["exec_s", "python_evals", "executor_cpu_s"],
    "operators.ld.ld_pairs": ["exec_s", "executor_cpu_s", "task_p50_s"],
    "operators.ld.ibs": ["exec_s", "executor_cpu_s", "task_p50_s"],
    "sources.gds_spark.region": ["build_s", "build_jobs", "exec_s", "tasks",
                                 "executor_cpu_s"],
}

# llm_dedup pass
_BUILD_METRICS = ["build_s", "build_jobs", "py4j_calls", "plan_s", "exec_s", "exchanges"]
LLM_OPS = {f"{module}.{gate}": list(_BUILD_METRICS) for module, gate in DEDUP_GATES}

# every measured-pass operation also reports these
PASS_METRICS = ["persisted_rdds_after", "cold_warm_ratio"]

RUNTIME_METRICS = ["executor_cpu_util", "jvm_gc_s", "spill_bytes", "peak_rss_mb",
                   "trace_overhead_s", "build_share"]
WORKLOAD_NAMES = list(WORKLOADS)

UNITS = {
    "build_s": "s", "plan_s": "s", "exec_s": "s", "executor_cpu_s": "s",
    "task_p50_s": "s", "jvm_gc_s": "s", "trace_overhead_s": "s",
    "build_jobs": "count", "jobs": "count", "tasks": "count", "py4j_calls": "count",
    "exchanges": "count", "python_evals": "count", "persisted_rdds_after": "count",
    "input_bytes": "B", "output_bytes": "B", "shuffle_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B",
    "cold_warm_ratio": "ratio", "executor_cpu_util": "ratio", "build_share": "ratio",
    "peak_rss_mb": "MB",
}


def names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order."""
    out = []
    for table in (IMPORT_OPS, COHORT_OPS, LLM_OPS):
        for op, metrics in table.items():
            extra = PASS_METRICS if table is not IMPORT_OPS else []
            for m in metrics + extra:
                out.append((f"{op}.{m}", UNITS[m]))
    for wl in WORKLOAD_NAMES:
        for m in RUNTIME_METRICS:
            out.append((f"runtime.{wl}.{m}", UNITS[m]))
    return out
