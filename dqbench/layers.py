"""Per-layer metrics of a traced run.

Span totals come from the traced operations, medians over operations.
A layer a workload never enters reads 0. ``spark.*`` come from the
untraced operations of the same run, so they describe the operation as
users run it. Counters of ``llm.*`` are each module's own jobs (a job
belongs to the innermost span open when it was submitted); all other
counters include the layer's children.
"""

from __future__ import annotations

import math
import statistics


def _median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def _field(agg, field, rows, cores):
    seconds, c = agg["s"], agg["all"]
    if field == "s":
        return seconds
    if field == "idle_core_s":
        return seconds * cores - c.run_s
    if field in ("cpu_s", "self.cpu_s"):
        return agg[field.replace(".", "_")]
    if field == "input_passes":
        return c.input_records / rows
    if field.startswith("self."):
        c, field = agg["self"], field[5:]
    if field == "peak_exec_mem_mb":
        return c.peak_exec_mem / 1e6
    return getattr(c, field)


# end-to-end metrics of an untraced run, (metric, unit)
END_TO_END = [
    ("setup_s", "s"), ("op_s", "s"), ("rows_per_s", "1/s"),
    ("cpu_s", "s"), ("input_passes", "count"), ("shuffle_mb", "MB"),
    ("peak_rss_mb", "MB"),
]

# per-layer metrics from spans, (metric, span name, field, unit)
SPAN_METRICS = [
    ("analysis_runner.run_s", "analysis_runner", "s", "s"),
    ("analysis_runner.jobs", "analysis_runner", "jobs", "count"),
    ("analysis_runner.input_passes", "analysis_runner", "input_passes",
     "count"),
    ("analysis_runner.shuffle_mb", "analysis_runner", "shuffle_mb", "MB"),
    ("analysis_runner.cpu_s", "analysis_runner", "cpu_s", "s"),
    ("analysis_runner.idle_core_s", "analysis_runner", "idle_core_s", "s"),
    ("analysis_runner.merge_s", "analysis_runner.merge", "s", "s"),
    ("analyzers.scan.run_s", "analyzers.scan", "s", "s"),
    ("analyzers.scan.jobs", "analyzers.scan", "jobs", "count"),
    ("analyzers.scan.input_passes", "analyzers.scan", "input_passes",
     "count"),
    ("analyzers.grouping.run_s", "analyzers.grouping", "s", "s"),
    ("analyzers.grouping.jobs", "analyzers.grouping", "jobs", "count"),
    ("analyzers.grouping.input_passes", "analyzers.grouping",
     "input_passes", "count"),
    ("analyzers.grouping.shuffle_mb", "analyzers.grouping", "shuffle_mb",
     "MB"),
    ("analyzers.grouping.peak_exec_mem_mb", "analyzers.grouping",
     "peak_exec_mem_mb", "MB"),
    ("analyzers.histogram.run_s", "analyzers.histogram", "s", "s"),
    ("analyzers.histogram.jobs", "analyzers.histogram", "jobs", "count"),
    ("analyzers.kll.run_s", "analyzers.kll", "s", "s"),
    ("analyzers.kll.cpu_s", "analyzers.kll", "cpu_s", "s"),
    ("analyzers.kll.input_passes", "analyzers.kll", "input_passes",
     "count"),
    ("checks.evaluate_s", "checks", "s", "s"),
    ("verification.run_s", "verification", "s", "s"),
    ("states.persist_s", "states.persist", "s", "s"),
    ("states.load_s", "states.load", "s", "s"),
    ("repository.save_s", "repository.save", "s", "s"),
    ("repository.load_s", "repository.load", "s", "s"),
    ("anomaly.detect_s", "anomaly.detect", "s", "s"),
    ("llm.pipeline.run_s", "llm.pipeline", "s", "s"),
] + [
    (f"{m}.{f}", m, f"self.{f}", u)
    for m in ("llm.text", "llm.dedup", "llm.semdedup", "llm.packing",
              "llm.pipeline")
    for f, u in (("jobs", "count"), ("cpu_s", "s"), ("shuffle_mb", "MB"))
]

OTHER_METRICS = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"),
    ("spark.failed_tasks", "count"),
    ("spark.stage_reuse_ratio", "ratio"), ("spark.gc_s", "s"),
    ("spark.peak_exec_mem_mb", "MB"), ("spark.idle_core_s", "s"),
    ("spark.live_heap_mb", "MB"),
    ("spark.job_floor_s", "s"), ("states.disk_mb", "MB"),
    ("repository.file_mb", "MB"), ("storage.retained_rdds", "count"),
    ("storage.retained_mb", "MB"), ("trace.overhead_s", "s"),
]


def layer_metrics(run, cores):
    """Every per-layer metric of ``run`` as {name: (value, unit)}."""
    ops = [r for r in run.ops if not math.isnan(r["wall"])]
    traced = [r for r in run.traced if not math.isnan(r["wall"])]
    out = {}
    for name, span, field, unit in SPAN_METRICS:
        out[name] = (_median(
            _field(r["layers"][span], field, r["rows"], cores)
            if span in r["layers"] else 0.0 for r in traced), unit)
    c = [r["counts"] for r in ops]
    out.update({
        "spark.jobs": (_median(x.jobs for x in c), "count"),
        "spark.stages": (_median(x.stages for x in c), "count"),
        "spark.tasks": (_median(x.tasks for x in c), "count"),
        "spark.executor_cpu_s": (_median(x.exec_cpu_s for x in c), "s"),
        "spark.failed_tasks": (sum(x.failed_tasks for x in c), "count"),
        "spark.stage_reuse_ratio": (_median(
            x.skipped_stages / max(x.stage_slots, 1) for x in c), "ratio"),
        "spark.gc_s": (_median(x.gc_s for x in c), "s"),
        "spark.peak_exec_mem_mb": (max((x.peak_exec_mem for x in c),
                                       default=0) / 1e6, "MB"),
        "spark.idle_core_s": (_median(r["wall"] * cores - r["counts"].run_s
                                      for r in ops), "s"),
        "spark.live_heap_mb": (max((r["live_heap_mb"] for r in ops),
                                   default=0.0), "MB"),
        "spark.job_floor_s": (run.job_floor_s, "s"),
        "states.disk_mb": (run.layer_sizes[0], "MB"),
        "repository.file_mb": (run.layer_sizes[1], "MB"),
        "storage.retained_rdds": (run.retained[0], "count"),
        "storage.retained_mb": (run.retained[1], "MB"),
        "trace.overhead_s": (_median(r["wall"] for r in traced)
                             - _median(r["wall"] for r in ops), "s"),
    })
    return out
