"""Metric names and units the benchmark prints, and their derivation.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced run's spans. Every run prints every metric of its kind: a layer
a workload never enters reads 0, which is the "should not move" half
of each workload's prediction (README.md has the layer -> end-to-end
map).
"""

from __future__ import annotations

import statistics

from bench import HEADLINE

# Every end-to-end metric is wall time, as a user sees it. Both
# workloads print all three: turns_per_s is turns published per second
# of the timed operation (the BASELINE throughput, gated on build) and
# publish_p50_s the median wall time from new input to a published
# graph (graph freshness, gated on append).
END_TO_END: dict[str, tuple[str, str]] = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "turns_per_s": ("turns/s", "higher"),
    "publish_p50_s": ("s", "lower"),
}

_UNITS = {
    "wall_s": "s", "run_s": "s", "jvm_cpu_s": "s", "offcpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "output_mb": "MB", "pinned_mb_after": "MB",
    "jobs": "count", "stages": "count", "tasks": "count", "threads_after": "count",
    "rows_m": "count", "rows_t": "count", "rows_out": "count", "ir_rows_read": "count",
    "skew": "ratio", "util": "ratio",
}

# the bench.py headline keys of entry_queries.QUERIES, traced one span
# each; the dedup and ANN families get Spark rollups besides wall time
DEDUP_KEYS = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_spans")
ANN_KEYS = ("ann_topk_pandas", "ann_ivf", "ann_ivf_join")


def _query_metrics(key: str) -> list[str]:
    if key in DEDUP_KEYS:
        return ["wall_s", "run_s", "jvm_cpu_s", "shuffle_write_mb", "pinned_mb_after"]
    if key in ANN_KEYS:
        return ["wall_s", "run_s", "offcpu_s"]
    return ["wall_s"]


# span name -> metrics derived from it (median over the span's calls)
SPAN_METRICS: dict[str, list[str]] = {
    "session.get_spark": ["wall_s"],
    "session.warm_python_workers": ["wall_s"],
    "plans.pipeline.extract_stage": [
        "wall_s", "run_s", "jvm_cpu_s", "offcpu_s", "gc_s", "shuffle_write_mb",
        "output_mb", "jobs", "tasks", "skew", "util", "rows_m", "rows_t"],
    "plans.pipeline.materialize_graph": [
        "wall_s", "run_s", "jvm_cpu_s", "offcpu_s", "gc_s", "shuffle_write_mb",
        "spill_mb", "output_mb", "jobs", "stages", "skew", "util",
        "pinned_mb_after", "threads_after"],
    "operators.linking.link_candidates": ["wall_s", "jobs", "run_s", "rows_out"],
    "operators.components.canonical_entities": ["wall_s", "jobs", "run_s", "rows_out"],
    "operators.graph.build_edges": [
        "wall_s", "jobs", "run_s", "rows_out", "shuffle_write_mb", "spill_mb", "skew"],
    "streaming.bridge.stream_to_staged": ["wall_s", "jobs", "run_s", "offcpu_s", "rows_out"],
    "plans.incremental.finalize_graph.delta": [
        "wall_s", "jobs", "stages", "run_s", "shuffle_write_mb", "output_mb",
        "ir_rows_read", "pinned_mb_after", "threads_after"],
    "plans.incremental.finalize_graph.full": ["wall_s", "jobs", "run_s", "output_mb"],
    **{f"entry_queries.{k}": _query_metrics(k) for k in HEADLINE},
}

# run-level counters of the traced run. peak_rss_mb is here, not end to
# end: the JVM's heap sizing alone moves it by 23-37% between runs of the
# same input, wider than any bound a regression gate could use. The CPU
# figures are diagnostics beside the wall-time gates: op_cpu_s does not
# count CPU time stolen by other guests, cpu_steal_share says how much
# was stolen while the timed section ran.
RUN_METRICS: dict[str, str] = {
    "run.peak_rss_mb": "MB",
    "run.op_cpu_s": "s",
    "run.cpu_steal_share": "ratio",
    "entry_queries.suite_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "tracing_overhead_s": "s",
    "trace.overcommitted_spans": "count",
    "trace.missing_stages": "count",
}


def per_layer() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric."""
    out = {}
    for span, names in SPAN_METRICS.items():
        for m in names:
            out[f"{span}.{m}"] = (_UNITS[m], "higher" if m == "util" else "lower")
    for name, unit in RUN_METRICS.items():
        out[name] = (unit, "lower")
    return out


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def per_layer_values(tracer, op_span: str, counters: dict, run_values: dict) -> dict[str, float]:
    """Per-layer values of a traced run. ``op_span`` names the span that
    wraps one timed operation; jobs and stages per operation are read
    from it. ``run_values`` holds the ``run.*`` values the caller measured."""
    vals = {f"{span}.{m}": tracer.median(span, m)
            for span, names in SPAN_METRICS.items() for m in names}
    vals.update(run_values)
    vals["entry_queries.suite_s"] = sum(vals[f"entry_queries.{k}.wall_s"] for k in HEADLINE)
    vals["spark.jobs_per_op"] = tracer.median(op_span, "jobs")
    vals["spark.stages_per_op"] = tracer.median(op_span, "stages")
    vals["tracing_overhead_s"] = tracer.overhead_s
    vals["trace.overcommitted_spans"] = counters["overcommitted_spans"]
    vals["trace.missing_stages"] = counters["missing_stages"]
    return vals
