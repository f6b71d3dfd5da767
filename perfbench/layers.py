"""Per-layer metrics of the traced run, and the end-to-end metric each one
is predicted to move.

Every value is per timed pass (the median over passes) unless its name says
otherwise, so it can be set against ``pass_s`` of the same workload. Metrics
of a layer a workload does not call read 0 on that workload.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

#: name -> unit, in the order they are printed.
UNITS = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "exec.write_s": "s",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.nonjvm_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.cached_mb": "MB",
    "python.bytes_sent_mb": "MB",
    "python.bytes_received_mb": "MB",
    "sources.read_existing_s": "s",
    "pipelines.ingest_snapshot_s": "s",
    "sources.write_parquet_s": "s",
    "sources.warehouse_files": "count",
    "sources.rows_kept_frac": "ratio",
    "pipelines.build_gold_table_s": "s",
    "pipelines.tableau_export_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

#: layer metric -> (end-to-end metric it should move, workload). On the
#: other workload the prediction is no change.
PREDICTIONS = {
    "session.get_spark_s": ("setup_s", "analytics, youbike_ingest"),
    "plans.build_s": ("op_p50_s, pass_s", "analytics (j11, st13, s2)"),
    "exec.write_s": ("pass_s", "analytics (m25, mm15)"),
    "spark.sql_executions": ("op_p50_s", "analytics"),
    "spark.jobs": ("op_p50_s", "analytics, youbike_ingest"),
    "spark.stages": ("op_p50_s", "analytics"),
    "spark.tasks": ("op_p50_s", "analytics"),
    "spark.executor_run_s": ("op_tail_s", "analytics (m25)"),
    "spark.executor_cpu_s": ("op_tail_s", "analytics (m25)"),
    "spark.nonjvm_frac": ("pass_s", "analytics (mm15, t50, st13)"),
    "spark.shuffle_write_mb": ("op_tail_s, pass_s", "analytics (m25, j11, s2)"),
    "spark.shuffle_read_mb": ("op_tail_s, pass_s", "analytics (m25, j11, s2)"),
    "spark.spill_mb": ("op_tail_s", "analytics"),
    "spark.cached_mb": ("peak_rss_mb", "analytics (j11 checkpoints)"),
    "python.bytes_sent_mb": ("pass_s", "analytics (mm15, t50, st13)"),
    "python.bytes_received_mb": ("pass_s", "analytics (mm15, t50, st13)"),
    "sources.read_existing_s": ("op_p50_s, op_tail_s", "youbike_ingest"),
    "pipelines.ingest_snapshot_s": ("op_p50_s, op_tail_s", "youbike_ingest"),
    "sources.write_parquet_s": ("op_p50_s, op_tail_s", "youbike_ingest"),
    "sources.warehouse_files": ("op_tail_s", "youbike_ingest"),
    "sources.rows_kept_frac": ("ok_ops_per_s", "youbike_ingest"),
    "pipelines.build_gold_table_s": ("pass_s", "youbike_ingest"),
    "pipelines.tableau_export_s": ("pass_s", "youbike_ingest"),
}

_SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "exec.write": "exec.write_s",
    "sources.read_existing": "sources.read_existing_s",
    "pipelines.ingest_snapshot": "pipelines.ingest_snapshot_s",
    "sources.write_parquet": "sources.write_parquet_s",
    "pipelines.build_gold_table": "pipelines.build_gold_table_s",
    "pipelines.tableau_export": "pipelines.tableau_export_s",
}
_SUMMED = [k for k in UNITS if k.startswith(("spark.", "python.")) and k not in
           ("spark.cached_mb", "spark.nonjvm_frac")]


def per_layer(tracer, passes: list[float], get_spark_s: float,
              extras: dict[str, float]) -> dict[str, float]:
    by_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for op in tracer.ops:
        agg = by_pass[op["pass"]]
        for k in _SUMMED:
            agg[k] += op.get(k, 0.0)
        agg["spark.cached_mb"] = max(agg["spark.cached_mb"], op.get("spark.cached_mb", 0.0))
    for span in tracer.self_times():
        key = _SPAN_METRICS.get(span["name"])
        if key:
            by_pass[tracer.ops[span["op_id"]]["pass"]][key] += span["dur_s"]
    for agg in by_pass.values():
        run = agg["spark.executor_run_s"]
        agg["spark.nonjvm_frac"] = 1 - agg["spark.executor_cpu_s"] / run if run else 0.0

    out = {k: 0.0 for k in UNITS}
    for k in out:
        vals = [agg.get(k, 0.0) for agg in by_pass.values()]
        if vals:
            out[k] = statistics.median(vals)
    out["session.get_spark_s"] = get_spark_s
    out["trace.pass_s"] = statistics.median(passes)
    out["trace.overhead_s"] = tracer.overhead_s / len(passes)
    out.update(extras)
    return out


def write_trace(path: str, tracer, per_layer_metrics: dict, details: dict) -> str:
    spans = tracer.self_times()
    op_spans = [s for s in spans if s["parent"] is None]
    top = sorted(op_spans, key=lambda s: s["self_s"], reverse=True)[:10]
    self_by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        self_by_layer[s["name"] if s["parent"] is not None else "op(self)"] += s["self_s"]
    with open(path, "w") as f:
        json.dump({
            "details": details,
            "per_layer": per_layer_metrics,
            "predictions": PREDICTIONS,
            "top_ops_by_self_s": [{k: s[k] for k in ("op_id", "name", "dur_s", "self_s")}
                                  for s in top],
            "self_s_by_layer": self_by_layer,
            "ops": tracer.ops,
            "spans": spans,
        }, f, indent=1)
    return path
