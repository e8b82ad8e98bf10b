"""Per-layer metrics of a traced run.

Every workload reports every name below, so one run's report lines up with
another's; a layer the workload does not call reports 0.
"""

from __future__ import annotations

import statistics

from spans import SPARK_COUNTERS

# metric name -> unit, in report order
PER_LAYER = {
    "session.get_spark.s": "s",
    "session.load_table.s": "s",
    "sources.scan_corpus.s": "s",
    "sources.extract_text_lines.s": "s",
    "sources.docs_in": "count",
    "sources.bytes_in": "bytes",
    "sources.docs_with_lines_frac": "fraction",
    "sources.extract_tasks_per_input_partition": "ratio",
    "parsers.parse_documents_by_type.s": "s",
    "parsers.records_out": "count",
    "parsers.docs_without_records_frac": "fraction",
    "parsers.records_short_of_manifest": "count",
    "operators.dedup_sink.insert.s": "s",
    "operators.dedup_sink.rows_in": "count",
    "operators.dedup_sink.rows_inserted": "count",
    "operators.dedup_sink.null_key_rows_in": "count",
    "operators.dedup_sink.jobs_per_insert": "count",
    "operators.dedup_sink.files_written": "count",
    "operators.dedup_sink.bytes_written": "bytes",
    **{f"catalog.a{k}.s": "s" for k in range(1, 6)},
    "plans.invoices_df.rows_scanned_per_row_out": "ratio",
    **{f"spark.{c}": ("s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count")
       for c in SPARK_COUNTERS},
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
    "failed_ops_frac": "fraction",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_report(tracer, layer: dict, lat: dict, session_s: float, failed_frac: float) -> dict:
    """The per-layer metrics: span self times and Spark counters per traced
    operation (medians over the traced operations), the workload's own
    counters, and the tracing overhead (traced minus untraced median
    operation latency, both from this run)."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    for span, times in tracer.self_times().items():
        if f"{span}.s" in values:  # a layer's span; the whole-op spans have no metric
            values[f"{span}.s"] = _median(times)
    per_op: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        op = per_op.setdefault(s["op"], dict.fromkeys(SPARK_COUNTERS, 0.0))
        for c in SPARK_COUNTERS:
            op[c] += s["spark"][c]
    for c in SPARK_COUNTERS:
        values[f"spark.{c}"] = _median([op[c] for op in per_op.values()])
    values.update(layer)
    values["session.get_spark.s"] = session_s
    values["trace.op_p50_s"] = _median(lat[True])
    values["trace.untraced_op_p50_s"] = _median(lat[False])
    values["trace.overhead_s"] = values["trace.op_p50_s"] - values["trace.untraced_op_p50_s"]
    values["failed_ops_frac"] = failed_frac
    return {k: {"value": float(values[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
