"""Metric names, units and assembly for the benchmark's JSON result."""

from __future__ import annotations

import math
import os
import re
import statistics
import sys

from .storage import WAREHOUSE_TABLES

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# name -> unit, printed by untraced runs
END_TO_END = {
    "setup_s": "s",
    "day_s_p50": "s",
    "input_rows_per_s": "rows/s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}

# spans the program calls while running a day: jobs, executor time and
# shuffle bytes are attributed to each
PIPELINE_SPANS = (
    "pipeline.run",
    "validation.validate_all",
    "dims.missing_dim_date_rows",
    "scd2.scd2_merge.user",
    "scd2.scd2_merge.product",
    "snapshot.stock_history_delta",
    "facts.load_fact_transactions",
    "audit.start_run",
    "audit.append_errors",
    "audit.run_error_counts",
    "audit.finish_run",
    "io.read",
    "io.append",
    "io.overwrite",
)
# functions the benchmark calls a fixed number of times (once per read-mix
# pass, once per corpus report), so they report no ``.calls``
QUERY_SPANS = (
    "demo.qa_checks",
    "reporting.error_breakdown",
    "reporting.warehouse_row_counts",
    "reporting.orphan_checks",
    "reads.revenue_by_category_month",
    "reads.top_spenders",
    "reads.point_in_time_price",
)
# the corpus-curation report and the llm_queries functions it calls
LLM_SPANS = (
    "demo.corpus_report",
    "llm.corpus_prep_pipeline",
    "llm.minhash_lsh_neardups",
    "llm.token_budget_packing",
    "llm.embedding_quantization",
)
SPANS = PIPELINE_SPANS + QUERY_SPANS + LLM_SPANS
IO_SPANS = ("io.read", "io.append", "io.overwrite")
# these only plan: their work runs in the span that materializes it (an io
# span, or demo.corpus_report), so executor time and shuffle bytes would
# always read 0
PLANNING_SPANS = ("validation.validate_all", "dims.missing_dim_date_rows",
                  "snapshot.stock_history_delta", "llm.corpus_prep_pipeline",
                  "llm.token_budget_packing", "llm.embedding_quantization")
SPAN_FIELDS = {"s": "s", "calls": "count", "spark_jobs": "count", "busy_s": "s",
               "shuffle_bytes": "bytes"}


def span_fields(span: str) -> list[str]:
    fields = [f for f in SPAN_FIELDS
              if (f != "calls" or span in PIPELINE_SPANS)
              and (f in ("s", "calls", "spark_jobs") or span not in PLANNING_SPANS)]
    return fields + (["output_bytes"] if span in IO_SPANS else [])


COUNTS = {
    "validation.rejected_ratio": "ratio",
    "scd2.useful_write_ratio": "ratio",
    "facts.rows_loaded": "rows",
    "facts.skipped_dupe": "rows",
    "audit.error_rows": "rows",
    **{f"io.files.{t}": "count" for t in WAREHOUSE_TABLES},
    "io.table_bytes": "bytes",
    "io.schema_drift_columns": "count",
    "spark.core_busy_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    out = {"session.get_spark.s": "s"}
    for span in SPANS:
        for f in span_fields(span):
            out[f"{span}.{f}"] = SPAN_FIELDS.get(f, "bytes")
    out.update(COUNTS)
    return out


def percentile(samples: list[float], q: float) -> float | None:
    """The q-th percentile (0 < q < 100, nearest rank) when at least ten
    samples lie beyond it; otherwise None, because it would rest on fewer."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < 10:
        return None
    return sorted(samples)[rank - 1]


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus the Spark JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = []
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += [int(line.split()[1]) for line in f if line.startswith("VmHWM:")]
    print(f"peak RSS kB (python, jvm): {kb}", file=sys.stderr)
    return sum(kb) / 1024.0


def end_to_end(out) -> dict[str, dict]:
    values = {
        "setup_s": out.setup_s,
        "day_s_p50": statistics.median(out.day_s),
        "input_rows_per_s": statistics.median(out.rows_per_s),
        "queries_per_s": len(out.query_s) / sum(out.query_s),
        "peak_rss_mb": out.peak_rss_mb,
        "stored_bytes_per_input_byte": out.growth_bytes / out.input_bytes,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(tracer, groups: dict[str, dict], tables: dict[str, dict], cores: int,
              traced_wall: float, counts: dict[str, float],
              overhead_ratio: float) -> dict[str, dict]:
    names = per_layer_names()
    v: dict[str, float] = {"session.get_spark.s": tracer.self_s["session.get_spark"]}
    busy_total = sum(g["busy_s"] for k, g in groups.items() if k)
    for span in SPANS:
        g = groups.get(span, {})
        v[f"{span}.s"] = tracer.self_s.get(span, 0.0)
        v[f"{span}.calls"] = tracer.calls.get(span, 0)
        v[f"{span}.spark_jobs"] = g.get("jobs", 0)
        v[f"{span}.busy_s"] = g.get("busy_s", 0.0)
        v[f"{span}.shuffle_bytes"] = g.get("shuffle_bytes", 0)
        v[f"{span}.output_bytes"] = g.get("output_bytes", 0)
    v.update(counts)
    v["facts.skipped_dupe"] = tracer.counts["facts.skipped_dupe"]
    v["audit.error_rows"] = tracer.counts["audit.error_rows"]
    for t, s in tables.items():
        v[f"io.files.{t}"] = s["files"]
    v["io.table_bytes"] = sum(s["bytes"] for s in tables.values())
    v["io.schema_drift_columns"] = sum(len(s["drift"]) for s in tables.values())
    v["spark.core_busy_ratio"] = busy_total / (traced_wall * cores)
    v["trace.overhead_ratio"] = overhead_ratio
    return {k: {"value": v[k], "unit": u} for k, u in names.items()}
