"""The per-layer metrics: which spans report which fields, and how the
traced run's span records fold into one value per metric.

A span that runs inside timed ops reports the median, over the timed ops
that ran it, of its per-op total; a set-up span reports its one value.
Every declared metric is printed for every workload, 0 where the
workload does not run the span.
"""

from __future__ import annotations

import statistics

BASE = ("wall_ms", "driver_gap_ms", "jobs", "executor_cpu_ms",
        "python_cpu_ms", "shuffle_bytes", "spill_bytes")
UNITS = {"wall_ms": "ms", "driver_gap_ms": "ms", "jobs": "count",
         "executor_cpu_ms": "ms", "python_cpu_ms": "ms",
         "shuffle_bytes": "bytes", "spill_bytes": "bytes",
         "python_exec_nodes": "count", "input_rows": "count"}
DECLARED = {
    "session.get_spark": ("wall_ms",),
    "chunking.chunk_documents": BASE,
    "retrieval.retrieval_rank_metrics": BASE + ("python_exec_nodes",),
    "retrieval.retrieval_summary": BASE,
    "ann_store.build": BASE,
    "ann_store.enable_pq": BASE,
    "ann_store.enable_sq8": BASE,
    "ann_store.enable_bq": BASE,
    **{f"ann_store.query.{s}": BASE + ("python_exec_nodes", "input_rows")
       for s in ("exact", "adc_refine", "sq8_refine", "bq1_refine")},
    "ann_store.add": BASE,
    "pipelines.build_training_corpus": BASE,
    "pipelines.tokenize_and_pack": BASE,
    "export.export_packed_sequences": BASE,
}
SITES = ("operators.sharding", "operators.tokenizer", "operators.clusters",
         "pipelines", "unattributed", "other")
OP_METRICS = {"op.uncovered_ms": "ms", "op.uncovered_jobs": "count",
              "op.traced_p50_ms": "ms"}


def metric_units() -> dict[str, str]:
    """Every declared per-layer metric name -> unit, in a fixed order."""
    out = {f"{s}.{f}": UNITS[f] for s, fs in DECLARED.items() for f in fs}
    out.update({f"by_site.{m}.jobs": "count" for m in SITES})
    out.update(OP_METRICS)
    return out


def summarize(recs: list[dict], ops: set[int], op_span: str,
              op_ms: list[float]) -> dict:
    """Fold span records (``tracer.layer_records``) into the metrics."""
    per_op: dict[str, dict[int, float]] = {}
    values: dict[str, float] = {}
    units = metric_units()
    for r in recs:
        name = r["name"]
        if name == op_span or (r["op"] is not None and r["op"] not in ops):
            continue
        for f in DECLARED[name]:
            key = f"{name}.{f}"
            if r["op"] is None:
                values[key] = values.get(key, 0) + r[f]
            else:
                d = per_op.setdefault(key, {})
                d[r["op"]] = d.get(r["op"], 0) + r[f]
    for r in recs:
        if r["op"] in ops:
            for site, n in r["sites"].items():
                d = per_op.setdefault(
                    f"by_site.{site if site in SITES else 'other'}.jobs", {})
                d[r["op"]] = d.get(r["op"], 0) + n
    for key, d in per_op.items():
        values[key] = statistics.median(d.values())
    # an op's wall = its inner spans + what no inner span covers
    uncovered, op_jobs = [], []
    for r in recs:
        if r["name"] == op_span and r["op"] in ops:
            inner = sum(x["wall_ms"] for x in recs
                        if x["op"] == r["op"] and x["depth"] == 1)
            uncovered.append(r["wall_ms"] - inner)
            op_jobs.append(r["jobs"])
    values["op.uncovered_ms"] = statistics.median(uncovered) if uncovered else 0.0
    values["op.uncovered_jobs"] = statistics.median(op_jobs) if op_jobs else 0
    values["op.traced_p50_ms"] = statistics.median(op_ms) if op_ms else 0.0
    return {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}
