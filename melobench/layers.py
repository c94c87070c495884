"""Per-layer metric names and their values from a traced run.

Each name is ``<span>.<field>``; the span names are the library's module
names. A value is the mean over the run's traced passes of that span's
per-pass total (a request workload opens some spans several times per
pass). A span the workload never opens reads 0. ``trace.wall_s`` is the
traced pass time, to set against ``wall_s`` of an untraced run with the
same seed; ``trace.overhead_s`` is the part of it the tracer spent on
its own work.
"""

from __future__ import annotations

STATISTICS = tuple(f"statistics.{f}" for f in ("wind", "humidity", "temperature", "precipitation", "radiation"))
OPERATORS = tuple(f"operators.{f}" for f in ("temperature", "humidity", "wind", "radiation", "cascade"))
SOURCES = ("sources.read_smet", "sources.write_smet")
SPANS = ("api", "operators.aggregations", *STATISTICS, *OPERATORS, *SOURCES)
PYTHON_KERNELS = ("statistics.wind", "statistics.precipitation", "statistics.radiation", "operators.cascade")
VARIABLE_OF = dict(zip(OPERATORS, ("temp", "hum", "wind", "glob", "precip")))

# field -> (unit, better)
FIELDS = {
    "build_s": ("s", "lower"),
    "py4j_calls": ("count", "lower"),
    "exec_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "failed_tasks": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "wait_s": ("s", "lower"),
    "python_bytes": ("B", "lower"),
    "rows_out": ("count", "higher"),
    "nonnull_share": ("ratio", "higher"),
}


def span_fields(span: str) -> list[str]:
    fields = ["build_s", "py4j_calls", "exec_s", "cpu_s", "failed_tasks"]
    if span not in SOURCES:
        fields += ["shuffle_bytes", "spill_bytes", "wait_s"]
    if span in PYTHON_KERNELS:
        fields.append("python_bytes")
    if span in OPERATORS:
        fields += ["rows_out", "nonnull_share"]
    return fields


# name -> (unit, better), in report order
CATALOG = {
    f"{span}.{field}": FIELDS[field] for span in SPANS for field in span_fields(span)
}
CATALOG["util.planmemo.hit_ratio"] = ("ratio", "higher")
CATALOG["trace.wall_s"] = ("s", "lower")
CATALOG["trace.overhead_s"] = ("s", "lower")


def per_layer(tracer, passes: list[dict]) -> tuple[dict, dict]:
    """Metrics from the traced passes, plus the raw extras for the span
    file."""
    n = len(passes)
    vals = dict.fromkeys(CATALOG, 0.0)
    for rec in tracer.spans:
        for field in span_fields(rec["name"]):
            if field in rec:
                vals[f"{rec['name']}.{field}"] += rec[field] / n
    for span, var in VARIABLE_OF.items():
        ops = [o for p in passes for o in p["ops"] if o["name"] == var]
        rows = sum(o["rows"] for o in ops)
        vals[f"{span}.rows_out"] = rows / n
        vals[f"{span}.nonnull_share"] = sum(o["nonnull"] for o in ops) / rows if rows else 0.0
    lookups = tracer.memo_hits + tracer.memo_misses
    vals["util.planmemo.hit_ratio"] = tracer.memo_hits / lookups if lookups else 0.0
    vals["trace.wall_s"] = sum(p["wall_s"] for p in passes) / n
    vals["trace.overhead_s"] = tracer.overhead_s / n
    metrics = {k: {"value": v, "unit": CATALOG[k][0]} for k, v in vals.items()}
    extra = {
        "traced_wall_s": [p["wall_s"] for p in passes],
        "planmemo": {"hits": tracer.memo_hits, "misses": tracer.memo_misses},
    }
    return metrics, extra
