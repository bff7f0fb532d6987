"""Aggregation of one run's invocations into the reported metrics.

Per-layer metrics are per pass: for each distinct operation the median
over its traced invocations, summed over the operations (one pass of
star_olap or curation runs each query once; one pass of ingest_serve is
one batch). Medians make the job, stage and task counts repeat exactly
at a fixed seed once an operation's caches are warm.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.first_build_s": "s",
    "plans.repeat_build_s": "s",
    "plans.py4j_calls": "count",
    "plans.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "writers.bytes_written": "bytes",
    "writers.files_written": "count",
    "writers.stored_bytes_per_input_byte": "ratio",
    "trace.overhead_s": "s",
}
# Metrics read from each invocation's counters, keyed by the name's
# part after the layer.
_COUNTERS = [
    "plans.build_jobs", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "writers.bytes_written", "writers.files_written",
]


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100 * len(xs))) - 1]


def _span_sums(spans: list[dict]) -> dict[int, dict[str, float]]:
    """invocation id -> {span name: seconds, span name + '#py4j': calls}."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["invocation"] is not None:
            sums = out[s["invocation"]]
            sums[s["name"]] += s["end"] - s["start"]
            sums[s["name"] + "#py4j"] += s["py4j_calls"]
    return out


def _per_pass(invs: list[dict], value) -> float:
    """Sum over operations of the median of ``value(inv)``."""
    by_op: dict[str, list[float]] = defaultdict(list)
    for inv in invs:
        by_op[inv["op"]].append(value(inv))
    return sum(statistics.median(v) for v in by_op.values())


def per_layer(tracer, start_s: float, warm_s: float, stored_ratio: float) -> dict:
    sums = _span_sums(tracer.spans)
    ok = [i for i in tracer.invocations if i["ok"]]
    traced = [i for i in ok if i["traced"]]
    timed = [i for i in traced if i["phase"] == "timed"]
    plain = [i for i in ok if i["phase"] == "timed" and not i["traced"]]
    firsts = list({i["op"]: i for i in reversed(traced)}.values())  # earliest per op

    def span(name):
        return lambda inv: sums[inv["id"]][name]

    out = {
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "plans.build_s": _per_pass(traced, span("plans.build")),
        "plans.first_build_s": _per_pass(firsts, span("plans.build")),
        "plans.repeat_build_s": _per_pass(timed, span("plans.build")),
        "plans.py4j_calls": _per_pass(timed, span("plans.build#py4j")),
        "spark.exec_s": _per_pass(timed, span("spark.exec")),
        "writers.stored_bytes_per_input_byte": stored_ratio,
        "trace.overhead_s": _per_pass(timed, lambda i: i["wall_s"])
        - _per_pass(plain, lambda i: i["wall_s"]),
    }
    for name in _COUNTERS:
        key = name.split(".", 1)[1]
        out[name] = _per_pass(timed, lambda i, k=key: i.get(k, 0))
    return out


def layer_totals(tracer) -> dict[str, dict]:
    """Every span name over the timed traced invocations: calls, total
    and median seconds (the per-call breakdown behind the metrics)."""
    timed = {
        i["id"] for i in tracer.invocations
        if i["traced"] and i["ok"] and i["phase"] == "timed"
    }
    by_name: dict[str, list[float]] = defaultdict(list)
    for s in tracer.spans:
        if s["invocation"] in timed:
            by_name[s["name"]].append(s["end"] - s["start"])
    return {
        name: {"calls": len(v), "total_s": sum(v), "median_s": statistics.median(v)}
        for name, v in sorted(by_name.items())
    }
