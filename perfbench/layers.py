"""Per-layer metrics of a traced run, computed from its spans.

Every ``*_s`` metric is self time (see ``tracing.self_times``) summed
over one op; a count is summed over one op. The reported value is the
median over the run's traced warm ops. Operators return lazy frames,
so an ``operators.*`` span holds only the eager part of a call; the
lazy remainder runs in the query's ``plans.exec`` span.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import OPERATOR_LAYERS, self_times
from perfbench.workloads import CURATION_QUERIES, DISTINCT_GEO, HOUSING_QUERIES

#: metric -> span name whose per-op self time it sums
SELF_TIME = {
    "state.check_s": "state.check",
    "sources.landing_s": "sources.landing",
    "sources.read_s": "sources.read",
    "publish.stage_write_s": "publish.stage_write",
    "publish.sql_s": "publish.sql",
    "publish.validate_s": "publish.validate",
    "publish.swap_s": "publish.swap",
    "functions.materialize_s": "functions.materialize",
    "functions.apply_s": "functions.apply",
    "engine.dataset_s": "engine.dataset",
    "engine.builder_s": "engine.builder",
}
QUERIES = CURATION_QUERIES + HOUSING_QUERIES + (DISTINCT_GEO,)
GEO_INPUTS = (
    "geo07.lots", "geo07.parcels",
    f"{DISTINCT_GEO}.lots", f"{DISTINCT_GEO}.parcels",
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric this module reports, with its unit."""
    units = {"session.start_s": "s"}
    units.update({m: "s" for m in SELF_TIME})
    units.update({
        "state.kv_writes": "count", "state.kv_bytes": "bytes",
        "publish.sql_stmts": "count", "engine.overlap": "ratio",
        "engine.loaded": "count", "engine.skipped": "count",
    })
    for layer in OPERATOR_LAYERS:
        units[f"{layer}.self_s"] = "s"
        units[f"{layer}.calls"] = "count"
    units["plans.build_s"] = units["plans.exec_s"] = "s"
    for q in QUERIES:
        units[f"plans.build_s.{q}"] = units[f"plans.exec_s.{q}"] = "s"
    units.update({"spark.jobs": "count", "spark.tasks": "count"})
    for g in GEO_INPUTS:
        units[f"input.distinct_wkt_share.{g}"] = "ratio"
    units["input.sources_changed"] = "count"
    units.update({
        "trace.op_p50_s": "s", "trace.untraced_op_p50_s": "s",
        "trace.overhead_s": "s", "trace.remainder_s": "s",
        "trace.self_share": "ratio", "peak_rss_mb": "MB",
        "error_rate": "ratio",
    })
    return units


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_op(spans) -> dict[str, dict[str, float]]:
    """op id -> metric -> value for one op's spans."""
    selfs = self_times(spans)
    ops: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    dataset_wall: dict[str, float] = defaultdict(float)
    load_all_wall: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.op is None:
            continue
        m = ops[s.op]
        own = selfs[s.sid]
        m["self_total"] += own
        if s.name == "op":
            m["op_wall"] = s.t1 - s.t0
            m["trace.remainder_s"] = own
        elif s.name == "state.kv_write":
            m["state.kv_writes"] += 1
            m["state.kv_bytes"] += s.extra
        elif s.name == "publish.sql":
            m["publish.sql_stmts"] += 1
        elif s.name == "engine.dataset":
            dataset_wall[s.op] += s.t1 - s.t0
        elif s.name == "engine.load_all":
            load_all_wall[s.op] += s.t1 - s.t0
        elif s.name.startswith("operators."):
            layer = s.name.rsplit(".", 1)[0]
            m[f"{layer}.self_s"] += own
            m[f"{layer}.calls"] += 1
        elif s.name.startswith("plans."):
            kind, query = s.name[len("plans."):].split(".", 1)
            m[f"plans.{kind}_s"] += own
            m[f"plans.{kind}_s.{query}"] += own
        for metric, span_name in SELF_TIME.items():
            if s.name == span_name:
                m[metric] += own
    for op, wall in load_all_wall.items():
        ops[op]["engine.overlap"] = dataset_wall[op] / wall
    for m in ops.values():
        m["trace.self_share"] = m["self_total"] / m["op_wall"]
    return ops


def layer_metrics(tracer, report: dict) -> dict:
    """Metric -> (value, unit) for a traced run."""
    units = metric_units()
    traced_ops = {
        str(r["index"]): r for r in report["ops"][1:]
        if r["traced"] and r["error"] is None
    }
    by_op = per_op(tracer.spans)
    rows = [by_op[i] for i in traced_ops if i in by_op]
    out = {}
    for name in units:
        out[name] = _median(r.get(name, 0.0) for r in rows)
    starts = [s.t1 - s.t0 for s in tracer.spans if s.name == "session.start"]
    out["session.start_s"] = _median(starts)
    for key in ("spark_jobs", "spark_tasks"):
        out[key.replace("_", ".")] = _median(
            r[key] for r in traced_ops.values())
    for metric, key in (("engine.loaded", "loaded"),
                        ("engine.skipped", "skipped"),
                        ("input.sources_changed", "changed")):
        out[metric] = _median(
            len(r[key]) for r in traced_ops.values() if key in r)
    shares = report["environment"].get("distinct_wkt_share", {})
    for g in GEO_INPUTS:
        out[f"input.distinct_wkt_share.{g}"] = shares.get(g, 0.0)
    traced = [r["seconds"] for r in traced_ops.values()]
    untraced = [
        r["seconds"] for r in report["ops"][1:]
        if not r["traced"] and r["error"] is None
    ]
    out["trace.op_p50_s"] = _median(traced)
    out["trace.untraced_op_p50_s"] = _median(untraced)
    out["trace.overhead_s"] = out["trace.op_p50_s"] - out[
        "trace.untraced_op_p50_s"]
    return {name: (value, units[name]) for name, value in out.items()}
