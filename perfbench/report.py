"""Turning timings and spans into the benchmark's metrics."""

from __future__ import annotations

import math
import statistics
from collections import Counter

from bench import HEADLINE
from perfbench.trace import from_rows, self_times, sum_by_name

# name -> unit of every per-layer metric, reported on every workload
# (0 where the workload does not reach the layer)
LAYER_UNITS = {
    "server.http.self_s": "s",
    "server.http.queue_wait_s": "s",
    "server.flight.self_s": "s",
    "server.flight.queue_wait_s": "s",
    "server.flight.do_get_s": "s",
    "server.api.self_s": "s",
    "session.create_s": "s",
    "session.new_spark_s": "s",
    "session.delete_s": "s",
    "session.creates": "count",
    "session.pool_hit_ratio": "ratio",
    "sources.register_s": "s",
    "sources.registrations": "count",
    "sources.jobs_per_registration": "count",
    "functions.dialect.transpile_s": "s",
    "spark.sql_s": "s",
    "spark.parsing_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "encoders.collect_s": "s",
    "encoders.encode_self_s": "s",
    "encoders.bytes_out": "bytes",
    "operators.merge.execute_s": "s",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.execute_s": "s",
    **{f"batch.{row}.wall_s": "s" for row in HEADLINE},
    "client.gap_s": "s",
    "trace.overhead_s": "s",
    "trace.op_wall_s": "s",
    "trace.layer_sum_s": "s",
    "trace.coverage": "ratio",
    "trace.latency_p50_s": "s",
}

# span name -> the self-time metric it is summed into
_SELF_METRICS = {
    "server.http": "server.http.self_s",
    "server.flight": "server.flight.self_s",
    "server.api": "server.api.self_s",
    "session.create": "session.create_s",
    "session.new_spark": "session.new_spark_s",
    "session.delete": "session.delete_s",
    "sources.register": "sources.register_s",
    "functions.dialect.transpile": "functions.dialect.transpile_s",
    "spark.sql": "spark.sql_s",
    "encoders.collect": "encoders.collect_s",
    "encoders.stream": "encoders.collect_s",
    "encoders.encode": "encoders.encode_self_s",
    "operators.merge.execute": "operators.merge.execute_s",
    "trace.overhead": "trace.overhead_s",
}


def tail(values: list[float]) -> dict:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    n = len(values)
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) / 100 >= 10:
            return {"pct": pct, "value": percentile(values, pct), "n": n}
    return {"pct": None, "value": None, "n": n}


def percentile(values: list[float], pct: float) -> float:
    v = sorted(values)
    k = (len(v) - 1) * pct / 100
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def serving_layers(doc: dict, results: list) -> dict[str, float]:
    """Per-op layer metrics from the server's spans and the client's timings.

    Only spans whose request id belongs to a measured op count. Self
    times, queue waits and the client's own gaps add up to the client's
    op latency; ``trace.coverage`` is that sum over the measured mean."""
    rids = {rid: (t0, t1) for r in results for rid, t0, t1 in r.requests}
    spans = [s for s in from_rows(doc["spans"]) if s.rid in rids]
    selfs = sum_by_name(spans, self_times(spans))
    counts = Counter(s.name for s in spans)
    n = max(len(results), 1)
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for name, value in selfs.items():
        out[_SELF_METRICS[name]] += value / n
    waits = {"server.http": 0.0, "server.flight": 0.0}
    do_get = []
    for s in spans:
        if s.parent is None and s.name in waits:
            t0, t1 = rids[s.rid]
            waits[s.name] += (t1 - t0) - s.duration
            if s.name == "server.flight":
                do_get.append(s.duration)
    out["server.http.queue_wait_s"] = waits["server.http"] / n
    out["server.flight.queue_wait_s"] = waits["server.flight"] / n
    out["server.flight.do_get_s"] = median(do_get)
    out["client.gap_s"] = sum(
        r.latency - sum(t1 - t0 for _, t0, t1 in r.requests) for r in results) / n
    creates = counts["session.create"]
    out["session.creates"] = creates / n
    out["session.pool_hit_ratio"] = (1 - counts["session.new_spark"] / creates) if creates else 0.0
    out["sources.registrations"] = counts["sources.register"] / n
    jobs = doc["jobs"]
    reg_jobs = sum(v[0] for g, v in jobs.items() if g.endswith("/register") and
                   g[: -len("/register")] in rids)
    out["sources.jobs_per_registration"] = (
        reg_jobs / counts["sources.register"] if counts["sources.register"] else 0.0)
    for i, key in enumerate(("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op")):
        out[key] = sum(v[i] for g, v in jobs.items()
                       if g.split("/register")[0] in rids) / n
    for s in spans:
        for phase, ms in s.attrs.get("phases", {}).items():
            if f"spark.{phase}_ms" in out:
                out[f"spark.{phase}_ms"] += ms / n
    out["encoders.bytes_out"] = sum(r.bytes_in for r in results) / n
    lat = [r.latency for r in results]
    out["trace.op_wall_s"] = sum(lat) / n
    out["trace.latency_p50_s"] = median(lat)
    out["trace.layer_sum_s"] = (sum(v / n for v in selfs.values()) +
                                out["server.http.queue_wait_s"] +
                                out["server.flight.queue_wait_s"] + out["client.gap_s"])
    out["trace.coverage"] = out["trace.layer_sum_s"] / out["trace.op_wall_s"] if lat else 0.0
    return out


def batch_layers(runs: list[dict]) -> dict[str, float]:
    """Per-execution layer metrics of a traced batch run."""
    n = max(len(runs), 1)
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out["queries.build_s"] = sum(r["build_s"] for r in runs) / n
    out["queries.execute_s"] = sum(r["execute_s"] for r in runs) / n
    out["queries.py4j_calls"] = sum(r["py4j_calls"] for r in runs) / n
    for r in runs:
        for phase, ms in r["phases"].items():
            if f"spark.{phase}_ms" in out:
                out[f"spark.{phase}_ms"] += ms / n
    for row in HEADLINE:
        out[f"batch.{row}.wall_s"] = median([r["wall_s"] for r in runs if r["row"] == row])
    walls = [r["wall_s"] for r in runs]
    out["trace.op_wall_s"] = sum(walls) / n
    # as the untraced latency_p50_s: the median of the per-row medians
    out["trace.latency_p50_s"] = median([out[f"batch.{row}.wall_s"] for row in HEADLINE])
    out["trace.layer_sum_s"] = out["queries.build_s"] + out["queries.execute_s"]
    out["trace.coverage"] = out["trace.layer_sum_s"] / out["trace.op_wall_s"] if walls else 0.0
    return out
