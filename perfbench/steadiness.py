#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report how steady each metric is.

  python3 perfbench/steadiness.py --workloads oneshot,session_mix,batch_headline \\
      --seeds 1-10 [--traced 1] --out perfbench/results/steadiness.json

For every workload: ``--seeds`` untraced runs (one per seed), then
``--traced`` traced runs. Per end-to-end metric it records the values,
their median, first and third quartiles (``statistics.quantiles``,
n=4) and the spread ``(q3 - q1) / median``, and checks the spread
against the bound in BENCHMARK.json; the detail metrics are summarised
the same way. Tracing overhead is the traced median of
``trace.latency_p50_s`` minus the untraced median of ``latency_p50_s``.
Writes ``--out`` (JSON) and a markdown table beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900,
                         check=True).stdout.strip().split("\n")
    return json.loads(out[-2]), json.loads(out[-1])


def summarize(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / statistics.median(values)
    out = {"median": statistics.median(values), "q1": q1, "q3": q3, "spread": spread,
           "values": values}
    if bound is not None:
        out["bound"] = bound
        out["within_third_of_bound"] = spread < bound / 3
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default="oneshot,session_mix,batch_headline")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--traced", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            report = json.load(f)
    for wl in args.workloads.split(","):
        rows, details, attempted, walls = [], [], [], []
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            detail, final = run_once(wl, seed, spec["run_seconds"], 0)
            walls.append(time.perf_counter() - t0)
            if not final["correct"]:
                sys.exit(f"{wl} seed {seed}: wrong results {detail['detail'].get('errors')}")
            rows.append({k: v["value"] for k, v in final["metrics"].items()})
            details.append(detail)
            attempted.append(final["attempted"])
            print(wl, seed, json.dumps(rows[-1]), flush=True)
        entry = {
            "seeds": seeds(args.seeds),
            "attempted": attempted,
            "run_wall_s": walls,
            "load1m_start": [d["environment"]["load1m_start"] for d in details],
            "metrics": {k: summarize([r[k] for r in rows], bounds.get(k)) for k in rows[0]},
        }
        for key in ("latency_p50_s", "peak_rss_mb", "batch_wall_s", "query_p50_s",
                    "export_p50_s", "ingest_p50_s"):
            vals = [d["detail"][key] for d in details if key in d["detail"]]
            vals = [v["value"] if isinstance(v, dict) else v for v in vals]
            if len(vals) == len(details):
                entry.setdefault("detail_metrics", {})[key] = summarize(vals, None)
        traced = []
        for seed in range(1000, 1000 + args.traced):
            detail, final = run_once(wl, seed, spec["run_seconds"], 1)
            traced.append({"seed": seed, "correct": final["correct"],
                           "layers": {k: v["value"] for k, v in final["metrics"].items()},
                           "layers_by_kind": detail["detail"].get("layers_by_kind")})
        if traced:
            t50 = statistics.median(t["layers"]["trace.latency_p50_s"] for t in traced)
            u50 = entry["detail_metrics"]["latency_p50_s"]["median"]
            entry["tracing_overhead"] = {"traced_latency_p50_s": t50,
                                         "untraced_latency_p50_s": u50,
                                         "overhead_s": t50 - u50,
                                         "overhead_share": (t50 - u50) / u50}
            entry["traced_layers"] = traced
        report[wl] = entry
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    with open(os.path.splitext(args.out)[0] + ".md", "w") as f:
        f.write(markdown(report))
    print(markdown(report))


def markdown(report: dict) -> str:
    lines = ["| workload | metric | median | q1 | q3 | spread | bound |",
             "|---|---|---|---|---|---|---|"]
    for wl, entry in report.items():
        for k, m in {**entry["metrics"], **entry.get("detail_metrics", {})}.items():
            lines.append(f"| {wl} | {k} | {m['median']:.4g} | {m['q1']:.4g} | {m['q3']:.4g} "
                         f"| {m['spread']:.3f} | {m.get('bound', '-')} |")
    lines += ["", "| workload | tracing overhead on latency_p50_s |", "|---|---|"]
    for wl, entry in report.items():
        o = entry.get("tracing_overhead")
        if o:
            lines.append(f"| {wl} | {o['overhead_s']:+.4f} s ({o['overhead_share']:+.1%}) |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
