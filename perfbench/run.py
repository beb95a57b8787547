#!/usr/bin/env python3
"""The repository's benchmark: three workloads, one command.

  python3 perfbench/run.py --workload oneshot|session_mix|batch_headline \\
      --seed N --seconds S --trace 0|1

Run from the repository root. Inputs come from ``--seed``; the tables
are generated once into ``perfbench/.work``. Every response is checked
against DuckDB over the same parquet. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it reports the environment and every metric of the
workload, end-to-end and per operation type. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("oneshot", "session_mix", "batch_headline")
BATCH_SCALE = "0.01"
SESSION_SCALE = "0.1"


def preflight() -> None:
    need = ("bench.py", "datafusion_server_spark/__init__.py",
            "datafusion_server_spark/server/api.py")
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not here (missing {', '.join(missing)})",
              file=sys.stderr)
        sys.exit(2)


class Expected:
    """Expected-result digests, computed once per SQL text and kept in
    the work directory across runs (the tables never change)."""

    def __init__(self, path: str):
        self.path = path
        self.cache = {}
        if os.path.exists(path):
            with open(path) as f:
                self.cache = json.load(f)

    def get(self, checker, sql: str) -> str:
        if sql not in self.cache:
            self.cache[sql] = checker.digest_sql(sql)
        return self.cache[sql]

    def save(self) -> None:
        with open(self.path + ".tmp", "w") as f:
            json.dump(self.cache, f)
        os.replace(self.path + ".tmp", self.path)


def child_env(work: str, run_dir: str, cpus: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # keep the JVM's temp files, and its perf-counter file that would
        # go to /tmp, inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + env.get("JAVA_TOOL_OPTIONS", ""),
        SPARK_GRAFT_LAYOUT_DIR=os.path.join(work, "layout"),
    )
    return env


def metric_map(values: dict, units: dict) -> dict:
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


# -- serving ------------------------------------------------------------------


def run_serving(args, run_dir, env, data, cpus, checker, expected):
    from perfbench import report, workloads
    from perfbench.child import Child
    from perfbench.serving import Client, run_load, window_rate

    cmd = [sys.executable, os.path.join(HERE, "server_proc.py"), "--cpus", str(cpus)]
    spans_path = os.path.join(run_dir, "spans.json")
    if args.trace:
        cmd += ["--trace", "--spans", spans_path]
    server = Child(cmd, run_dir, env, os.path.join(run_dir, "server.log"))
    try:
        info = server.await_line("READY", 240)
        clients = [Client(i, info["http_port"], info["flight_port"]) for i in range(cpus)]
        if args.workload == "session_mix":
            errors: list[BaseException] = []

            def open_one(c):
                try:
                    c.open_session(data[SESSION_SCALE])
                except Exception as e:  # reported below; setup must not half-fail
                    errors.append(e)

            threads = [threading.Thread(target=open_one, args=(c,)) for c in clients]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            if errors or any(c.session is None for c in clients):
                raise RuntimeError(f"session setup failed: {errors[:1]}")
            warmup = workloads.session_warmup()
            streams = [workloads.session_stream(args.seed, c.idx) for c in clients]
        else:
            warmup = workloads.oneshot_warmup(data)
            streams = [workloads.oneshot_stream(args.seed, c.idx, data) for c in clients]
        # set-up ends when the server runs the workload warm: every op
        # shape has run once, so first-run compile cost lands here
        warm, _, _ = run_load(clients, [warmup[i::cpus] for i in range(cpus)])
        setup_s = time.perf_counter() - server.t_spawn
        results, lo, hi = run_load(clients, streams, args.seconds)
        results = warm + results
        rss = server.peak_rss_mb()
    finally:
        # a traced server writes its spans while it shuts down
        server.stop(graceful=bool(args.trace))

    checker.use_scale(data[SESSION_SCALE], workloads.SESSION_TABLES)
    for r in results:
        for fmt, payload, want in r.checks if r.ok else ():
            if isinstance(want, tuple):
                exp = ingest_digest(checker, data[SESSION_SCALE], want[1])
            else:
                exp = expected.get(checker, want)
            got = (checker.digest_arrow(payload) if fmt == "table"
                   else checker.digest_body(payload, fmt))
            if got != exp:
                r.ok, r.error = False, f"wrong result ({fmt}): got {got}, expected {exp}"
                break
        r.checks = []  # release the bodies

    failed = sum(not r.ok for r in results)
    # latency samples: ops that started inside the measuring window
    timed = [r for r in results if lo <= r.t0 < hi]
    ok = [r for r in timed if r.ok]
    lat = [r.latency for r in ok]
    e2e = {"setup_s": setup_s, "rps": window_rate(results, lo, hi)}
    detail = {
        "latency_p50_s": {"value": report.median(lat), "unit": "s", "n": len(lat)},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "error_rate": {"value": failed / max(len(results), 1), "unit": "ratio"},
        "latency_tail_s": dict(report.tail(lat), unit="s"),
        "warmup_s": max(r.t1 for r in warm) - min(r.t0 for r in warm),
        "timed_ops": len(timed),
        "server_boot_s": info["spark_start_s"],
        "prewarm_s": info["prewarm_s"],
        "errors": sorted({r.error for r in results if r.error})[:5],
    }
    for kind in ("query", "export", "ingest"):
        vals = [r.latency for r in ok if r.kind == kind]
        if vals:
            detail[f"{kind}_p50_s"] = {"value": report.median(vals), "unit": "s",
                                       "n": len(vals)}
    for fmt in workloads.EXPORT_FORMATS:
        vals = [r.latency for r in ok if r.kind == "export" and r.template == fmt]
        if vals:
            detail[f"export_{fmt}_p50_s"] = {"value": report.median(vals), "unit": "s",
                                             "n": len(vals)}
    layers = None
    if args.trace:
        with open(spans_path) as f:
            doc = json.load(f)
        layers = report.serving_layers(doc, timed)
        for kind in sorted({r.kind for r in timed}):
            subset = [r for r in timed if r.kind == kind]
            by_kind = report.serving_layers(doc, subset)
            detail.setdefault("layers_by_kind", {})[kind] = {
                k: v for k, v in by_kind.items() if v}
    return e2e, layers, detail, info["conf"], len(results), failed


def ingest_digest(checker, sf_dir: str, rows) -> str:
    import pyarrow as pa

    cols = list(zip(*rows))
    table = pa.table({"r_id": cols[0], "r_nationkey": cols[1], "qty": cols[2],
                      "amount": cols[3]})
    checker.con.register("upload_rows", table)
    try:
        return checker.digest_sql(
            "SELECT n.n_regionkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(u.qty) AS BIGINT) AS q "
            f"FROM upload_rows u JOIN read_parquet('{sf_dir}/nation.parquet') n "
            "ON u.r_nationkey = n.n_nationkey GROUP BY n.n_regionkey")
    finally:
        checker.con.unregister("upload_rows")


# -- batch ----------------------------------------------------------------------


def run_batch(args, run_dir, env, data, cpus, checker, expected):
    import pyarrow as pa

    from datafusion_server_spark import tables
    from datafusion_server_spark.queries import registry
    from perfbench import report
    from perfbench.child import Child

    sf_dir = data[BATCH_SCALE]
    env = dict(env, SPARK_GRAFT_SF_DIR=sf_dir)
    cmd = [sys.executable, os.path.join(HERE, "batch_proc.py"), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--out", os.path.join(run_dir, "results")]
    if args.trace:
        cmd.append("--trace")
    child = Child(cmd, run_dir, env, os.path.join(run_dir, "batch.log"))
    try:
        ready = child.await_line("READY", 400)
        setup_s = time.perf_counter() - child.t_spawn
        out = child.await_line("RESULT", args.seconds + 300)
        rss = child.peak_rss_mb()
    finally:
        child.stop(graceful=False)

    runs = out["runs"]
    reg = registry()
    checker.use_scale(sf_dir, tables.TABLES)
    failed = 0
    for r in runs:
        with pa.OSFile(r["result"], "rb") as f, pa.ipc.open_stream(f) as reader:
            got = checker.digest_arrow(reader.read_all())
        want = expected.get(checker, reg[r["row"]].oracle_for(sf_dir))
        r["ok"] = got == want
        failed += not r["ok"]
    per_row = {row: report.median([r["wall_s"] for r in runs if r["row"] == row])
               for row in dict.fromkeys(r["row"] for r in runs)}
    batch_wall = sum(per_row.values())
    e2e = {"setup_s": setup_s, "rps": len(per_row) / batch_wall}
    detail = {
        "latency_p50_s": {"value": report.median(list(per_row.values())), "unit": "s",
                          "n": len(per_row)},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "error_rate": {"value": failed / max(len(runs), 1), "unit": "ratio"},
        "batch_wall_s": {"value": batch_wall, "unit": "s"},
        "executions": len(runs),
        "rows_s": per_row,
        "wrong_rows": sorted({r["row"] for r in runs if not r["ok"]}),
        "scale_factor": float(BATCH_SCALE),
        "setup_parts_s": ready["setup"],
    }
    layers = report.batch_layers(runs) if args.trace else None
    return e2e, layers, detail, ready["conf"], len(runs), failed


# -- main -----------------------------------------------------------------------


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    preflight()
    sys.path.insert(0, ROOT)
    # DuckDB scans of Arrow tables read from response bytes warn about
    # buffer alignment on every call; the data is right either way
    os.environ.setdefault("ACERO_ALIGNMENT_HANDLING", "ignore")

    import pyarrow as pa

    from perfbench import datagen, report
    from perfbench.check import Checker

    load_start = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = {sf: datagen.ensure(os.path.join(work, "data"), sf) for sf in datagen.SCALES}
    env = child_env(work, run_dir, cpus)
    checker = Checker(os.path.join(run_dir, "tmp"))
    expected = Expected(os.path.join(work, "expected.json"))
    try:
        runner = run_batch if args.workload == "batch_headline" else run_serving
        e2e, layers, detail, conf, attempted, failed = runner(
            args, run_dir, env, data, cpus, checker, expected)
        expected.save()
    finally:
        checker.close()

    units = {"setup_s": "s", "rps": "1/s"}
    environment = dict(
        conf, nproc=cpus, cpu_count=os.cpu_count(), pyarrow=pa.__version__,
        python=platform.python_version(), load1m_start=load_start,
        load1m_end=os.getloadavg()[0], workload=args.workload, seed=args.seed,
        seconds=args.seconds, trace=args.trace, clients=cpus if args.workload != "batch_headline" else 1)
    print(json.dumps({"environment": environment, "end_to_end": metric_map(e2e, units),
                      "detail": detail}))
    metrics = (metric_map(layers, report.LAYER_UNITS) if args.trace
               else metric_map(e2e, units))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
