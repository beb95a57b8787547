"""Server process for the serving workloads.

Boots the package's REST and Arrow Flight servers over one
``server.api.Engine`` on ``local[--cpus]``, runs ``Engine.prewarm``,
prints one ``READY <json>`` line with the ports and the configuration
actually in effect, then serves until its standard input closes. With
``--trace`` the layer wrappers are installed after the prewarm and the
spans are written to ``--spans`` on exit.

  python3 perfbench/server_proc.py --cpus 4 [--trace --spans spans.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--spans", default="spans.json")
    args = p.parse_args()

    from datafusion_server_spark.server import flight, http
    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.session import build_spark

    spark = build_spark(app_name="perfbench-server", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark)
    t_engine = time.perf_counter()
    prewarm_s = engine.prewarm()

    probe = engine.sessions.create()
    conf = {
        "master": spark.sparkContext.master,
        "root_shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "root_aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "session_shuffle_partitions": probe.spark.conf.get("spark.sql.shuffle.partitions"),
        "session_aqe": probe.spark.conf.get("spark.sql.adaptive.enabled"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    engine.sessions.delete(probe.session_id)

    instrument = tracer = None
    if args.trace:
        from perfbench.instrument import ServerInstrument
        from perfbench.trace import Tracer

        tracer = Tracer()
        instrument = ServerInstrument(tracer, spark)
        instrument.install()

    httpd = http.serve(engine, "127.0.0.1", 0)
    fserver = flight.serve(engine, "grpc://127.0.0.1:0")
    ready = {
        "http_port": httpd.server_address[1],
        "flight_port": fserver.port,
        "spark_start_s": t_engine - T_START,
        "prewarm_s": prewarm_s,
        "conf": conf,
    }
    print("READY " + json.dumps(ready), flush=True)

    sys.stdin.read()  # serve until the load generator closes our stdin
    httpd.shutdown()
    fserver.shutdown()
    engine.sessions.stop_reaper()
    engine.sessions.close_all()
    if tracer is not None:
        with open(args.spans, "w") as f:
            json.dump({"jobs": instrument.job_counts(), "spans": tracer.rows()}, f)
    spark.stop()


if __name__ == "__main__":
    main()
