"""Driver process for the ``batch_headline`` workload.

Builds the headline session and layout with ``bench.build_bench_session``
and ``bench.prepare`` (the same calls ``bench.py`` makes), runs one
untimed warm pass over ``bench.HEADLINE``, prints ``READY <json>``, then
runs whole passes over the rows, each in a seeded order, until
``--seconds`` have passed.
Each execution is timed as plan build plus ``toArrow`` and its result
is written to ``--out`` for the caller to check. The process exits when
its standard input closes. With ``--trace`` the
build and the collect are timed apart, py4j round-trips during the build
are counted and Spark's planning phases are read after each execution.

  SPARK_GRAFT_SF_DIR=... python3 perfbench/batch_proc.py --seed 1 --seconds 10 --out dir
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", required=True)
    args = p.parse_args()

    import pyarrow as pa

    import bench
    from datafusion_server_spark.queries import registry
    from perfbench.workloads import batch_stream

    t0 = time.perf_counter()
    spark, sf_dir, cpus, warehouse = bench.build_bench_session()
    t1 = time.perf_counter()
    bench.prepare(spark, sf_dir, warehouse, cpus)
    t2 = time.perf_counter()
    reg = registry()
    for name in bench.HEADLINE:
        reg[name].build(spark, sf_dir).toArrow()
    gc.collect()
    t3 = time.perf_counter()
    phases = {"session_s": t1 - t0, "prepare_s": t2 - t1, "warm_pass_s": t3 - t2}
    conf = {
        "master": spark.sparkContext.master,
        "root_shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "root_aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    print("READY " + json.dumps({"conf": conf, "setup": phases}), flush=True)

    counter = None
    if args.trace:
        from perfbench.instrument import Py4jCounter, spark_phases

        counter = Py4jCounter(spark)
    os.makedirs(args.out, exist_ok=True)
    runs = []
    t_start = time.perf_counter()
    rows = len(bench.HEADLINE)
    for name in batch_stream(args.seed, list(bench.HEADLINE)):
        # whole passes only, so every row has as many timings as the others
        if len(runs) % rows == 0 and runs and time.perf_counter() - t_start >= args.seconds:
            break
        rec = {"row": name}
        if counter is None:
            t0 = time.perf_counter()
            df = reg[name].build(spark, sf_dir)
            tbl = df.toArrow()
            rec["wall_s"] = time.perf_counter() - t0
        else:
            calls = counter.calls
            t0 = time.perf_counter()
            df = reg[name].build(spark, sf_dir)
            t1 = time.perf_counter()
            tbl = df.toArrow()
            t2 = time.perf_counter()
            rec.update(wall_s=t2 - t0, build_s=t1 - t0, execute_s=t2 - t1,
                       py4j_calls=counter.calls - calls, phases=spark_phases(df))
        path = os.path.join(args.out, f"{len(runs)}.arrow")
        with pa.OSFile(path, "wb") as f, pa.ipc.new_stream(f, tbl.schema) as w:
            w.write_table(tbl)
        rec["result"] = path
        runs.append(rec)
        # release cached/checkpointed blocks before the next timing, as bench.py does
        del df, tbl
        gc.collect()
    print("RESULT " + json.dumps({"runs": runs}), flush=True)
    sys.stdin.read()  # stay up until the caller has read our peak memory
    spark.stop()


if __name__ == "__main__":
    main()
