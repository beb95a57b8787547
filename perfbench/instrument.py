"""Wrappers that time the calls into each of the package's layers.

Installed only in traced runs, and only from the benchmark's side: each
public function is replaced where callers look it up (``server.api``
imports ``transpile`` and ``execute_merge`` by name, so those names are
rebound there as well as in their home modules). Py4j work done for the
trace itself (job groups, reading Spark's planning phases) runs in
``trace.overhead`` spans so it is not charged to a layer.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def spark_phases(df: DataFrame) -> dict[str, float]:
    """Milliseconds per planning phase from Spark's QueryPlanningTracker."""
    out: dict[str, float] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class ServerInstrument:
    """Traces a running server process: HTTP and Flight front-ends,
    ``Engine`` entry points, sessions, source registration, dialect
    transpile, Spark parse/analysis, encoders and the merge operator."""

    def __init__(self, tracer, spark: SparkSession):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.groups: list[str] = []
        self._lock = threading.Lock()
        self._flight_calls: dict[str, int] = {}

    def _overhead(self, fn, *args):
        sp = self.tracer.start("trace.overhead")
        try:
            return fn(*args)
        finally:
            self.tracer.finish(sp)

    def _job_group(self, group: str) -> None:
        self._overhead(self.sc.setJobGroup, group, "perfbench", False)
        self.groups.append(group)

    def install(self) -> None:
        import pyarrow.flight as pafl

        from datafusion_server_spark import session as session_mod
        from datafusion_server_spark.functions import dialect
        from datafusion_server_spark.operators import merge
        from datafusion_server_spark.server import api, encoders, flight, http
        from datafusion_server_spark.sources import registry

        t = self.tracer
        inst = self

        def http_begin(sp, args):
            handler = args[0]
            sp.rid = handler.headers.get("X-Request-Id")
            if sp.rid:
                inst._job_group(sp.rid)

        for verb in ("do_GET", "do_POST", "do_DELETE"):
            t.wrap(http.Handler, verb, "server.http", before=http_begin)
        for entry in ("dataframe_query", "session_create", "session_add_datasource",
                      "session_merge", "session_query", "session_upload",
                      "remove_data_source"):
            t.wrap(api.Engine, entry, "server.api")
        t.wrap(session_mod.SessionManager, "create", "session.create")
        t.wrap(session_mod.SessionManager, "delete", "session.delete")
        t.wrap(SparkSession, "newSession", "session.new_spark")
        t.wrap(session_mod.ServerSession, "sql", "spark.sql")

        def register_begin(sp, args):
            if sp.rid:
                inst._job_group(sp.rid + "/register")

        def register_end(sp, args, out):
            if sp.rid:
                inst._overhead(inst.sc.setJobGroup, sp.rid, "perfbench", False)

        t.wrap(registry, "register", "sources.register", before=register_begin,
               after=register_end)
        t.wrap(dialect, "transpile", "functions.dialect.transpile")
        t.wrap(api, "transpile", "functions.dialect.transpile")
        t.wrap(merge, "execute_merge", "operators.merge.execute")
        t.wrap(api, "execute_merge", "operators.merge.execute")

        def encode_end(sp, args, out):
            sp.attrs["bytes"] = len(out[0])
            sp.attrs["phases"] = inst._overhead(spark_phases, args[0])

        t.wrap(encoders, "encode", "encoders.encode", after=encode_end)
        t.wrap(ClassicDataFrame, "toArrow", "encoders.collect")

        incremental = encoders.arrow_batches_incremental

        def traced_incremental(df):
            return t.iterate(incremental(df), "encoders.stream", t.current())

        encoders.arrow_batches_incremental = traced_incremental

        # Flight do_get returns a stream that gRPC drains after the call
        # returns: its span stays open until the generator is exhausted.
        orig_do_get = flight.FlightServer.do_get
        generator_stream = pafl.GeneratorStream

        def do_get(server, context, ticket):
            sid = ticket.ticket.decode().split("/", 1)[0]
            with inst._lock:
                k = inst._flight_calls.get(sid, 0)
                inst._flight_calls[sid] = k + 1
            sp = t.start("server.flight", rid=f"{sid}/flight{k}")
            inst._job_group(sp.rid)
            try:
                return orig_do_get(server, context, ticket)
            except BaseException:
                t.finish(sp, pop=False)
                raise
            finally:
                stack = t._stack()
                if stack and stack[-1] is sp:
                    stack.pop()

        def finishing(it, sp):
            try:
                yield from it
            finally:
                t.finish(sp, pop=False)

        def traced_stream(schema, gen, *a, **kw):
            sp = t.current()
            if sp is not None and sp.name == "server.flight":
                gen = finishing(gen, sp)
            return generator_stream(schema, gen, *a, **kw)

        flight.FlightServer.do_get = do_get
        flight.fl.GeneratorStream = traced_stream

    def job_counts(self) -> dict[str, list[int]]:
        """Job group -> [jobs, stages, tasks], read from the status tracker."""
        st = self.sc.statusTracker()
        out = {}
        for g in dict.fromkeys(self.groups):
            jobs = st.getJobIdsForGroup(g)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    stages += 1
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si is not None else 0
            out[g] = [len(jobs), stages, tasks]
        return out


class Py4jCounter:
    """Counts py4j round-trips by wrapping the gateway client's
    ``send_command`` on this SparkContext."""

    def __init__(self, spark: SparkSession):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = counted
