"""Query lifecycle (reference §3.1/§3.2): the engine object the REST and
Flight front-ends call into.

``POST /dataframe/query`` path (reference lib/src/response/handler/
dataframe.rs:18-92): parse request -> ephemeral session (keepAlive 60 s)
-> ingest dataSources -> merge processors -> transpile + spark.sql ->
post-processors -> encode -> destroy session.

Session path (handler/session.rs:90-215): same steps against a named,
TTL-kept session.
"""

from __future__ import annotations

import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from datafusion_server_spark.functions.dialect import transpile
from datafusion_server_spark.operators.merge import MergeProcessor, execute_merge
from datafusion_server_spark.operators import postprocess
from datafusion_server_spark.server import encoders
from datafusion_server_spark.session import (
    STATELESS_KEEP_ALIVE_S,
    ServerSession,
    SessionManager,
)
from datafusion_server_spark.sources import readers
from datafusion_server_spark.sources import registry as source_registry


# Reference bucket boundaries, name-for-name (metrics.rs:43-48).
API_SECONDS_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)
SESSION_SECONDS_BUCKETS = (0.1, 1.0, 2.5, 5.0, 10.0, 30.0, 60.0, 600.0, 1800.0, 3600.0)


class _Histogram:
    __slots__ = ("buckets", "counts", "sum", "count")

    def __init__(self, buckets: tuple[float, ...]):
        self.buckets = buckets
        self.counts = [0] * len(buckets)
        self.sum = 0.0
        self.count = 0

    def record(self, value: float) -> None:
        for i, b in enumerate(self.buckets):
            if value <= b:
                self.counts[i] += 1
        self.sum += value
        self.count += 1


def _esc_label(v: str) -> str:
    """Prometheus exposition-format label escaping (backslash, quote,
    newline) — a label value must not be able to corrupt the output."""
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _fmt_labels(labels: tuple[tuple[str, str], ...], extra: str = "") -> str:
    parts = [f'{k}="{_esc_label(v)}"' for k, v in labels]
    if extra:
        parts.append(extra)
    return "{" + ",".join(parts) + "}" if parts else ""


@dataclass
class Metrics:
    """Reference-parity telemetry (metrics.rs:16-160): the same metric
    names, label sets, and histogram bucket boundaries the reference's
    Prometheus recorder publishes —

    - ``http_requests_total{method,path,status}`` /
      ``http_requests_duration_seconds`` (5ms–10s exponential buckets);
    - ``flight_requests_total{method,status}`` /
      ``flight_requests_duration_seconds`` (same buckets);
    - ``session_contexts_total`` and
      ``session_context_duration_seconds`` (0.1s–1h buckets);
    - ``data_source_registrations_total{scheme,format}``.

    Beyond the reference: ``data_source_schema_cache_total{result}``
    (``hit``/``miss``) counts lookups in the process-wide parquet/ORC
    schema cache of ``sources/readers.py``; it is read at exposition time
    because the cache, like its counts, belongs to the process, not to
    one Engine.
    """

    _counters: dict = field(default_factory=dict)
    _histograms: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    _HISTOGRAM_BUCKETS = {
        "http_requests_duration_seconds": API_SECONDS_BUCKETS,
        "flight_requests_duration_seconds": API_SECONDS_BUCKETS,
        "session_context_duration_seconds": SESSION_SECONDS_BUCKETS,
    }

    def inc(self, name: str, **labels: str) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self._counters[key] = self._counters.get(key, 0) + 1

    def record(self, name: str, value: float, **labels: str) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            h = self._histograms.get(key)
            if h is None:
                buckets = self._HISTOGRAM_BUCKETS.get(name)
                if buckets is None:
                    raise ValueError(
                        f"unknown histogram {name!r}; declare its buckets in "
                        f"Metrics._HISTOGRAM_BUCKETS (known: "
                        f"{sorted(self._HISTOGRAM_BUCKETS)})"
                    )
                h = self._histograms[key] = _Histogram(buckets)
            h.record(value)

    # -- tracking helpers mirroring the reference's track_* fns ----------

    def track_http(self, method: str, path: str, status: int, seconds: float) -> None:
        labels = {"method": method, "path": path, "status": str(status)}
        self.inc("http_requests_total", **labels)
        self.record("http_requests_duration_seconds", seconds, **labels)

    def track_flight(self, method: str, status: str, seconds: float) -> None:
        labels = {"method": method, "status": status}
        self.inc("flight_requests_total", **labels)
        self.record("flight_requests_duration_seconds", seconds, **labels)

    def track_session_context(self) -> None:
        self.inc("session_contexts_total")

    def track_session_duration(self, seconds: float) -> None:
        self.record("session_context_duration_seconds", seconds)

    def track_data_source(self, scheme: str, fmt: str) -> None:
        self.inc("data_source_registrations_total", scheme=scheme, format=fmt)

    def prometheus(self) -> str:
        with self._lock:
            counters = dict(self._counters)
            histograms = {
                k: (h.buckets, list(h.counts), h.sum, h.count)
                for k, h in self._histograms.items()
            }
        for result, n in readers.SCHEMA_CACHE.counts().items():
            counters[("data_source_schema_cache_total", (("result", result),))] = n
        lines: list[str] = []
        seen: set[str] = set()
        for (name, labels), n in sorted(counters.items()):
            if name not in seen:
                seen.add(name)
                lines.append(f"# TYPE {name} counter")
            lines.append(f"{name}{_fmt_labels(labels)} {n}")
        for (name, labels), (buckets, counts, total, count) in sorted(
            histograms.items()
        ):
            if name not in seen:
                seen.add(name)
                lines.append(f"# TYPE {name} histogram")
            for b, c in zip(buckets, counts):
                le = f'le="{b}"'
                lines.append(f"{name}_bucket{_fmt_labels(labels, le)} {c}")
            inf = 'le="+Inf"'
            lines.append(f"{name}_bucket{_fmt_labels(labels, inf)} {count}")
            lines.append(f"{name}_sum{_fmt_labels(labels)} {total:.6f}")
            lines.append(f"{name}_count{_fmt_labels(labels)} {count}")
        return "\n".join(lines) + "\n"


class Engine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        start_reaper: bool = True,
        settings=None,
    ):
        from datafusion_server_spark.session import get_spark
        from datafusion_server_spark.settings import Settings

        self.spark = spark or get_spark()
        self.settings: Settings = settings or Settings()
        self.sessions = SessionManager(
            self.spark,
            start_reaper=start_reaper,
            session_conf=self.settings.session.spark_conf,
        )
        self.metrics = Metrics()
        self.sessions.on_close = lambda sess: self.metrics.track_session_duration(
            time.time() - sess.created_at
        )
        # config sections -> JDBC namespaces, object-store credentials,
        # drop-in plugin manifests (reference init_global_managers,
        # settings.rs:221-247)
        self.settings.apply(self.spark)

    def prewarm(self) -> float:
        """Boot-time session pre-warm (r9, verdict task 6): drive one
        tiny synthetic pipeline through the SAME stateless path a
        request takes — session create, transpile, whole-stage-codegen
        compile for the common shapes (project/filter, explode fanout,
        hash aggregate, window, sort) and an Arrow + a JSON encode —
        so the JVM/codegen warmup cliff is paid at boot, not by the
        first caller. The reference's Rust server has no such cliff
        (no JIT'd query engine); measured A/B in PLANS.md. Returns
        seconds spent."""
        import shutil
        import tempfile

        t0 = time.time()
        synth = (
            "SELECT g, s, ROW_NUMBER() OVER (ORDER BY s DESC, g) AS r FROM ("
            "SELECT k % 7 AS g, CAST(SUM(CAST(k AS DECIMAL(18,6))) AS BIGINT) AS s "
            "FROM (SELECT explode(sequence(1, 2000)) AS k) WHERE k > 1 GROUP BY k % 7"
            ") ORDER BY r"
        )
        self.dataframe_query({"query": synth, "response": {"format": "arrow"}})
        self.dataframe_query({"query": synth, "response": {"format": "json"}})
        # the first REAL request usually registers a file source: warm
        # the parquet write/scan + DataSource registration path too (the
        # synthetic query alone left a ~1.4 s first-request residue)
        tmp = tempfile.mkdtemp(prefix="prewarm_")
        try:
            loc = f"{tmp}/warm.parquet"
            self.spark.range(100).selectExpr(
                "id AS k", "CAST(id % 5 AS STRING) AS g"
            ).write.mode("overwrite").parquet(loc)
            self.dataframe_query(
                {
                    "dataSources": [
                        {"format": "parquet", "name": "__warm", "location": loc}
                    ],
                    "query": "SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM __warm "
                             "WHERE k > 1 GROUP BY g ORDER BY g",
                    "response": {"format": "json"},
                }
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # Large-HOF expression-tree shape (r10, verdict task 6): run the
        # REAL span-corruption operator over a 2-row input so a serving
        # boot pre-compiles that family's plan shapes. (r9's "8 s
        # first-compile" diagnosis turned out to be per-run interpreted
        # HOF recomputation, fixed in operators/text.py by hoisting the
        # span map out of the per-token lambda; this prewarm leg remains
        # as cheap insurance for the family's genuine first-call
        # analysis/codegen cost, ~0.5 s.)
        from datafusion_server_spark.operators.text import span_corruption

        tiny = self.spark.range(2).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(1, 24), i -> concat('w', i))) AS text",
        )
        span_corruption(tiny, "text", "doc_id").collect()
        return time.time() - t0

    # -- shared steps ------------------------------------------------------

    def _ingest(self, sess: ServerSession, data_sources: list[dict]) -> None:
        for payload in data_sources or []:
            ds = source_registry.DataSource.from_json(payload)
            source_registry.register(sess.spark, ds, session=sess)
            scheme = ds.location.split("://", 1)[0] if "://" in ds.location else "file"
            self.metrics.track_data_source(scheme, ds.format)

    def _merges(self, sess: ServerSession, processor: dict | None) -> None:
        for spec in (processor or {}).get("mergeProcessors", []) or []:
            execute_merge(sess.spark, MergeProcessor.from_json(spec), session=sess)

    _INSERT_RE = re.compile(
        r"\s*INSERT\s+INTO\s+(?P<name>`[^`]+`|\w+)\s+(?P<rest>.+)", re.I | re.S
    )

    def _query(self, sess: ServerSession, sql: str) -> DataFrame:
        from datafusion_server_spark.sources import jdbc

        try:
            jdbc.register_tables_from_sql(sess.spark, sql)
        except ValueError:
            pass  # no namespaces configured; plain query

        m = self._INSERT_RE.fullmatch(sql)
        if m:
            # INSERT INTO a session temp view: Spark refuses DML on views,
            # so re-register the union (SURVEY §2.B DDL/DML shim — the
            # reference supports INSERT into in-memory tables via DataFusion)
            name = m.group("name").strip("`")
            rest = m.group("rest").strip().rstrip(";")
            if rest.upper().startswith("VALUES"):
                rest = f"SELECT * FROM ({rest})"
            incoming = sess.spark.sql(transpile(rest, sess.columns_of))
            existing = sess.spark.table(name)
            merged = existing.union(incoming.toDF(*existing.columns)).persist()
            merged.createOrReplaceTempView(name)
            # free the PREVIOUS insert's persisted union — without this a
            # long-lived session doing N INSERTs pins N cached plans
            # (merged recomputes through the old plan if ever needed)
            existing.unpersist()
            sess.touch()
            # lazy count: evaluated when the response is encoded — no
            # extra eager job here
            return incoming.selectExpr("CAST(COUNT(*) AS BIGINT) AS inserted_rows")
        return sess.sql(transpile(sql, sess.columns_of))

    def _respond(
        self, df: DataFrame, response: dict | None, accept: str | None
    ) -> tuple[bytes, str]:
        r = response or {}
        fmt = encoders.negotiate_format(r.get("format"), accept)
        opts = r.get("options") or {}
        return encoders.encode(
            df,
            fmt,
            has_headers=bool(opts.get("hasHeaders", True)),
            delimiter=str(opts.get("delimiter", ",")),
        )

    # -- entry points ------------------------------------------------------

    def dataframe_query(self, payload: dict, accept: str | None = None) -> tuple[bytes, str]:
        """Stateless one-shot (reference dataframe.rs:18-92)."""
        sess = self.sessions.create(keep_alive_s=STATELESS_KEEP_ALIVE_S)
        self.metrics.track_session_context()
        try:
            self._ingest(sess, payload.get("dataSources", []))
            self._merges(sess, payload.get("processor"))
            df = self._query(sess, payload["query"])
            post = payload.get("postProcessors") or []
            if post:
                df = postprocess.apply_local(sess.spark, df, post)
            out = self._respond(df, payload.get("response"), accept)
            return out
        finally:
            try:
                self.sessions.delete(sess.session_id)
            except KeyError:
                pass

    def dataframe_query_stream(self, payload: dict):
        """Incremental variant of the stateless path (reference A21:
        record_batch_stream.rs): yields Arrow IPC frames per batch. The
        session is destroyed after the generator is drained — matching the
        reference's leave-to-reaper semantics for streamed responses."""
        sess = self.sessions.create(keep_alive_s=STATELESS_KEEP_ALIVE_S)
        self.metrics.track_session_context()

        def gen():
            try:
                self._ingest(sess, payload.get("dataSources", []))
                self._merges(sess, payload.get("processor"))
                df = self._query(sess, payload["query"])
                yield from encoders.arrow_ipc_chunks(df)
            finally:
                try:
                    self.sessions.delete(sess.session_id)
                except KeyError:
                    pass

        return gen()

    def session_create(self, session_id: str | None, keep_alive_s: int | None) -> dict:
        sess = self.sessions.create(
            session_id, keep_alive_s or self.settings.session.default_keep_alive
        )
        self.metrics.track_session_context()
        return {"id": sess.session_id, "keepAlive": sess.keep_alive_s}

    def session_add_datasource(self, session_id: str, payload: Any) -> list[str]:
        sess = self.sessions.get(session_id)
        sources = payload if isinstance(payload, list) else [payload]
        self._ingest(sess, sources)
        return sorted(sess.data_sources)

    def session_merge(self, session_id: str, payload: dict) -> None:
        sess = self.sessions.get(session_id)
        self._merges(sess, payload)

    def session_query(
        self, session_id: str, payload: dict | str, accept: str | None = None
    ) -> tuple[bytes, str]:
        """JSON body {sql, postProcessors?, response?} or raw SQL string
        (reference session.rs:90-215)."""
        sess = self.sessions.get(session_id)
        if isinstance(payload, str):
            sql, post, response = payload, [], None
        else:
            sql = payload.get("sql") or payload.get("query")
            post = payload.get("postProcessors") or []
            response = payload.get("response")
        df = self._query(sess, sql)
        if post:
            df = postprocess.apply_local(sess.spark, df, post)
        return self._respond(df, response, accept)

    def session_upload(self, session_id: str, name: str, fmt: str, data: bytes) -> None:
        """Multipart upload ingest (reference A23): format sniff by
        extension/content happens in the HTTP layer; here data is staged
        and registered."""
        sess = self.sessions.get(session_id)
        payload = {"format": fmt, "name": name, "location": ""}
        suffix = {"csv": ".csv", "json": ".json", "ndjson": ".ndjson",
                  "parquet": ".parquet", "avro": ".avro"}[fmt]
        path = readers.stage_bytes(data, suffix)
        payload["location"] = f"file://{path}" if not path.startswith("/") else path
        ds = source_registry.DataSource.from_json(payload)
        ds.options.infer_schema_rows = readers.UPLOAD_INFER_ROWS
        source_registry.register(sess.spark, ds, session=sess)

    def session_save(self, session_id: str, payload: dict) -> None:
        """Save table(s) to a sink (reference A18/A19).

        Accepts the reference's request shape — ``{"dataSources": [{format,
        name, location, options}]}`` (handler/data_source.rs:136-150, where
        ``name`` is the registered table and ``location`` the destination) —
        as well as the single-table ``{table, location, format, options}``
        form.
        """
        from datafusion_server_spark.sources import writers

        sess = self.sessions.get(session_id)
        entries = payload.get("dataSources") or [
            {
                "name": payload["table"],
                "location": payload["location"],
                "format": payload.get("format", "parquet"),
                "options": payload.get("options"),
            }
        ]
        for entry in entries:
            table = entry["name"]
            location = entry["location"]
            fmt = str(entry.get("format", "parquet")).lower()
            df = sess.spark.table(table)
            opts = entry.get("options") or {}
            if location.endswith(".json") and fmt == "json":
                writers.save_json_array_file(df, location, overwrite=bool(opts.get("overwrite")))
            else:
                writers.write_object_store(
                    df,
                    location,
                    fmt,
                    has_headers=bool(opts.get("hasHeaders", True)),
                    delimiter=str(opts.get("delimiter", ",")),
                )

    def session_detail(self, session_id: str) -> dict:
        sess = self.sessions.get(session_id)
        from datafusion_server_spark.schema import struct_to_schema_json

        return {
            "id": sess.session_id,
            "created": sess.created_at,
            "dataSources": {
                name: dict(
                    info,
                    schema=struct_to_schema_json(sess.spark.table(name).schema),
                )
                for name, info in sess.data_sources.items()
            },
        }

    def remove_data_source(self, session_id: str, name: str) -> bool:
        return self.sessions.get(session_id).remove(name)

    def refresh_data_source(self, session_id: str, name: str) -> None:
        """Re-read the source from its original request entry, options
        and explicit schema included (reference session_manager.rs:474-488)."""
        sess = self.sessions.get(session_id)
        if name not in sess.data_sources:
            raise KeyError(name)
        ds = sess.source_requests.get(name)
        if ds is None:
            raise ValueError(f"data source {name!r} was not registered from a "
                             f"dataSources request and cannot be re-read")
        source_registry.register(sess.spark, ds, session=sess)
