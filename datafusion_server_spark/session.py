"""SparkSession construction and the multi-session registry.

Rebuilds the reference's session layer (named, TTL-expiring DataFusion
``SessionContext``s — /root/reference/lib/src/context/session.rs:35-70 and
session_manager.rs:26-37) on Spark: every server session, stateless
one-shots included, is a fresh ``SparkSession.newSession()`` over the
shared SparkContext, never a reused one. That isolates temp views, temp
functions and SQLConf per session; global temp views (``global_temp.*``)
and the ``CACHE TABLE`` cache manager remain SparkContext-wide. A reaper
thread enforces TTL (reference: lib/src/server/interval_worker.rs:7-33,
default keep-alive 3600 s at lib/src/settings.rs:211).

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime join-strategy switching, skew-join splitting, and
  partition coalescing replace any hand-tuned physical planning.
- ``spark.sql.shuffle.partitions`` is a *default*; AQE coalesces down for
  small stages and the operators in this package repartition up for large
  ones, so the same code runs at sf0.001 and at 100 TB.
- Arrow exchange enabled: every Python-boundary crossing (pandas UDFs,
  toPandas in the response encoders) is Arrow-batched, never row-by-row.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import SparkSession

if TYPE_CHECKING:
    from datafusion_server_spark.sources.registry import DataSource

DEFAULT_KEEP_ALIVE_S = 3600  # reference default: lib/src/settings.rs:211
STATELESS_KEEP_ALIVE_S = 60  # reference: lib/src/response/handler/dataframe.rs:28-31
REAPER_INTERVAL_S = 1.0  # reference: lib/src/server/interval_worker.rs:28-30


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_spark(
    app_name: str = "datafusion-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create the root SparkSession with scale-appropriate defaults."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime coalescing, skew-join handling, join-strategy switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width: matched to local core count here; on a real
        # cluster this is set to ~2-3x total executor cores and AQE
        # coalesces per-stage.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow for every JVM<->Python exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic wall-clock semantics: the oracle (DuckDB) runs in
        # UTC; timestamps must mean the same instant in both engines.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast thresholds, split by how trustworthy the size is:
        # the STATIC threshold (file-size guess, no filter selectivity)
        # stays small so a mis-estimated fact table is never collected to
        # the driver and hash-built (measured: a 64 MB static threshold
        # broadcast the q5 lineitem side — 1.6x slower locally, and the
        # exact failure mode that OOMs a driver at 100 TB); the AQE
        # threshold (true runtime bytes of the materialized stage) is
        # wider, so post-filter/post-agg small sides still broadcast —
        # trust observed sizes, distrust estimates.
        .config("spark.sql.autoBroadcastJoinThreshold", str(2 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark() -> SparkSession:
    """Return the active session or build the default one."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_spark()


@dataclass
class ServerSession:
    """One server session = one isolated Spark temp-view catalog.

    Mirrors the reference ``Session`` (lib/src/context/session.rs:35-70):
    id, created timestamp, TTL, and the set of registered data sources.
    ``source_requests`` keeps the parsed request entry of each source
    registered from a ``dataSources`` request, so a refresh re-reads it
    with the same options.
    """

    session_id: str
    spark: SparkSession
    keep_alive_s: int = DEFAULT_KEEP_ALIVE_S
    created_at: float = field(default_factory=time.time)
    last_access: float = field(default_factory=time.time)
    data_sources: dict[str, dict] = field(default_factory=dict)
    source_requests: dict[str, "DataSource"] = field(default_factory=dict)

    def touch(self) -> None:
        self.last_access = time.time()

    @property
    def expired(self) -> bool:
        return time.time() - self.last_access > self.keep_alive_s

    def register(self, name: str, df, *, cache: bool = False, info: dict | None = None) -> None:
        """Register a DataFrame as a named table in this session.

        The reference concatenates ingested batches and registers them as an
        in-memory table (session.rs:248-253); the Spark-native equivalent is
        an (optionally cached) temp view — lazy by default so that listing
        sources keep full pushdown.
        """
        if cache:
            df = df.persist()
        df.createOrReplaceTempView(name)
        self.data_sources[name] = dict(info or {}, cached=cache)

    def remove(self, name: str) -> bool:
        # reference: session_manager.rs:454-472 (remove_data_source)
        if name in self.data_sources:
            try:
                df = self.spark.table(name)
                df.unpersist()
            except Exception:
                pass
            self.spark.catalog.dropTempView(name)
            del self.data_sources[name]
            self.source_requests.pop(name, None)
            return True
        return False

    def columns_of(self, table: str) -> list[str] | None:
        """Schema resolver for the dialect pre-pass (r11: multi-relation
        qualified ``t.*`` GROUPS expansion): column names of a view
        registered in this session, or None when the name does not
        resolve — the rewrite then keeps its conservative reject."""
        try:
            return self.spark.table(table).columns
        except Exception:
            return None

    def sql(self, query: str):
        self.touch()
        return self.spark.sql(query)

    def close(self) -> None:
        for name in list(self.data_sources):
            self.remove(name)


class SessionManager:
    """Registry of named ServerSessions with a TTL reaper.

    Mirrors lib/src/context/session_manager.rs:210-282 (create/list/
    detail/delete + expiry) on top of ``SparkSession.newSession()``.
    """

    def __init__(
        self,
        root: SparkSession | None = None,
        *,
        start_reaper: bool = False,
        session_conf: dict | None = None,
    ):
        self._root = root or get_spark()
        self._sessions: dict[str, ServerSession] = {}
        self._lock = threading.Lock()
        self._reaper: threading.Thread | None = None
        self._stop = threading.Event()
        # r11 (serving-floor A/B): per-session SQLConf overrides —
        # newSession() initializes its SQLConf from the STATIC SparkConf,
        # so serving-tier knobs (AQE on + partition coalescing, measured
        # better at every shuffle setting under concurrent load) must be
        # re-applied on every create.
        self.session_conf: dict = dict(session_conf or {})
        # lifecycle hook invoked (outside the lock) with each closed
        # session — the Engine wires telemetry here (reference
        # track_session_context_duration, metrics.rs:139-147)
        self.on_close = None
        if start_reaper:
            self.start_reaper()

    def _end(self, sess: "ServerSession") -> None:
        """Close one session already removed from the registry: drop its
        data sources, then fire the ``on_close`` hook. The SparkSession
        itself is discarded, never reused."""
        sess.close()
        cb = self.on_close
        if cb is not None:
            try:
                cb(sess)
            except Exception:
                pass

    def create(self, session_id: str | None = None, keep_alive_s: int = DEFAULT_KEEP_ALIVE_S) -> ServerSession:
        sid = session_id or uuid.uuid4().hex
        spark = self._root.newSession()
        for k, v in self.session_conf.items():
            spark.conf.set(k, str(v))
        # dialect-shim SQL functions (regexp_match first-match
        # semantics etc.) live per temp-function catalog, i.e. per
        # session — install on every create.
        from datafusion_server_spark.functions.dialect import register_session_functions

        register_session_functions(spark)
        sess = ServerSession(sid, spark, keep_alive_s)
        with self._lock:
            if sid in self._sessions:
                raise ValueError(f"session already exists: {sid}")
            self._sessions[sid] = sess
        return sess

    def get(self, session_id: str) -> ServerSession:
        with self._lock:
            sess = self._sessions.get(session_id)
        if sess is None or sess.expired:
            raise KeyError(f"no such session: {session_id}")
        sess.touch()
        return sess

    def list(self) -> list[dict]:
        with self._lock:
            return [
                {
                    "id": s.session_id,
                    "created": s.created_at,
                    "ttl": max(0, int(s.keep_alive_s - (time.time() - s.last_access))),
                    "dataSources": sorted(s.data_sources),
                }
                for s in self._sessions.values()
            ]

    def delete(self, session_id: str) -> None:
        with self._lock:
            sess = self._sessions.pop(session_id, None)
        if sess is None:
            raise KeyError(f"no such session: {session_id}")
        self._end(sess)

    def reap(self) -> list[str]:
        """Drop expired sessions (reference reaper: interval_worker.rs:28-30)."""
        with self._lock:
            dead = [sid for sid, s in self._sessions.items() if s.expired]
            reaped = [(sid, self._sessions.pop(sid)) for sid in dead]
        for _, sess in reaped:
            self._end(sess)
        return [sid for sid, _ in reaped]

    def close_all(self) -> list[str]:
        """Drain every live session (graceful-shutdown path, reference
        signal_handler.rs:5-29): unpersist cached sources and fire the
        ``on_close`` lifecycle hook (session-duration telemetry) exactly
        as the TTL reaper does. Returns the closed session ids."""
        with self._lock:
            drained = list(self._sessions.items())
            self._sessions.clear()
        for _, sess in drained:
            self._end(sess)
        return [sid for sid, _ in drained]

    def start_reaper(self) -> None:
        if self._reaper is not None:
            return

        def loop() -> None:
            while not self._stop.wait(REAPER_INTERVAL_S):
                try:
                    self.reap()
                except Exception:
                    pass

        self._reaper = threading.Thread(target=loop, name="session-reaper", daemon=True)
        self._reaper.start()

    def stop_reaper(self) -> None:
        self._stop.set()
        if self._reaper is not None:
            self._reaper.join(timeout=5)
            self._reaper = None
