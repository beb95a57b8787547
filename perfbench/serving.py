"""Serving workloads: a server process and one closed-loop load generator.

The server (``server_proc.py``) runs in its own process, started through
``child.Child``. This process is
the only load generator: ``clients`` threads, each with at most one
request (and so one connection) in flight, send the next op of their
seeded stream as soon as the previous one completes, until the
measuring window closes. Responses are kept and checked after the
window, so checking does not compete with the server for the cores.
"""

from __future__ import annotations

import http.client
import json
import math
import threading
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.flight as fl

from perfbench import workloads


@dataclass
class OpResult:
    client: int
    kind: str
    template: str
    t0: float
    t1: float = 0.0
    ok: bool = False
    error: str | None = None
    # (request id, client start, client end) of every request the op sent
    requests: list[tuple[str, float, float]] = field(default_factory=list)
    # (format, response, expected) per response to check: expected is the
    # DuckDB SQL of the answer, or ("ingest", rows) for an upload's query
    checks: list[tuple] = field(default_factory=list)
    bytes_in: int = 0

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


class Client:
    """HTTP and Flight calls of one load-generator thread."""

    def __init__(self, idx: int, http_port: int, flight_port: int):
        self.idx = idx
        self.http_port = http_port
        self.flight_port = flight_port
        self.seq = 0
        self.flight_calls = 0
        self.session: str | None = None

    def _rid(self) -> str:
        self.seq += 1
        return f"c{self.idx}-{self.seq}"

    def http(self, res: OpResult | None, method: str, path: str, body: bytes | None = None,
             headers: dict | None = None) -> bytes:
        rid = self._rid()
        h = dict(headers or {}, **{"X-Request-Id": rid})
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.http_port, timeout=300)
        try:
            conn.request(method, path, body=body, headers=h)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        t1 = time.perf_counter()
        if res is not None:
            res.requests.append((rid, t0, t1))
            res.bytes_in += len(data)
        if resp.status != 200:
            raise RuntimeError(f"{method} {path} -> {resp.status}: {data[:200]!r}")
        return data

    def post_json(self, res, path: str, obj) -> bytes:
        return self.http(res, "POST", path, json.dumps(obj).encode(),
                         {"Content-Type": "application/json"})

    def flight_get(self, res: OpResult, ticket: str):
        rid = f"{self.session}/flight{self.flight_calls}"
        self.flight_calls += 1
        t0 = time.perf_counter()
        client = fl.FlightClient(f"grpc://127.0.0.1:{self.flight_port}")
        try:
            table = client.do_get(fl.Ticket(ticket.encode())).read_all()
        finally:
            client.close()
        res.requests.append((rid, t0, time.perf_counter()))
        res.bytes_in += table.nbytes
        return table

    # -- session_mix setup -----------------------------------------------

    def open_session(self, data_dir: str) -> None:
        out = json.loads(self.http(None, "GET", "/session/create"))
        self.session = out["id"]
        self.post_json(None, f"/session/{self.session}/datasource", [
            {"format": "parquet", "name": t, "location": f"{data_dir}/{t}.parquet"}
            for t in workloads.SESSION_TABLES])

    # -- ops ----------------------------------------------------------------

    def run(self, op: dict, res: OpResult) -> None:
        kind = op["kind"]
        if kind == "oneshot":
            body = self.post_json(res, "/dataframe/query", op["payload"])
            res.checks.append(("json", body, op["oracle"]))
        elif kind == "query":
            body = self.post_json(res, f"/session/{self.session}/query",
                                  {"sql": op["sql"], "response": {"format": "json"}})
            res.checks.append(("json", body, op["oracle"]))
        elif kind == "export":
            fmt = op["template"]
            if fmt == "flight":
                table = self.flight_get(res, f"{self.session}/{op['sql']}")
                res.checks.append(("table", table, op["oracle"]))
            else:
                body = self.post_json(res, f"/session/{self.session}/query",
                                      {"sql": op["sql"], "response": {"format": fmt}})
                res.checks.append((fmt, body, op["oracle"]))
        else:
            self._ingest(op, res)

    def _ingest(self, op: dict, res: OpResult) -> None:
        name, sid = op["name"], self.session
        boundary = uuid.uuid4().hex
        body = (f"--{boundary}\r\nContent-Disposition: form-data; name=\"{name}\"; "
                f"filename=\"{name}.csv\"\r\nContent-Type: text/csv\r\n\r\n").encode()
        body += workloads.upload_csv(op["rows"]) + f"\r\n--{boundary}--\r\n".encode()
        self.http(res, "POST", f"/session/{sid}/datasource/upload", body,
                  {"Content-Type": f"multipart/form-data; boundary={boundary}"})
        self.post_json(res, f"/session/{sid}/processor", op["merge"])
        out = self.post_json(res, f"/session/{sid}/query",
                             {"sql": op["sql"], "response": {"format": "json"}})
        res.checks.append(("json", out, ("ingest", op["rows"])))
        removed = json.loads(self.http(res, "DELETE", f"/session/{sid}/datasource/{name}"))
        if removed.get("removed") is not True:
            raise RuntimeError(f"datasource {name} was not removed: {removed}")


def run_load(clients: list[Client], streams: list, seconds: float = math.inf
             ) -> tuple[list[OpResult], float, float]:
    """Closed loop: every client runs its stream (an iterable of ops) until
    it ends or the window of ``seconds`` closes, then finishes the op it
    is in. Returns all op results and the window ``(lo, hi)``."""
    results: list[list[OpResult]] = [[] for _ in clients]
    lo = time.perf_counter()
    hi = lo + seconds

    def loop(i: int) -> None:
        c = clients[i]
        for op in streams[i]:
            if time.perf_counter() >= hi:
                break
            res = OpResult(c.idx, op["kind"], op["template"], time.perf_counter())
            try:
                c.run(op, res)
                res.ok = True
            except Exception as e:  # a failed op is counted, never fatal
                res.error = f"{type(e).__name__}: {e}"[:300]
            res.t1 = time.perf_counter()
            results[i].append(res)

    threads = [threading.Thread(target=loop, args=(i,), name=f"client{i}")
               for i in range(len(clients))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in results for r in rs], lo, hi


def window_rate(results: list[OpResult], lo: float, hi: float) -> float:
    """Completed ops per second in ``[lo, hi)``; an op that straddles an
    edge counts for the share of its run time inside the window."""
    done = sum(max(0.0, min(r.t1, hi) - max(r.t0, lo)) / r.latency
               for r in results if r.ok and r.latency > 0)
    return done / (hi - lo)
