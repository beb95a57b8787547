"""Seeded operation sequences for the three workloads.

Everything a run sends is fixed here by ``(seed, workload, client)``:
which templates run, their parameters, which scale's files a one-shot
registers and the rows of each uploaded CSV. The functions are deterministic, so
the same seed always gives the same sequence.

Each op carries the SQL the server receives and the DuckDB SQL (or the
rows) its answer must match.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator

ONESHOT_TABLES = {
    # table: (key column, group column, numeric column, filter thresholds)
    "nation": ("n_nationkey", "n_regionkey", "n_nationkey", range(0, 21, 2)),
    "region": ("r_regionkey", "r_name", "r_regionkey", range(0, 4)),
    "supplier": ("s_suppkey", "s_nationkey", "s_acctbal", range(-500, 9001, 500)),
    "customer": ("c_custkey", "c_mktsegment", "c_acctbal", range(-500, 9001, 500)),
    "part": ("p_partkey", "p_type", "p_retailprice", range(900, 1000, 5)),
}
# (table, its nation/region key, the dimension joined to, dimension key, group column)
ONESHOT_JOINS = (
    ("customer", "c_nationkey", "nation", "n_nationkey", "n_regionkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey", "n_regionkey"),
    ("nation", "n_regionkey", "region", "r_regionkey", "r_name"),
)
SESSION_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events")
ONESHOT_TEMPLATES = ("count", "agg", "join", "filter")
SESSION_TEMPLATES = ("agg", "join", "window", "date_bin", "topk", "distinct")
EXPORT_FORMATS = ("json", "csv", "arrow", "flight")
EXPORT_ORDERKEYS = (2500, 10000, 17500, 25000)  # ~10k, 40k, 70k, 100k rows


def _rng(seed: int, workload: str, client: int) -> random.Random:
    return random.Random(f"{seed}:{workload}:{client}")


def _oracle(sql: str, sources: dict[str, str]) -> str:
    ctes = ", ".join(f"{n} AS (SELECT * FROM read_parquet('{loc}'))"
                     for n, loc in sources.items())
    return f"WITH {ctes} {sql}"


def oneshot_op(rng: random.Random, data: dict[str, str], kind: str,
               shape: str | tuple | None = None) -> dict:
    """One stateless ``/dataframe/query`` of template ``kind``: 1-2
    parquet sources drawn from five small tables at three scales (15
    files). ``data`` maps scale -> directory; ``shape`` (a table, or an
    entry of ``ONESHOT_JOINS``) is drawn from ``rng`` unless given."""
    scales = sorted(data)
    if kind == "join":
        fact, fk, dim, dk, grp = shape or rng.choice(ONESHOT_JOINS)
        src = {"t1": f"{data[rng.choice(scales)]}/{fact}.parquet",
               "t2": f"{data[rng.choice(scales)]}/{dim}.parquet"}
        sql = (f"SELECT d.{grp} AS g, CAST(COUNT(*) AS BIGINT) AS n FROM t1 x "
               f"JOIN t2 d ON x.{fk} = d.{dk} GROUP BY d.{grp}")
    else:
        table = shape or rng.choice(sorted(ONESHOT_TABLES))
        key, grp, num, thresholds = ONESHOT_TABLES[table]
        src = {"t1": f"{data[rng.choice(scales)]}/{table}.parquet"}
        if kind == "count":
            sql = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t1"
        elif kind == "agg":
            sql = (f"SELECT {grp} AS g, CAST(COUNT(*) AS BIGINT) AS n, MIN({num}) AS lo, "
                   f"MAX({num}) AS hi FROM t1 GROUP BY {grp}")
        else:
            sql = (f"SELECT {key} AS k, {num} AS v FROM t1 WHERE {num} >= "
                   f"{rng.choice(thresholds)} ORDER BY {num} DESC, {key} LIMIT 20")
    payload = {
        "dataSources": [{"format": "parquet", "name": n, "location": loc}
                        for n, loc in src.items()],
        "query": sql,
        "response": {"format": "json"},
    }
    return {"kind": "oneshot", "template": kind, "payload": payload,
            "oracle": _oracle(sql, src)}


def oneshot_warmup(data: dict[str, str]) -> list[dict]:
    """One request of every plan shape the one-shot stream can send (each
    template on each table, each join), on the smallest scale."""
    rng = _rng(0, "oneshot/warmup", 0)
    small = {min(data): data[min(data)]}
    ops = [oneshot_op(rng, small, kind, table)
           for table in sorted(ONESHOT_TABLES) for kind in ("count", "agg", "filter")]
    return ops + [oneshot_op(rng, small, "join", join) for join in ONESHOT_JOINS]


def oneshot_stream(seed: int, client: int, data: dict[str, str]) -> Iterator[dict]:
    """Blocks of the four templates, each block in a seeded order, so
    every run sends the same template mix."""
    rng = _rng(seed, "oneshot", client)
    while True:
        block = list(ONESHOT_TEMPLATES)
        rng.shuffle(block)
        for kind in block:
            yield oneshot_op(rng, data, kind)


def _query(rng: random.Random, kind: str) -> tuple[str, str, str]:
    """(template, Spark SQL, DuckDB SQL) of an analytic query over the
    session's sf0.1 tables returning at most 100 rows."""
    if kind == "agg":
        day = f"{rng.randint(1996, 2001)}-{rng.choice(('01', '07'))}-01"
        sql = ("SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS qty, "
               f"CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_shipdate < DATE '{day}' "
               "GROUP BY l_returnflag, l_linestatus")
    elif kind == "join":
        prio = rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        sql = ("SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders, "
               "MAX(o.o_totalprice) AS max_price FROM orders o "
               "JOIN customer c ON o.o_custkey = c.c_custkey "
               "JOIN nation n ON c.c_nationkey = n.n_nationkey "
               f"WHERE o.o_orderpriority = '{prio}' GROUP BY n.n_name")
    elif kind == "window":
        sql = ("SELECT o_custkey, o_orderkey, rk FROM (SELECT o_custkey, o_orderkey, "
               "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, "
               f"o_orderkey) AS rk FROM orders WHERE o_custkey % 499 = {rng.randrange(20)}) t "
               "WHERE rk <= 3")
    elif kind == "date_bin":
        hours = rng.choice((6, 12, 24))
        etype = rng.choice(("click", "error", "purchase", "signup", "view"))
        tail = (f"ts, TIMESTAMP '2024-01-01 00:00:00') AS bucket, CAST(COUNT(*) AS BIGINT) AS n "
                f"FROM events WHERE event_type = '{etype}' AND "
                f"ts < TIMESTAMP '2024-01-0{rng.randint(3, 8)} 00:00:00' GROUP BY 1")
        return (kind, f"SELECT date_bin(INTERVAL '{hours} hours', {tail}",
                f"SELECT time_bucket(INTERVAL '{hours} hours', {tail}")
    elif kind == "topk":
        sql = ("SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS q FROM lineitem "
               f"WHERE l_partkey % 50 = {rng.randrange(50)} GROUP BY l_orderkey "
               "ORDER BY q DESC, l_orderkey LIMIT 50")
    else:
        year = rng.randint(1995, 2000)
        sql = ("SELECT c.c_mktsegment, CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS buyers "
               "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
               f"WHERE o.o_orderdate >= DATE '{year}-01-01' "
               f"AND o.o_orderdate < DATE '{year + 1}-01-01' GROUP BY c.c_mktsegment")
    return kind, sql, sql


def _upload_rows(rng: random.Random) -> list[tuple[int, int, int, float]]:
    return [(i, rng.randrange(25), rng.randint(1, 50), rng.randint(100, 999999) / 100)
            for i in range(rng.randint(1000, 2000))]


def export_op(rng: random.Random, fmt: str, orderkey: int) -> dict:
    sql = ("SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
           f"l_shipdate FROM lineitem WHERE l_orderkey < {orderkey}")
    return {"kind": "export", "template": fmt, "sql": sql, "oracle": sql}


def ingest_op(rng: random.Random, name: str) -> dict:
    return {
        "kind": "ingest", "template": "upload_merge_query", "name": name,
        "rows": _upload_rows(rng),
        "merge": {"mergeProcessors": [{
            "direction": "column", "baseTable": name,
            "targets": [{"table": "nation", "baseKeys": ["r_nationkey"],
                         "targetKeys": ["n_nationkey"]}]}]},
        "sql": (f"SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n, "
                f"CAST(SUM(qty) AS BIGINT) AS q FROM {name} GROUP BY n_regionkey"),
    }


# one period of the stateful mix: 7 queries, 2 exports, 1 ingest, the
# heavy ops spread out so any run of consecutive ops keeps the mix
SESSION_PATTERN = ("export", "query", "query", "ingest", "query",
                   "export", "query", "query", "query", "query")


def session_stream(seed: int, client: int) -> Iterator[dict]:
    """The stateful mix as a cycle of ``SESSION_PATTERN`` entered at a
    per-client phase, so the clients' exports do not line up. A client's
    exports cycle through the four formats and alternate between a size
    ``k`` and ``3 - k`` (sizes 10k + 100k or 40k + 70k rows per pair); the
    query templates cycle in seeded permutations."""
    rng = _rng(seed, "session_mix", client)
    shift = _rng(seed, "session_mix", -1).randrange(len(SESSION_PATTERN))
    phase = (shift + 3 * client) % len(SESSION_PATTERN)
    fstart, k = (shift + client) % 4, rng.randrange(4)
    templates: list[str] = []
    exports = 0
    for i in itertools.count():
        kind = SESSION_PATTERN[(phase + i) % len(SESSION_PATTERN)]
        if kind == "query":
            if not templates:
                templates = rng.sample(SESSION_TEMPLATES, len(SESSION_TEMPLATES))
            template, sql, oracle = _query(rng, templates.pop())
            yield {"kind": "query", "template": template, "sql": sql, "oracle": oracle}
        elif kind == "export":
            size = k if exports % 2 == 0 else 3 - k
            yield export_op(rng, EXPORT_FORMATS[(fstart + exports) % 4],
                            EXPORT_ORDERKEYS[size])
            exports += 1
        else:
            yield ingest_op(rng, f"up_{client}_{i}")


def session_warmup() -> list[dict]:
    """One op of every kind the session stream sends: each query template,
    each export format (smallest size) and one ingest."""
    rng = _rng(0, "session_mix/warmup", 0)
    ops = []
    for template in SESSION_TEMPLATES:
        kind, sql, oracle = _query(rng, template)
        ops.append({"kind": "query", "template": kind, "sql": sql, "oracle": oracle})
    ops += [export_op(rng, fmt, EXPORT_ORDERKEYS[0]) for fmt in EXPORT_FORMATS]
    ops.append(ingest_op(rng, "up_warmup"))
    return ops


def upload_csv(rows: list[tuple[int, int, int, float]]) -> bytes:
    lines = ["r_id,r_nationkey,qty,amount"]
    lines += [f"{a},{b},{c},{d:.2f}" for a, b, c, d in rows]
    return ("\n".join(lines) + "\n").encode()


def batch_stream(seed: int, rows: list[str]) -> Iterator[str]:
    """Passes over the headline rows, each pass in a seeded order."""
    rng = _rng(seed, "batch_headline", 0)
    while True:
        order = list(rows)
        rng.shuffle(order)
        yield from order
