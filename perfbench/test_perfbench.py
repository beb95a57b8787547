"""Self-tests of the benchmark (no Spark needed).

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import itertools
import json
import os

import pyarrow as pa
import pytest

from perfbench import workloads
from perfbench.check import Checker
from perfbench.report import LAYER_UNITS, serving_layers
from perfbench.trace import Span, Tracer, self_times, sum_by_name

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = {"0.001": "/d/sf0.001", "0.01": "/d/sf0.01", "0.1": "/d/sf0.1"}


def _take(stream, n=40):
    return [json.dumps(op, sort_keys=True) for op in itertools.islice(stream, n)]


@pytest.mark.parametrize("make", [
    lambda seed: workloads.oneshot_stream(seed, 1, DATA),
    lambda seed: workloads.session_stream(seed, 1),
    lambda seed: workloads.batch_stream(seed, [f"row{i}" for i in range(16)]),
])
def test_seed_fixes_the_op_sequence(make):
    assert _take(make(7)) == _take(make(7))
    assert _take(make(7)) != _take(make(8))


def test_session_mix_keeps_the_mix_in_any_ten_ops():
    for seed in (1, 2, 3):
        for client in range(4):
            ops = list(itertools.islice(workloads.session_stream(seed, client), 40))
            for i in range(len(ops) - 10):
                kinds = [op["kind"] for op in ops[i:i + 10]]
                assert (kinds.count("query"), kinds.count("export"),
                        kinds.count("ingest")) == (7, 2, 1)
            exports = [op for op in ops if op["kind"] == "export"]
            # consecutive exports pair a small and a large size, and cycle formats
            keys = [int(op["sql"].rsplit("< ", 1)[1]) for op in exports]
            assert {a + b for a, b in zip(keys[::2], keys[1::2])} == {27500}
            assert {op["template"] for op in exports[:4]} == set(workloads.EXPORT_FORMATS)


def _span(i, parent, t0, t1, name="x"):
    return Span(i, parent, name, "r", t0, t1)


def test_self_time_on_a_hand_built_tree():
    spans = [
        _span(1, None, 0.0, 10.0, "http"),
        _span(2, 1, 1.0, 4.0, "api"),        # child of http
        _span(3, 2, 1.5, 2.5, "register"),   # grandchild
        _span(4, 1, 3.0, 6.0, "api"),        # overlaps span 2 on [3, 4]
        _span(5, 1, 9.0, 12.0, "encode"),    # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (6 - 1) - (10 - 9))  # union [1,6] + [9,10]
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)
    assert st[5] == pytest.approx(3)
    assert sum_by_name(spans, st) == pytest.approx(
        {"http": 4, "api": 5, "register": 1, "encode": 3})


def test_tracer_nests_and_iterates():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer()
    t.wrap(Layer, "outer", "outer")
    t.wrap(Layer, "inner", "inner")
    root = t.start("root", rid="req-1")
    assert Layer().outer() == 2
    assert list(t.iterate(iter([1, 2]), "step", root)) == [1, 2]
    t.finish(root)
    by_name = {s.name: s for s in t.spans}
    assert by_name["outer"].parent == root.id
    assert by_name["inner"].parent == by_name["outer"].id
    assert {s.rid for s in t.spans} == {"req-1"}
    assert [s.name for s in t.spans].count("step") == 3  # two items and the stop


def test_layer_sum_matches_the_op_latency():
    class Res:
        def __init__(self):
            self.requests = [("c0-1", 0.0, 1.0)]
            self.latency = 1.1
            self.bytes_in = 10

    t = Tracer()
    http = t.start("server.http", rid="c0-1")
    http.t0, http.t1 = 0.1, 0.9
    doc = {"spans": [[s.id, s.parent, s.name, s.rid, s.t0, s.t1, s.attrs] for s in t.spans],
           "jobs": {"c0-1": [2, 3, 4]}}
    out = serving_layers(doc, [Res()])
    assert out["server.http.self_s"] == pytest.approx(0.8)
    assert out["server.http.queue_wait_s"] == pytest.approx(0.2)
    assert out["client.gap_s"] == pytest.approx(0.1)
    assert out["trace.coverage"] == pytest.approx(1.0)
    assert out["spark.tasks_per_op"] == 4
    assert set(out) == set(LAYER_UNITS)


@pytest.fixture()
def checker(tmp_path):
    c = Checker(str(tmp_path))
    yield c
    c.close()


EXPECTED_SQL = ("SELECT * FROM (VALUES (1, 'a', 2.5, TIMESTAMP '2024-01-01 06:00:00'), "
                "(2, 'b', 3.0, TIMESTAMP '2024-01-02 00:00:00')) t(k, name, v, ts)")
ROWS = [{"k": 1, "name": "a", "v": 2.5, "ts": "2024-01-01T06:00:00+00:00"},
        {"k": 2, "name": "b", "v": 3.0, "ts": "2024-01-02T00:00:00+00:00"}]


def _csv(rows):
    cols = list(rows[0])
    lines = [",".join(cols)] + [
        ",".join(str(r[c]).replace("T", " ") if c == "ts" else str(r[c]) for c in cols)
        for r in rows]
    return ("\n".join(lines) + "\n").encode()


def _arrow(rows):
    import datetime as dt

    tbl = pa.table({
        "k": [r["k"] for r in rows], "name": [r["name"] for r in rows],
        "v": [r["v"] for r in rows],
        "ts": pa.array([dt.datetime.fromisoformat(r["ts"]) for r in rows],
                       pa.timestamp("us", tz="UTC")),
    })
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue()


def test_formats_and_row_order_do_not_change_the_digest(checker):
    want = checker.digest_sql(EXPECTED_SQL)
    assert checker.digest_body(json.dumps(ROWS).encode(), "json") == want
    assert checker.digest_body(json.dumps(ROWS[::-1]).encode(), "json") == want
    assert checker.digest_body(_csv(ROWS), "csv") == want
    assert checker.digest_body(_arrow(ROWS), "arrow") == want


@pytest.mark.parametrize("corrupt", [
    lambda rows: [dict(rows[0], v=2.51), rows[1]],             # one value off
    lambda rows: [dict(rows[0], name="A"), rows[1]],           # one string changed
    lambda rows: [dict(rows[0], ts="2024-01-01T07:00:00+00:00"), rows[1]],
    lambda rows: rows[:1],                                     # a row lost
    lambda rows: rows + rows[:1],                              # a row duplicated
    lambda rows: [{("key" if c == "k" else c): x for c, x in r.items()} for r in rows],
])
def test_a_corrupted_response_is_caught(checker, corrupt):
    want = checker.digest_sql(EXPECTED_SQL)
    bad = corrupt([dict(r) for r in ROWS])
    assert checker.digest_body(json.dumps(bad).encode(), "json") != want
    assert checker.digest_body(_csv(bad), "csv") != want


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == ["oneshot", "session_mix",
                                                       "batch_headline"]
