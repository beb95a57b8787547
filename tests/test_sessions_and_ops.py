from __future__ import annotations

import json
import time

import pytest

from datafusion_server_spark.operators import multimodal
from datafusion_server_spark.operators.merge import (
    ColumnMergeTarget,
    MergeProcessor,
    execute_merge,
    merge_column,
    merge_row,
)
from datafusion_server_spark.session import SessionManager


def test_session_isolation(spark):
    mgr = SessionManager(spark)
    s1 = mgr.create("iso1")
    s2 = mgr.create("iso2")
    s1.register("t", s1.spark.createDataFrame([(1,)], ["a"]))
    # temp views are per-newSession: s2 must not see s1's table
    with pytest.raises(Exception):
        s2.spark.table("t").collect()
    mgr.delete("iso1")
    mgr.delete("iso2")


# (state client A leaves behind, client B's probe of it): B's probe must
# see the session default, never A's change
_SESSION_STATE_LEAKS = {
    "temp_view": (
        "CREATE OR REPLACE TEMPORARY VIEW leak AS SELECT 42 AS secret",
        "SELECT secret FROM leak",
    ),
    "sql_conf": (
        "SET spark.sql.shuffle.partitions=3",
        "SET spark.sql.shuffle.partitions",
    ),
    "temp_function": (
        "CREATE OR REPLACE TEMPORARY FUNCTION regexp_match(s STRING, p STRING) "
        "RETURNS ARRAY<STRING> RETURN array('hijacked')",
        "SELECT regexp_match('abc', '(b)') AS m",
    ),
}
_SESSION_DEFAULTS = {
    "temp_view": None,  # the view does not resolve
    "sql_conf": [{"key": "spark.sql.shuffle.partitions", "value": "8"}],
    "temp_function": [{"m": ["b"]}],  # the dialect shim's first match
}


def _probe(run, sql: str):
    """JSON rows of ``run(sql)``, or None when the statement fails."""
    try:
        body, _ = run(sql)
    except Exception:
        return None
    return json.loads(body)


@pytest.mark.parametrize("leak", sorted(_SESSION_STATE_LEAKS))
def test_stateless_oneshot_isolation(spark, leak):
    """Two consecutive stateless one-shots: whatever client A's SQL did
    to its session (temp view, SQLConf, temp function) is invisible to
    client B's one-shot."""
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    statement, probe = _SESSION_STATE_LEAKS[leak]

    def oneshot(sql):
        return engine.dataframe_query({"query": sql, "response": {"format": "json"}})

    oneshot(statement)
    assert _probe(oneshot, probe) == _SESSION_DEFAULTS[leak]


@pytest.mark.parametrize("leak", sorted(_SESSION_STATE_LEAKS))
def test_named_session_isolation(spark, leak):
    """A named session that changed its state and was deleted leaves
    nothing behind for the next session created."""
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    statement, probe = _SESSION_STATE_LEAKS[leak]
    engine.session_create("iso_a", 600)
    engine.session_query("iso_a", statement)
    # the probe does see the change inside the session that made it
    assert _probe(lambda sql: engine.session_query("iso_a", sql), probe) != (
        _SESSION_DEFAULTS[leak]
    )
    engine.sessions.delete("iso_a")
    engine.session_create("iso_b", 600)
    try:
        got = _probe(lambda sql: engine.session_query("iso_b", sql), probe)
    finally:
        engine.sessions.delete("iso_b")
    assert got == _SESSION_DEFAULTS[leak]


def test_session_ttl_reap(spark):
    mgr = SessionManager(spark)
    s = mgr.create("shortlived", keep_alive_s=0)
    time.sleep(0.05)
    assert mgr.reap() == ["shortlived"]
    with pytest.raises(KeyError):
        mgr.get("shortlived")


def test_reaper_unpersists_cached_sources_and_reports_duration(spark):
    """TTL expiry must free the storage of cached session sources
    (close() -> remove() -> unpersist()) and report the session's
    lifetime through the on_close hook — the reaper is the only exit
    path for abandoned sessions, so a leak here grows forever."""
    jsc = spark.sparkContext._jsc.sc()
    mgr = SessionManager(spark)
    durations = []
    mgr.on_close = lambda sess: durations.append(time.time() - sess.created_at)
    s = mgr.create("cachedttl", keep_alive_s=0)
    before = jsc.getPersistentRDDs().size()
    df = s.spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    s.register("cached_src", df, cache=True, info={"format": "memory"})
    s.spark.table("cached_src").count()  # materialize the cache
    assert jsc.getPersistentRDDs().size() == before + 1
    time.sleep(0.05)
    assert mgr.reap() == ["cachedttl"]
    assert jsc.getPersistentRDDs().size() == before, "reaper leaked cached storage"
    assert len(durations) == 1 and durations[0] >= 0.05


def test_session_duplicate_id(spark):
    mgr = SessionManager(spark)
    mgr.create("dup")
    with pytest.raises(ValueError):
        mgr.create("dup")
    mgr.delete("dup")


def test_merge_column_collision_aliasing(spark):
    base = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["key", "name", "ref"])
    tgt = spark.createDataFrame([(10, "X"), (20, "Y")], ["key", "name"])
    spec = ColumnMergeTarget(table="tgt", base_keys=["ref"], target_keys=["key"])
    out = merge_column(base, [(tgt, spec)])
    # target key dropped; colliding 'name' renamed to tgt_name
    assert out.columns == ["key", "name", "ref", "tgt_name"]
    rows = {r["key"]: r for r in out.collect()}
    assert rows[1]["tgt_name"] == "X"


def test_merge_column_multi_target(spark):
    base = spark.createDataFrame([(1, 100)], ["id", "x"])
    t1 = spark.createDataFrame([(1, "p")], ["id", "v1"])
    t2 = spark.createDataFrame([(1, "q")], ["id", "v2"])
    out = merge_column(
        base,
        [
            (t1, ColumnMergeTarget("t1", ["id"], ["id"])),
            (t2, ColumnMergeTarget("t2", ["id"], ["id"])),
        ],
    )
    assert out.collect()[0].asDict() == {"id": 1, "x": 100, "v1": "p", "v2": "q"}


def test_merge_row_distinct(spark):
    a = spark.createDataFrame([(1,), (2,)], ["v"])
    b = spark.createDataFrame([(2,), (3,)], ["v"])
    assert merge_row(a, [b]).count() == 4
    assert merge_row(a, [b], distinct=True).count() == 3


def test_execute_merge_reregisters(spark):
    spark.createDataFrame([(1, "x")], ["k", "v"]).createOrReplaceTempView("mbase")
    spark.createDataFrame([(1, 9)], ["k", "w"]).createOrReplaceTempView("mtgt")
    proc = MergeProcessor.from_json(
        {
            "direction": "column",
            "baseTable": "mbase",
            "targets": [{"table": "mtgt", "baseKeys": ["k"], "targetKeys": ["k"]}],
        }
    )
    execute_merge(spark, proc, materialize=False)
    assert spark.table("mbase").columns == ["k", "v", "w"]


def test_execute_merge_unpersists_previous_cached_plan(spark):
    """Repeated materialized merges on one base table must not pin one
    cached plan per invocation (ADVICE r2: same leak class as the INSERT
    shim)."""
    spark.createDataFrame([(1, "x")], ["k", "v"]).createOrReplaceTempView("mleak")
    spark.createDataFrame([(1, 9)], ["k", "w1"]).createOrReplaceTempView("mt1")
    spark.createDataFrame([(1, 8)], ["k", "w2"]).createOrReplaceTempView("mt2")

    def proc(t):
        return MergeProcessor.from_json(
            {
                "direction": "column",
                "baseTable": "mleak",
                "targets": [{"table": t, "baseKeys": ["k"], "targetKeys": ["k"]}],
            }
        )

    m1 = execute_merge(spark, proc("mt1"), materialize=True)
    m1.count()
    assert m1.storageLevel.useMemory
    m2 = execute_merge(spark, proc("mt2"), materialize=True)
    m2.count()
    # the first merge's cached plan is released once superseded
    assert not m1.storageLevel.useMemory, "previous merge plan still cached"
    assert m2.storageLevel.useMemory
    assert spark.table("mleak").columns == ["k", "v", "w1", "w2"]
    m2.unpersist()
    for v in ("mleak", "mt1", "mt2"):
        spark.catalog.dropTempView(v)


def test_arrow_ipc_chunks_respects_max_records_per_batch(spark):
    import io

    import pyarrow as pa

    from datafusion_server_spark.server import encoders

    df = spark.range(0, 1000, 1, 2)
    data = b"".join(encoders.arrow_ipc_chunks(df, max_records_per_batch=100))
    with pa.ipc.open_stream(io.BytesIO(data)) as reader:
        batches = list(reader)
    assert sum(b.num_rows for b in batches) == 1000
    assert max(b.num_rows for b in batches) <= 100


def test_merge_processor_validation():
    with pytest.raises(ValueError):
        MergeProcessor.from_json(
            {
                "direction": "column",
                "baseTable": "b",
                "targets": [{"table": "t", "baseKeys": ["a", "b"], "targetKeys": ["x"]}],
            }
        )
    with pytest.raises(ValueError):
        MergeProcessor.from_json({"direction": "diagonal", "baseTable": "b"})


def test_multimodal_plumbing(spark, sf_dir):
    from datafusion_server_spark import tables

    docs = tables.load(spark, sf_dir, "documents").limit(20)
    media = multimodal.attach_binary_payload(docs, "text", "doc_id")
    assert dict(media.dtypes) == {
        "media_id": "bigint",
        "payload": "binary",
        "media_type": "string",
    }
    decoded = multimodal.decode_metadata(media)
    rows = decoded.collect()
    assert len(rows) == 20
    r = rows[0].asDict()
    assert r["format"] == "fake" and r["n_bytes"] > 0
    assert 1 <= r["width"] <= 1024

    frames = multimodal.frame_sample_plan(media)
    assert frames.count() >= 20  # at least one frame per doc


def test_multimodal_real_header_decode(spark, tmp_path):
    """The decode stage parses REAL container headers (pure struct, no
    media libs): PNG/GIF/BMP/JPEG dimensions, WAV audio properties."""
    import io
    import struct
    import wave

    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I4sII5B", 13, b"IHDR", 640, 480, 8, 2, 0, 0, 0)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 8
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0
        + b"\xff\xc0" + struct.pack(">HBHH", 17, 8, 1080, 1920) + b"\x00" * 10  # SOF0
    )
    wav_buf = io.BytesIO()
    with wave.open(wav_buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(b"\x00\x00" * 2 * 44100)  # 1 second stereo
    wav = wav_buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, bytearray(png), "image/png"),
            (2, bytearray(gif), "image/gif"),
            (3, bytearray(bmp), "image/bmp"),
            (4, bytearray(jpeg), "image/jpeg"),
            (5, bytearray(wav), "audio/wav"),
            (6, bytearray(b"plain text, not media"), "text/plain"),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r.asDict() for r in multimodal.decode_metadata(media).collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("png", 640, 480)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"]) == ("gif", 320, 200)
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"]) == ("bmp", 800, 600)
    assert (rows[4]["format"], rows[4]["width"], rows[4]["height"]) == ("jpeg", 1920, 1080)
    assert rows[5]["format"] == "wav"
    assert rows[5]["channels"] == 2 and rows[5]["sample_rate"] == 44100
    assert abs(rows[5]["duration_ms"] - 1000) <= 1
    # silent wav (all-zero samples): real decode yields exact zeros
    assert rows[5]["value_mean"] == 0.0 and rows[5]["value_rms"] == 0.0
    assert rows[6]["format"] == "fake"  # unrecognized -> synthetic fallback


def test_multimodal_real_content_stats(spark):
    """BMP pixels and WAV PCM samples decode for REAL (stdlib struct/
    array): value_mean/value_rms match hand-computed stats of the bytes
    we put in."""
    from datafusion_server_spark.operators.multimodal import (
        _make_bmp,
        _make_wav,
        decode_media,
    )

    seed = bytes(range(256))
    bmp = _make_bmp(seed, width=16, height=4)
    meta = decode_media(bmp)
    # pixel bytes are seed[0:192] (16*3 row bytes * 4 rows)
    vals = [seed[i % 256] for i in range(16 * 3 * 4)]
    want_mean = sum(vals) / len(vals) / 255.0
    want_rms = (sum(v * v for v in vals) / len(vals)) ** 0.5 / 255.0
    assert meta["format"] == "bmp"
    assert abs(meta["value_mean"] - want_mean) < 1e-6
    assert abs(meta["value_rms"] - want_rms) < 1e-6

    wav = _make_wav(seed, n_samples=64)
    meta = decode_media(wav)
    samples = [(seed[i % 256] - 128) * 256 for i in range(64)]
    want_mean = sum(samples) / len(samples) / 32768.0
    want_rms = (sum(s * s for s in samples) / len(samples)) ** 0.5 / 32768.0
    assert meta["format"] == "wav"
    assert abs(meta["value_mean"] - want_mean) < 1e-6
    assert abs(meta["value_rms"] - want_rms) < 1e-6

    # jpeg header without scan data stays null
    jpeg = b"\xff\xd8\xff\xc0" + bytes(20)
    assert decode_media(jpeg)["value_mean"] is None


def test_jpeg_baseline_decode_roundtrip(spark):
    """The pure-stdlib baseline JPEG decoder (huffman + IDCT) recovers
    the encoded pixels: with a flat quant table the only loss is DCT
    rounding, so every pixel must land within a few levels and the
    mean/RMS within ~1/255 of the source."""
    from datafusion_server_spark.operators import jpeg_py

    w = h = 16
    src = [(x * 13 + y * 31) % 256 for y in range(h) for x in range(w)]
    data = jpeg_py.encode_baseline_grayscale(src, w, h)
    gw, gh, planes = jpeg_py.decode_baseline(data)
    assert (gw, gh) == (w, h) and len(planes) == 1
    got = planes[0]
    assert max(abs(a - b) for a, b in zip(got, src)) <= 4
    mean_err = abs(sum(got) / len(got) - sum(src) / len(src))
    assert mean_err < 1.0

    # 3-component 4:4:4 with neutral chroma: RGB must equal Y (±rounding)
    color = jpeg_py.encode_baseline_ycc444(src, w, h)
    gw, gh, planes = jpeg_py.decode_baseline(color)
    assert (gw, gh) == (w, h) and len(planes) == 3
    for plane in planes:
        assert max(abs(a - b) for a, b in zip(plane, src)) <= 5

    # progressive SOF2 refuses rather than mis-decoding
    prog = bytearray(data)
    idx = prog.index(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    import pytest as _pytest

    with _pytest.raises(jpeg_py.JpegError, match="non-baseline"):
        jpeg_py.decode_baseline(bytes(prog))


def test_jpeg_malformed_and_oversized_degrade_to_null(spark):
    """Corrupt streams (bad SOS component id, zero sampling factor) and
    images beyond the decode pixel cap degrade to header-only metadata —
    never a task-crashing exception, never wrong values."""
    from datafusion_server_spark.operators import jpeg_py
    from datafusion_server_spark.operators.multimodal import decode_media

    w = h = 16
    src = [0] * (w * h)
    data = bytearray(jpeg_py.encode_baseline_grayscale(src, w, h))
    # corrupt the SOS component selector (id 1 -> 9): StopIteration class
    sos = data.index(b"\xff\xda")
    data[sos + 5] = 9
    meta = decode_media(bytes(data))
    assert meta["format"] == "jpeg" and meta["value_mean"] is None

    # zero sampling factor in SOF: ZeroDivisionError class
    data = bytearray(jpeg_py.encode_baseline_grayscale(src, w, h))
    sof = data.index(b"\xff\xc0")
    data[sof + 11] = 0x00  # h/v sampling nibbles both 0
    meta = decode_media(bytes(data))
    assert meta["value_mean"] is None

    # oversized dimensions skip content decode (header metadata intact)
    data = bytearray(jpeg_py.encode_baseline_grayscale(src, w, h))
    import struct as _s

    data[sof + 5 : sof + 9] = _s.pack(">HH", 4000, 6000)
    meta = decode_media(bytes(data))
    assert (meta["width"], meta["height"]) == (6000, 4000)
    assert meta["value_mean"] is None


def test_jpeg_stats_through_decode_media(spark):
    """decode_media now carries REAL value stats for baseline JPEGs —
    the former honest stub (jpeg pixels) is closed; only the embedding
    model remains synthetic."""
    from datafusion_server_spark.operators import jpeg_py
    from datafusion_server_spark.operators.multimodal import decode_media

    w = h = 16
    src = [(x * 7 + y * 3) % 256 for y in range(h) for x in range(w)]
    meta = decode_media(jpeg_py.encode_baseline_grayscale(src, w, h))
    assert meta["format"] == "jpeg" and (meta["width"], meta["height"]) == (w, h)
    want_mean = sum(src) / len(src) / 255.0
    want_rms = (sum(v * v for v in src) / len(src)) ** 0.5 / 255.0
    assert abs(meta["value_mean"] - want_mean) < 0.005
    assert abs(meta["value_rms"] - want_rms) < 0.005


def test_multimodal_bmp_palette_and_bgra(spark):
    """8-bit BMP stats map through the COLOR TABLE (indices are not
    values), and 32-bit BGRA stats exclude the alpha/reserved byte."""
    import struct

    from datafusion_server_spark.operators.multimodal import decode_media

    def make_bmp(bpp, width, height, palette, pixels):
        pal = b"".join(palette)
        pixel_off = 14 + 40 + len(pal)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(pixels), 2835, 2835,
            len(palette), 0,
        )
        head = b"BM" + struct.pack("<IHHI", pixel_off + len(pixels), 0, 0, pixel_off)
        return head + dib + pal + pixels

    # 8-bit: 4 palette entries with DISTINCT colors; reserved byte 0xFF
    # must not leak into the stats
    palette = [bytes([i * 10, i * 20, i * 30, 0xFF]) for i in range(4)]
    bmp8 = make_bmp(8, 4, 1, palette, bytes([0, 1, 2, 3]))
    meta = decode_media(bmp8)
    vals = [c for i in range(4) for c in (i * 10, i * 20, i * 30)]
    assert abs(meta["value_mean"] - sum(vals) / len(vals) / 255.0) < 1e-6
    assert abs(
        meta["value_rms"] - (sum(v * v for v in vals) / len(vals)) ** 0.5 / 255.0
    ) < 1e-6

    # 32-bit BGRA: alpha 0xFF everywhere; stats must cover B,G,R only
    px = bytes([10, 20, 30, 0xFF, 40, 50, 60, 0xFF])
    meta = decode_media(make_bmp(32, 2, 1, [], px))
    vals = [10, 20, 30, 40, 50, 60]
    assert abs(meta["value_mean"] - sum(vals) / len(vals) / 255.0) < 1e-6

    # an out-of-palette index refuses rather than inventing values
    bad = make_bmp(8, 2, 1, palette[:2], bytes([0, 3]))
    assert decode_media(bad)["value_mean"] is None


def test_multimodal_png_pixel_decode(spark):
    """Non-interlaced 8-bit PNG pixels decode for REAL: stdlib zlib
    inflate + per-row defilter (incl. Sub/Up/Paeth) reproduces the exact
    pixel bytes we encoded."""
    import struct
    import zlib

    from datafusion_server_spark.operators.multimodal import decode_media

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    w, h = 5, 4
    pixels = [[((x * 37 + y * 91) % 256, (x * 3) % 256, (y * 7) % 256) for x in range(w)] for y in range(h)]

    def encode_rows() -> bytes:
        # exercise every filter type the decoder implements
        filters = [0, 1, 2, 4]
        out = b""
        prev = bytes(w * 3)
        for y, f in zip(range(h), filters):
            raw = b"".join(bytes(p) for p in pixels[y])
            if f == 0:
                enc = raw
            elif f == 1:
                enc = bytes((raw[i] - (raw[i - 3] if i >= 3 else 0)) & 0xFF for i in range(len(raw)))
            elif f == 2:
                enc = bytes((raw[i] - prev[i]) & 0xFF for i in range(len(raw)))
            else:  # paeth
                enc = bytearray()
                for i in range(len(raw)):
                    a = raw[i - 3] if i >= 3 else 0
                    up = prev[i]
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else up if pb <= pc else c
                    enc.append((raw[i] - pred) & 0xFF)
                enc = bytes(enc)
            out += bytes([f]) + enc
            prev = raw
        return out

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(encode_rows()))
        + chunk(b"IEND", b"")
    )
    meta = decode_media(png)
    assert (meta["format"], meta["width"], meta["height"]) == ("png", 5, 4)
    vals = [v for row in pixels for p in row for v in p]
    want_mean = sum(vals) / len(vals) / 255.0
    want_rms = (sum(v * v for v in vals) / len(vals)) ** 0.5 / 255.0
    assert abs(meta["value_mean"] - want_mean) < 1e-6
    assert abs(meta["value_rms"] - want_rms) < 1e-6


def test_multimodal_synthesized_pipeline(spark, sf_dir):
    """End-to-end: text fixture -> genuine BMP/WAV payloads -> real
    content decode; every bmp/wav row carries non-null value stats."""
    from datafusion_server_spark import tables

    docs = tables.load(spark, sf_dir, "documents").limit(30)
    media = multimodal.synthesize_media_payloads(docs, "text", "doc_id")
    decoded = multimodal.decode_metadata(media)
    rows = decoded.collect()
    by_fmt = {}
    for r in rows:
        by_fmt.setdefault(r["format"], []).append(r)
    assert set(by_fmt) == {"bmp", "wav", "fake"}
    for r in by_fmt["bmp"] + by_fmt["wav"]:
        assert r["value_mean"] is not None and r["value_rms"] is not None
        assert 0.0 <= r["value_rms"] <= 1.0
    for r in by_fmt["fake"]:
        assert r["value_mean"] is None


def test_engine_refresh(spark, tmp_path):
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    engine.session_create("rf", 600)
    p = tmp_path / "r.csv"
    p.write_bytes(b"a\n1\n")
    engine.session_add_datasource(
        "rf", {"format": "csv", "name": "rt", "location": str(p)}
    )
    sess = engine.sessions.get("rf")
    assert sess.spark.table("rt").count() == 1
    p.write_bytes(b"a\n1\n2\n")
    engine.refresh_data_source("rf", "rt")
    assert sess.spark.table("rt").count() == 2
    # a parquet rewrite that changes the schema: refresh goes through the
    # schema cache and must see the new file version, not the cached one
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pp = str(tmp_path / "r.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), pp)
    engine.session_add_datasource(
        "rf", {"format": "parquet", "name": "rp", "location": pp}
    )
    assert sess.spark.table("rp").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), pp + ".new")
    os.replace(pp + ".new", pp)
    engine.refresh_data_source("rf", "rp")
    assert sess.spark.table("rp").columns == ["a", "b"]
    assert sorted(tuple(r) for r in sess.spark.table("rp").collect()) == [
        (1, "x"), (2, "y"), (3, "z")
    ]
    engine.sessions.delete("rf")


def test_engine_refresh_keeps_source_options(spark, tmp_path):
    """Refresh re-registers from the original request entry: a CSV with a
    custom delimiter, no header row and an explicit schema keeps all three,
    and the session detail keeps its shape."""
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    engine.session_create("rfo", 600)
    p = tmp_path / "o.csv"
    p.write_bytes(b"1;x\n2;y\n")
    engine.session_add_datasource("rfo", [
        {"format": "csv", "name": "plain", "location": str(p),
         "options": {"delimiter": ";", "hasHeader": False}},
        {"format": "csv", "name": "typed", "location": str(p),
         "options": {"delimiter": ";", "hasHeader": False},
         "schema": [{"name": "k", "dataType": "Int64"},
                    {"name": "v", "dataType": "String"}]},
    ])
    sess = engine.sessions.get("rfo")
    before = engine.session_detail("rfo")
    p.write_bytes(b"1;x\n2;y\n3;z\n")
    for name in ("plain", "typed"):
        engine.refresh_data_source("rfo", name)
    assert sess.spark.table("plain").columns == ["_c0", "_c1"]
    assert sess.spark.table("plain").count() == 3
    rows = sess.spark.table("typed").orderBy("k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, "x"), (2, "y"), (3, "z")]
    after = engine.session_detail("rfo")
    assert after["dataSources"] == before["dataSources"]
    assert set(after["dataSources"]["typed"]) == {"format", "location", "cached", "schema"}
    engine.sessions.delete("rfo")


def test_insert_into_session_view(spark, tmp_path):
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    engine.session_create("ins", 600)
    p = tmp_path / "i.csv"
    p.write_bytes(b"a,b\n1,x\n")
    engine.session_add_datasource("ins", {"format": "csv", "name": "it", "location": str(p)})
    sess = engine.sessions.get("ins")
    out = engine._query(sess, "INSERT INTO it VALUES (2, 'y'), (3, 'z')")
    assert out.collect()[0]["inserted_rows"] == 2
    rows = engine._query(sess, "SELECT * FROM it ORDER BY a").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "x"), (2, "y"), (3, "z")]
    # INSERT INTO ... SELECT
    engine._query(sess, "INSERT INTO it SELECT a + 10, b FROM it")
    assert engine._query(sess, "SELECT COUNT(*) AS n FROM it").collect()[0]["n"] == 6
    engine.sessions.delete("ins")


def test_insert_unpersists_previous_cache(spark, tmp_path):
    """Each INSERT re-registers a persisted union; the PREVIOUS insert's
    persisted plan must be unpersisted or a long-lived session pins one
    cached plan per INSERT."""
    from datafusion_server_spark.server.api import Engine

    engine = Engine(spark, start_reaper=False)
    engine.session_create("insleak", 600)
    p = tmp_path / "leak.csv"
    p.write_bytes(b"a\n1\n")
    engine.session_add_datasource(
        "insleak", {"format": "csv", "name": "lt", "location": str(p)}
    )
    sess = engine.sessions.get("insleak")

    def materialized_rdds() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = materialized_rdds()
    for i in range(3):
        engine._query(sess, f"INSERT INTO lt VALUES ({i + 10})").collect()
        # force materialization of the current persisted view plan
        engine._query(sess, "SELECT COUNT(*) AS n FROM lt").collect()
    # only the CURRENT union may stay cached; the two earlier ones are freed
    assert materialized_rdds() - base <= 1
    assert engine._query(sess, "SELECT COUNT(*) AS n FROM lt").collect()[0]["n"] == 4
    engine.sessions.delete("insleak")


def test_multimodal_feature_extraction_deterministic(spark, sf_dir):
    from datafusion_server_spark import tables

    docs = tables.load(spark, sf_dir, "documents").limit(5)
    media = multimodal.attach_binary_payload(docs, "text", "doc_id")
    f1 = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    f2 = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert f1 == f2
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1.values())
    assert all(-0.5 <= x <= 0.5 for v in f1.values() for x in v)


def test_ngram_jaccard_df_cap(spark):
    """Shingles above the document-frequency cap neither pair documents
    nor count toward sizes; identical docs sharing only rare shingles
    score 1.0."""
    from datafusion_server_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "the quick brown fox jumps"  # shared by ALL docs -> df=4
    rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, f"{boiler} alpha beta gamma delta"),  # exact dup of 1
        (3, f"{boiler} epsilon zeta eta theta"),
        (4, f"{boiler} iota kappa lam mu"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.0, max_shingle_df=3
    ).collect()
    # boilerplate trigrams (df=4 > cap) pair nobody; docs 1/2 share all
    # their rare shingles -> jaccard 1.0; 3 and 4 share only boilerplate
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs == {(1, 2): 1.0}
    row = out[0]
    # sizes count only rare shingles: 9 words + boiler tail overlap ->
    # trigrams fully inside the boilerplate are excluded
    assert row.n_a == row.n_b == row.n_common


def test_streaming_dedup_within_watermark_matches_distinct(spark, sf_dir):
    from datafusion_server_spark.streaming.dedup import dedup_event_keys

    got = dedup_event_keys(spark, f"{sf_dir}/events.parquet")
    from datafusion_server_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    expect = ev.select("user_id", "event_type").distinct()
    assert got.count() == expect.count()
    assert got.exceptAll(expect.selectExpr("CAST(user_id AS BIGINT)", "event_type")).count() == 0
