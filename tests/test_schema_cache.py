"""The process-wide parquet/ORC schema cache of ``sources/readers.py``: a
hit launches no Spark job, a changed file or a schema-affecting SQLConf
is a new key, a cached read equals an uncached one, only single local
files are cached, and the cache stays within its bound."""

from __future__ import annotations

import glob
import os
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datafusion_server_spark.sources import readers
from datafusion_server_spark.sources.readers import ReadOptions

_READ = {"parquet": readers.read_parquet, "orc": readers.read_orc}


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_file(spark, df, fmt: str, out_dir: str) -> str:
    """Write ``df`` as one Spark-written file and return its path."""
    df.coalesce(1).write.format(fmt).save(out_dir)
    (path,) = glob.glob(os.path.join(out_dir, f"part-*.{fmt}"))
    return path


def test_hit_launches_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "s": ["x", "y", "z"]}), path)
    first, miss_jobs = _jobs_during(spark, lambda: readers.read_parquet(spark, path, ReadOptions()))
    second, hit_jobs = _jobs_during(spark, lambda: readers.read_parquet(spark, path, ReadOptions()))
    assert miss_jobs >= 1  # the footer inference the cache removes
    assert hit_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_hit_and_miss_counts(spark, tmp_path):
    path = str(tmp_path / "c.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    before = readers.SCHEMA_CACHE.counts()
    readers.read_parquet(spark, path, ReadOptions())
    readers.read_parquet(spark, f"file://{path}", ReadOptions())
    after = readers.SCHEMA_CACHE.counts()
    assert after["miss"] - before["miss"] == 1
    assert after["hit"] - before["hit"] == 1
    # a plain path is a file name, not a URL: '#' does not start a fragment
    odd = str(tmp_path / "d#1.parquet")
    pq.write_table(pa.table({"a": [1]}), odd)
    assert readers._schema_cache_key(spark, "parquet", odd)[1] == odd


def test_replaced_file_yields_new_columns(spark, tmp_path):
    path = str(tmp_path / "r.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert readers.read_parquet(spark, path, ReadOptions()).columns == ["a"]
    staged = str(tmp_path / "r.parquet.new")
    pq.write_table(pa.table({"b": ["p", "q", "r"], "c": [1.5, 2.5, 3.5]}), staged)
    os.replace(staged, path)
    df = readers.read_parquet(spark, path, ReadOptions())
    assert df.columns == ["b", "c"]
    assert sorted((r.b, r.c) for r in df.collect()) == [("p", 1.5), ("q", 2.5), ("r", 3.5)]


def test_schema_affecting_conf_is_part_of_the_key(spark, tmp_path):
    # Spark-written files carry their Spark schema in the footer metadata,
    # which would hide the conf's effect; a pyarrow file does not.
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    plain = readers.read_parquet(spark, path, ReadOptions())
    assert plain.schema["b"].dataType == T.BinaryType()
    other = spark.newSession()
    other.sql("SET spark.sql.parquet.binaryAsString=true")
    as_string = readers.read_parquet(other, path, ReadOptions())
    assert as_string.schema["b"].dataType == T.StringType()
    assert sorted(r.b for r in as_string.collect()) == ["x", "y"]
    # and the default session still reads binary
    assert readers.read_parquet(spark, path, ReadOptions()).schema["b"].dataType == T.BinaryType()


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_cached_read_equals_uncached(spark, tmp_path, fmt):
    src = spark.range(5).selectExpr(
        "id",  # non-nullable in the file
        "IF(id % 2 = 0, NULL, CAST(id AS STRING)) AS s",
        "CAST(id * 1.25 AS DECIMAL(12, 3)) AS d",
        "TIMESTAMP'2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "ARRAY(id, id + 1) AS arr",
        "NAMED_STRUCT('k', id, 'v', CAST(id AS DOUBLE)) AS st",
    )
    path = _spark_file(spark, src, fmt, str(tmp_path / "out"))
    uncached = getattr(spark.read, fmt)(path)
    _READ[fmt](spark, path, ReadOptions())  # miss: fills the cache
    cached, jobs = _jobs_during(spark, lambda: _READ[fmt](spark, path, ReadOptions()))
    assert jobs == 0
    assert cached.schema == uncached.schema
    assert [f.nullable for f in cached.schema] == [f.nullable for f in uncached.schema]
    assert sorted(cached.collect()) == sorted(uncached.collect())


def test_directories_and_remote_stores_are_not_cached(spark, tmp_path):
    out = str(tmp_path / "dir")
    spark.range(3).write.parquet(out)
    before_counts = readers.SCHEMA_CACHE.counts()
    before_len = len(readers.SCHEMA_CACHE)
    assert readers.read_parquet(spark, out, ReadOptions()).count() == 3
    assert readers.read_parquet(spark, f"file://{out}", ReadOptions()).count() == 3
    assert len(readers.SCHEMA_CACHE) == before_len
    assert readers.SCHEMA_CACHE.counts() == before_counts
    assert readers._schema_cache_key(spark, "parquet", out) is None
    for remote in ("s3a://bucket/t.parquet", "hdfs://nn/t.parquet", "gs://b/t.orc",
                   "file://host/t.parquet"):
        assert readers._schema_cache_key(spark, "parquet", remote) is None
    assert readers._schema_cache_key(spark, "parquet", str(tmp_path / "missing.parquet")) is None


def test_failed_inference_is_not_stored(spark, tmp_path):
    path = str(tmp_path / "bad.parquet")
    with open(path, "wb") as f:
        f.write(b"not a parquet file")
    key = readers._schema_cache_key(spark, "parquet", path)
    with pytest.raises(Exception):
        readers.read_parquet(spark, path, ReadOptions())
    assert key not in readers.SCHEMA_CACHE._entries


def test_cache_stays_within_its_bound(spark, tmp_path, monkeypatch):
    assert readers.SCHEMA_CACHE.max_entries == readers.SCHEMA_CACHE_MAX_ENTRIES == 1024
    small = readers.SchemaCache(max_entries=3)
    monkeypatch.setattr(readers, "SCHEMA_CACHE", small)
    paths = []
    for i in range(5):
        p = str(tmp_path / f"n{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), p)
        paths.append(p)
        assert readers.read_parquet(spark, p, ReadOptions()).columns == [f"c{i}"]
        assert len(small) <= 3
    keys = [readers._schema_cache_key(spark, "parquet", p) for p in paths]
    assert keys[0] not in small._entries  # the least recently used went first
    assert keys[-1] in small._entries
    assert small.counts() == {"hit": 0, "miss": 5}


def test_concurrent_lookups_lose_no_update():
    """HTTP handler threads share the cache: with more threads than cores
    and a short switch interval, every lookup is counted and the bound
    holds."""
    cache = readers.SchemaCache(max_entries=16)
    schema = T.StructType([T.StructField("a", T.LongType())])
    n_threads, n_ops = 16, 2000
    sizes_seen = []

    def work(t: int) -> None:
        for i in range(n_ops):
            key = ("parquet", f"/f{(t * 7 + i) % 40}", 1, 1, 1, ())
            if cache.get(key) is None:
                cache.put(key, schema)
            sizes_seen.append(len(cache))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    counts = cache.counts()
    assert counts["hit"] + counts["miss"] == n_threads * n_ops
    assert max(sizes_seen) <= 16 and len(cache) == 16
