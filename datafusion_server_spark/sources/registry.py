"""Data-source dispatch: (format x URI scheme) -> reader, mirroring the
reference's ingestion switch (lib/src/context/session_manager.rs:336-416).

Dispatch policy (same shape as the reference):
- object-store / local **listing** locations (csv/ndjson/parquet/avro on
  file, s3, gs, abfss, wasbs) register LAZY scans — full predicate
  pushdown / column pruning / partition pruning stay available
  (reference A7: object_store/reader.rs:14-134);
- http(s) buffered formats are fetched, staged, and registered eagerly
  (reference concat_batches + register_batch, session.rs:248-253) — the
  registry persists them so repeated queries don't re-fetch;
- delta (+ versionAsOf), flight, jdbc, and plugin schemes dispatch to
  their gated readers.

Scale note: at 100 TB everything flows through the lazy listing path —
the buffered path exists for REST-pushed payloads (bounded by the 20 MB
upload limit, settings.rs:213), exactly like the reference.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from datafusion_server_spark.sources import readers
from datafusion_server_spark.sources.readers import ReadOptions

LISTING_SCHEMES = {"", "file", "s3", "s3a", "gs", "abfss", "wasbs", "hdfs", "webdav"}
_SCHEME_REWRITE = {"s3": "s3a"}  # hadoop connector scheme


class DataSourceError(ValueError):
    pass


@dataclass
class DataSource:
    """Parsed ``dataSources[i]`` request entry
    (reference lib/src/request/body.rs:120-140)."""

    format: str
    name: str
    location: str
    options: ReadOptions
    plugin_options: dict | None = None

    @staticmethod
    def from_json(payload: dict) -> "DataSource":
        fmt = str(payload.get("format", "")).strip().lower()
        if fmt in ("ndjson", "nd_json", "jsonl"):
            fmt = "ndjson"
        name = payload.get("name")
        location = payload.get("location") or payload.get("uri") or ""
        if not fmt or not name:
            raise DataSourceError("dataSource requires 'format' and 'name'")
        opts = ReadOptions.from_json(payload.get("options"))
        if payload.get("schema"):
            opts.schema_json = {"fields": payload["schema"]} if isinstance(
                payload["schema"], list
            ) else payload["schema"]
        return DataSource(fmt, str(name), str(location), opts, payload.get("pluginOptions"))


def _rewrite_scheme(location: str, scheme: str) -> str:
    new = _SCHEME_REWRITE.get(scheme)
    if new:
        return new + location[len(scheme):]
    return location


def load_data_source(spark: SparkSession, ds: DataSource) -> tuple[DataFrame, bool]:
    """Resolve one data source to a DataFrame.

    Returns (df, eager): ``eager`` means the source was buffered from a
    remote/inline payload and should be persisted on registration (the
    reference materializes these; session.rs:248-253).
    """
    scheme = urlparse(ds.location).scheme.lower()
    fmt = ds.format

    # Python connector plugins claim custom schemes (reference A13)
    from datafusion_server_spark.sources import plugins

    if plugins.has_scheme(scheme):
        return plugins.load(spark, ds), True

    if fmt in ("csv", "ndjson", "parquet", "orc", "avro") and scheme in LISTING_SCHEMES:

        def read_listing(location: str, loc_scheme: str) -> tuple[DataFrame, bool]:
            if fmt == "csv":
                return readers.read_csv(spark, location, ds.options), False
            if fmt == "ndjson":
                return readers.read_ndjson(spark, location, ds.options), False
            if fmt == "parquet":
                return readers.read_parquet(spark, location, ds.options), False
            if fmt == "orc":
                return readers.read_orc(spark, location, ds.options), False
            # avro: spark-avro jar first (lazy distributed scan), then the
            # pure-Python OCF fallback for locally readable paths — files
            # OR directories of files (A8, reference reader.rs:114-134);
            # the fallback materializes driver-side, hence eager
            try:
                return spark.read.format("avro").load(location), False
            except Exception as e:  # spark-avro package not on classpath
                local = (
                    urlparse(location).path
                    if loc_scheme == "file"
                    else location if loc_scheme == "" else None
                )
                if local is None or not os.path.exists(local):
                    raise DataSourceError(
                        f"avro reader unavailable (spark-avro jar missing and "
                        f"location not locally readable): {e}"
                    ) from e
                from datafusion_server_spark.sources import avro_py

                paths = (
                    sorted(
                        os.path.join(local, f)
                        for f in os.listdir(local)
                        if not f.startswith((".", "_"))
                    )
                    if os.path.isdir(local)
                    else [local]
                )
                out = None
                for p in paths:
                    with open(p, "rb") as fh:
                        part = avro_py.read_avro(spark, fh.read())
                    out = part if out is None else out.unionByName(part)
                if out is None:
                    raise DataSourceError(f"no avro files under {local!r}")
                return out, True

        if scheme in ("s3", "s3a"):
            # hadoop-aws when present (distributed, pushdown); otherwise
            # the pure-Python SigV4 client stages the objects locally and
            # the normal reader takes over (A7 fallback, s3_py.py) —
            # same execute-without-the-jar contract as avro/delta/pgwire
            try:
                return read_listing(_rewrite_scheme(ds.location, scheme), scheme)
            except Exception as e:
                # stage when the failure is a MISSING JAR, not a data error:
                # hadoop-aws absent (S3AFileSystem/ClassNotFound) or, for
                # avro, spark-avro absent on a non-local location (the
                # wrapped DataSourceError from read_listing) — staging then
                # lets the avro_py local fallback read the staged copies
                missing_jar = (
                    "S3AFileSystem" in str(e)
                    or "ClassNotFoundException" in str(e)
                    or (
                        isinstance(e, DataSourceError)
                        and "not locally readable" in str(e)
                    )
                )
                if not missing_jar:
                    raise
                import tempfile

                from datafusion_server_spark.sources import s3_py

                try:
                    staged = s3_py.stage_prefix(
                        spark,
                        "s3://" + ds.location.split("://", 1)[1],
                        os.path.join(tempfile.gettempdir(), "spark_graft_s3_stage"),
                    )
                except s3_py.S3Error as se:
                    raise DataSourceError(
                        f"s3 read unavailable (hadoop-aws missing and the "
                        f"pure-Python fallback failed: {se})"
                    ) from se
                df, _ = read_listing(staged, "")
                return df, True  # staged copy = buffered source
        return read_listing(_rewrite_scheme(ds.location, scheme), scheme)

    if scheme in ("http", "https"):
        data = readers.fetch(ds.location)
        if fmt == "csv":
            return readers.read_csv(spark, data, ds.options), True
        if fmt == "json":
            return readers.read_json_array(spark, data, ds.options), True
        if fmt == "ndjson":
            return readers.read_ndjson(spark, data, ds.options), True
        if fmt == "parquet":
            return readers.read_parquet(spark, data, ds.options), True
        if fmt == "avro":
            from datafusion_server_spark.sources import avro_py

            return avro_py.read_avro(spark, data), True
        raise DataSourceError(f"format {fmt!r} not supported over http(s)")

    if fmt == "json" and scheme in LISTING_SCHEMES:
        # whole-document JSON array (optionally JSONPath-extracted): the
        # document itself is read locally; rows register eagerly. Only
        # local paths reach read_json_array — a raw s3://... string would
        # otherwise be parsed as the JSON document itself.
        if scheme == "file":
            location = urlparse(ds.location).path
        elif scheme == "":
            location = ds.location
        else:
            raise DataSourceError(
                f"format 'json' (whole-document array) reads local or "
                f"http(s) documents; scheme {scheme!r} is not fetchable "
                f"here — use 'ndjson' for object-store listing reads"
            )
        if not os.path.exists(location):
            raise DataSourceError(f"json document not found: {location}")
        return readers.read_json_array(spark, location, ds.options), True

    if fmt in ("delta", "deltalake"):
        reader = spark.read.format("delta")
        version = ds.options.extra.get("version")
        if version is not None:
            reader = reader.option("versionAsOf", str(version))
        try:
            return reader.load(ds.location), False
        except Exception as e:  # delta-spark not on classpath
            # Pure-Python transaction-log replay fallback (A9, reference
            # deltalake.rs:29-96): local tables only — the snapshot's
            # files still load through the distributed parquet scan.
            local = (
                urlparse(ds.location).path if scheme == "file" else ds.location
                if scheme == "" else None
            )
            if local is None or not os.path.isdir(local):
                raise DataSourceError(
                    f"delta reader unavailable (delta-spark missing and "
                    f"location not a local table): {e}"
                ) from e
            from datafusion_server_spark.sources import delta_py

            try:
                return delta_py.read_delta(
                    spark, local, int(version) if version is not None else None
                ), False
            except delta_py.DeltaProtocolError as pe:
                raise DataSourceError(f"delta reader unavailable: {pe}") from pe

    if fmt == "flight" or scheme in ("grpc", "flight"):
        from datafusion_server_spark.sources import flight_client

        return flight_client.do_get(spark, ds.location, ds.options), True

    if fmt in ("jdbc", "database", "table"):
        from datafusion_server_spark.sources import jdbc

        return jdbc.read_table(spark, ds), False

    raise DataSourceError(f"unsupported (format={fmt!r}, scheme={scheme!r})")


def register(spark: SparkSession, ds: DataSource, *, session=None) -> DataFrame:
    """Load + register under the source name (temp view). Eager/buffered
    sources are persisted — the Spark-safe analog of the reference's
    in-memory concat_batches materialization."""
    df, eager = load_data_source(spark, ds)
    if eager:
        df = df.persist()
    df.createOrReplaceTempView(ds.name)
    if session is not None:
        session.data_sources[ds.name] = {"format": ds.format, "location": ds.location,
                                         "cached": eager}
        session.source_requests[ds.name] = ds
    return df
