"""Python post-processors: whole-result transforms applied after SQL
(reference A17: lib/src/plugin/exec_processor.rs:11-35 — result batches
are concatenated to ONE batch, passed to Python ``main(record_batch,
**kwargs)``, chained in request order).

Two execution modes:
- ``apply_local``: exact reference semantics — collect to a single
  pyarrow RecordBatch, run the chain in the driver. Correct for the
  REST result sizes the reference serves (bounded responses).
- ``apply_distributed``: the 100 TB path — the same callable contract
  run per-Arrow-batch inside ``mapInArrow`` (no driver materialization).
  Only valid for row-local transforms; the server chooses it when the
  processor declares ``distributable = True``.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

_PROCESSORS: dict[str, Callable[..., pa.RecordBatch]] = {}


def register_processor(name: str, fn: Callable[..., pa.RecordBatch]) -> None:
    _PROCESSORS[name] = fn


def list_processors() -> list[str]:
    return sorted(_PROCESSORS)


def apply_local(
    spark: SparkSession, df: DataFrame, processors: list[dict]
) -> DataFrame:
    """Chain processors over the collected result (reference semantics:
    exec_processor.rs concat -> main(batch) -> next)."""
    tbl = df.toArrow()
    batch = tbl.combine_chunks().to_batches(max_chunksize=max(tbl.num_rows, 1))
    rb = batch[0] if batch else pa.RecordBatch.from_pydict({c: [] for c in tbl.column_names})
    for spec in processors:
        fn = _PROCESSORS[spec["module"]]
        kwargs = dict(spec.get("pluginOptions") or {})
        out = fn(rb, **kwargs)
        if isinstance(out, pa.Table):
            out = out.combine_chunks().to_batches(max_chunksize=max(out.num_rows, 1))[0]
        rb = out
    return spark.createDataFrame(pa.Table.from_batches([rb]))


def apply_distributed(df: DataFrame, processor: Callable[[pa.RecordBatch], pa.RecordBatch], schema) -> DataFrame:
    """Arrow-batched distributed variant for row-local processors."""

    def run(batches):
        for b in batches:
            yield processor(b)

    return df.mapInArrow(run, schema)


def pivot_table(rb: pa.RecordBatch, *, index: str, columns: str, values: str, **_) -> pa.RecordBatch:
    """Built-in example processor equivalent to the reference's
    pivot-table plugin (bin/plugins/processor-plugin-pivot-table/
    plugin_main.py:10-34: pandas pivot_table with mean aggregation)."""
    import pandas as pd

    pdf = rb.to_pandas()
    out = pd.pivot_table(pdf, index=[index], columns=[columns], values=[values]).reset_index()
    out.columns = [c[1] if isinstance(c, tuple) and c[1] else (c[0] if isinstance(c, tuple) else c) for c in out.columns]
    return pa.RecordBatch.from_pandas(out, preserve_index=False)


register_processor("pivot-table", pivot_table)
