"""Distributed ORC sink: write a DataFrame as a directory of ORC part
files using the engine's own writer (format/orc_writer.py), one task
per input partition — the write-side complement of the distributed scan
(sources/orc_source.py; the reference itself is read-only, lib.rs has
no writer, so this is beyond-reference surface).

Shape mirrors decode_to_files (operators/encode.py): rows never leave
the task, only a tiny stats row per part file returns to the driver —
shuffle-free, plan-asserted in tests/test_orc_sink.py. Each task
re-slices its rows into stripes (``_stripes``) and streams them through
the shared part-file sink (``_write_parts``) into ``OrcWriter``, one
stripe per write: task memory is one stripe, and a file rolls at the
first stripe boundary past ``_BYTES_PER_FILE``.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame


def write_orc_distributed(
    df: DataFrame,
    output_dir: str,
    stripe_rows: int = 65536,
    compression: str = "snappy",
    row_index_stride: int | None = None,
    bloom_filter_columns: list[str] | None = None,
    bloom_filter_fpp: float = 0.05,
) -> DataFrame:
    """df -> ``output_dir``/part-*.orc via OUR ORC writer, in parallel.

    Returns the (lazy) ``PART_STATS_SCHEMA`` DataFrame, one row per
    file; the write happens when it is consumed (``.collect()``/
    ``.count()`` — same contract as encode_files). Files are written
    through the object-store seam, staged per task attempt like
    encode_files' part files (local: attempt-suffixed tmp name, then
    rename; object stores: one atomic PUT), and are readable by ORC C++
    / ORC-Java / Spark / our own reader (conformance:
    tests/test_orc_sink.py). ``n_bytes`` is a file's on-disk size."""
    from datafusion_orc_spark.format.orc_writer import OrcWriter
    from datafusion_orc_spark.operators.encode import (
        _BYTES_PER_FILE,
        PART_STATS_SCHEMA,
        _ensure_workers_can_import,
        _stripes,
        _task_init,
        _write_parts,
    )
    from datafusion_orc_spark.sources.objectstore import resolve_store

    _ensure_workers_can_import(df)
    store, out_path = resolve_store(output_dir)
    store.makedirs(out_path)
    open_writer = functools.partial(
        OrcWriter, compression=compression, row_index_stride=row_index_stride,
        bloom_filter_columns=bloom_filter_columns, bloom_filter_fpp=bloom_filter_fpp,
    )
    bytes_per_file = _BYTES_PER_FILE

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _task_init()
        yield from _write_parts(_stripes(batches, stripe_rows), output_dir, open_writer, ".orc", bytes_per_file)

    return df.mapInArrow(sink, PART_STATS_SCHEMA)
