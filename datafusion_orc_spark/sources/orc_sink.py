"""Distributed ORC sink: write a DataFrame as a directory of ORC part
files using the engine's own writer (format/orc_writer.py), one task
per input partition — the write-side complement of the distributed scan
(sources/orc_source.py; the reference itself is read-only, lib.rs has
no writer, so this is beyond-reference surface).

Shape mirrors encode_files (operators/encode.py): rows never leave the
task (the ORC bytes are built and written executor-side through the
object-store seam), only a tiny stats row per part file returns to the
driver — shuffle-free, plan-asserted in tests/test_orc_sink.py. Memory
is bounded by ``rows_per_file``: a partition streaming more rows than
that rolls to a new part file instead of accumulating.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

STATS_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("part", LongType(), False),
    StructField("n_rows", LongType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("n_stripes", LongType(), False),
])


def write_orc_distributed(
    df: DataFrame,
    output_dir: str,
    stripe_rows: int = 65536,
    compression: str = "snappy",
    rows_per_file: int = 1 << 20,
    bytes_per_file: int = 256 * 1024 * 1024,
    row_index_stride: int | None = None,
    bloom_filter_columns: list[str] | None = None,
    bloom_filter_fpp: float = 0.05,
) -> DataFrame:
    """df -> ``output_dir``/part-*.orc via OUR ORC writer, in parallel.

    Returns the (lazy) per-file stats DataFrame; the write happens when
    it is consumed (``.collect()``/``.count()`` — same contract as
    encode_files). Files are written through the object-store seam,
    staged per task attempt like encode_files' part files (local:
    attempt-suffixed tmp name, then rename; object stores: one atomic
    PUT), and are readable by ORC C++ / ORC-Java / Spark / our own reader
    (conformance: tests/test_orc_sink.py)."""
    from datafusion_orc_spark.operators.encode import _ensure_workers_can_import, _open_part, _task_init
    from datafusion_orc_spark.sources.objectstore import resolve_store

    _ensure_workers_can_import(df)
    store, out_path = resolve_store(output_dir)
    store.makedirs(out_path)

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from datafusion_orc_spark.format.orc_writer import write_orc

        _task_init()
        tc = TaskContext.get()
        part_id, attempt = tc.partitionId(), tc.attemptNumber()
        k = 0
        pending: list[pa.RecordBatch] = []
        n_pending = 0
        b_pending = 0  # Arrow buffer bytes — rows alone under-bound wide rows

        def flush() -> Iterator[pa.RecordBatch]:
            nonlocal k, pending, n_pending, b_pending
            if not pending:
                return
            tbl = pa.Table.from_batches(pending)
            pending, n_pending, b_pending = [], 0, 0
            name = f"part-{part_id:05d}-{k:03d}.orc"
            k += 1
            import io

            buf = io.BytesIO()
            write_orc(
                tbl, buf, stripe_rows=stripe_rows, compression=compression,
                row_index_stride=row_index_stride,
                bloom_filter_columns=bloom_filter_columns,
                bloom_filter_fpp=bloom_filter_fpp,
            )
            raw = buf.getvalue()
            fh, publish = _open_part(store, out_path, name, attempt)
            fh.write(raw)
            publish()
            yield pa.RecordBatch.from_pydict({
                "path": [f"{out_path}/{name}"],
                "part": [part_id],
                "n_rows": [tbl.num_rows],
                "n_bytes": [len(raw)],
                "n_stripes": [-(-tbl.num_rows // stripe_rows)],
            })

        for b in batches:
            # slice at the roll boundaries: one incoming Arrow batch may
            # exceed rows_per_file OR bytes_per_file on its own (Spark's
            # maxRecordsPerBatch is independent of the sink's roll size,
            # and wide rows hit the byte bound long before the row bound)
            row_bytes = max(1, b.get_total_buffer_size() // max(1, b.num_rows))
            while b.num_rows:
                take = min(
                    b.num_rows,
                    rows_per_file - n_pending,
                    max(1, (bytes_per_file - b_pending) // row_bytes),
                )
                pending.append(b.slice(0, take))
                n_pending += take
                b_pending += take * row_bytes
                b = b.slice(take)
                if n_pending >= rows_per_file or b_pending >= bytes_per_file:
                    yield from flush()
        yield from flush()

    return df.mapInArrow(sink, STATS_SCHEMA)
