"""Incremental (streaming) encode: readStream -> mapInArrow encode ->
append blob parquet per micro-batch with lineage.

Uses foreachBatch so each micro-batch reuses the exact batch encode path
(operators/encode.py) — one code path for batch and streaming, which is
the idiomatic Spark structure (the reference is batch-only; this is the
engine's streaming extension, not a parity requirement).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_orc_spark.operators.encode import DEFAULT_STRIPE_ROWS, encode_table


def start_incremental_encode(
    stream_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    trigger_seconds: int | None = None,
):
    """Start a streaming query that encodes every micro-batch.

    Exactly-once: Spark's checkpointed batch ids + our per-batch job
    token make replayed batches idempotent (same batch id -> same
    stripe ids -> overwritten partition dir).
    """
    os.makedirs(output_dir, exist_ok=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        blobs = encode_table(batch_df, stripe_rows=stripe_rows, job_token=batch_id & 0xFFFF)
        batch_dir = os.path.join(output_dir, f"batch={batch_id}")
        blobs.write.mode("overwrite").parquet(batch_dir)
        agg = (
            batch_df.sparkSession.read.parquet(batch_dir)
            .agg(F.count(F.lit(1)).alias("blob_rows"), F.sum("enc_bytes").alias("enc_bytes"))
            .collect()[0]
        )
        lineage = {
            "batch_id": batch_id,
            "blob_rows": agg["blob_rows"],
            "enc_bytes": int(agg["enc_bytes"] or 0),
            "wall_sec": round(time.time() - t0, 3),
        }
        with open(os.path.join(output_dir, f"_lineage_batch_{batch_id}.json"), "w") as f:
            json.dump(lineage, f)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_decode(
    spark,
    blob_path: str,
    spark_schema,
    output_dir: str,
    checkpoint_dir: str,
    where: str | None = None,
    trigger_seconds: int | None = None,
    max_files_per_trigger: int | None = None,
    sink: str = "parquet",
):
    """The inverse stream: watch a directory of blob parquet files
    (e.g. start_incremental_encode's output) and decode each
    micro-batch back to rows, appended as parquet.

    Micro-batches are file-granular, so each stripe's blob rows
    normally sit in one scan partition and the "parquet" and "count"
    sinks decode with shuffle=False (no Exchange). If Spark splits a
    stripe across partitions, that decode raises its missing-columns
    error and the batch reruns with the shuffle=True stripe_id regroup,
    so correctness never depends on file-to-partition alignment. ``where``
    pushes stripe pruning + the exact residual filter into each batch
    (late-arriving stripes outside the predicate cost no decode CPU).
    Exactly-once: Spark's checkpointed batch ids + append-only output
    named by batch id. ``max_files_per_trigger`` bounds each micro-batch
    to that many blob files (Spark's maxFilesPerTrigger) — the
    per-batch latency knob. Each batch writes a ``_lineage_batch_*.json``
    with its decode+write wall beside the output (same lineage shape as
    the encode stream), so latency evidence comes from the stream
    itself.

    ``sink``: "files" (the fast path) decodes AND writes parquet from
    inside each task via decode_to_files — decoded rows never cross into
    the JVM and there is no per-batch Spark write job or commit
    protocol, only a tiny stats collect (the encode_files write-path
    lesson; the r6 sink-mode sweep measured the foreachBatch
    ``rows.write.parquet`` at >50% of the micro-batch wall). "parquet"
    is the classic JVM append under ``output_dir/batch=<id>``; "count"
    fully materializes the decode but discards the rows (a count
    aggregate), for deployments whose downstream is compute rather than
    storage — it isolates the stream's decode rate from the append cost."""
    from datafusion_orc_spark.operators.encode import (
        BLOB_SCHEMA,
        decode_table,
        decode_to_files,
    )

    if sink == "files" and where is not None:
        raise ValueError(
            "sink='files' does not apply residual row filters; use "
            "sink='parquet' with where=, or filter downstream"
        )
    os.makedirs(output_dir, exist_ok=True)
    reader = (
        spark.readStream.schema(BLOB_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(blob_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        batch_dir = os.path.join(output_dir, f"batch={batch_id}")
        if sink == "files":
            # in-task decode+write: one job, stats rows only; file-
            # granular micro-batches keep stripes partition-co-located
            # (same assumption the shuffle=False path asserts)
            stats = decode_to_files(batch_df, spark_schema, batch_dir).collect()
            wall = round(time.time() - t0, 3)
            with open(os.path.join(output_dir, f"_lineage_batch_{batch_id}.json"), "w") as f:
                json.dump(
                    {
                        "batch_id": batch_id,
                        "wall_sec": wall,
                        "out_rows": sum(r["n_rows"] for r in stats),
                        "n_files": len(stats),
                    },
                    f,
                )
            return
        # File-granular micro-batches keep each stripe's blob rows inside
        # one scan partition (encode writes them contiguously and blob
        # part files are far below maxPartitionBytes), so the default is
        # the zero-Exchange partition-local decode — the same no-shuffle
        # path the batch engine uses. decode_table(shuffle=False) raises
        # if the co-location assumption is ever violated (a foreign blob
        # layout, a giant part file split mid-stripe); only then do we
        # pay the stripe_id Exchange.
        def run(shuffle: bool) -> int | None:
            rows = decode_table(batch_df, None, spark_schema, shuffle=shuffle, where=where)
            if sink == "count":
                return rows.agg(F.count(F.lit(1))).collect()[0][0]
            rows.write.mode("overwrite").parquet(batch_dir)
            return None

        try:
            out_rows = run(shuffle=False)
        except Exception as e:  # Spark wraps the decode ValueError
            if "missing columns within their partition" not in str(e):
                raise
            out_rows = run(shuffle=True)
        wall = round(time.time() - t0, 3)
        if out_rows is None:
            # untimed bookkeeping: row count straight from the output
            # parquet footers (driver-side metadata, no Spark job)
            import pyarrow.parquet as _pq
            import glob as _glob

            out_rows = sum(
                _pq.ParquetFile(p).metadata.num_rows
                for p in _glob.glob(os.path.join(batch_dir, "*.parquet"))
            )
        with open(os.path.join(output_dir, f"_lineage_batch_{batch_id}.json"), "w") as f:
            json.dump({"batch_id": batch_id, "wall_sec": wall, "out_rows": out_rows}, f)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    stream_df: DataFrame,
    window_seconds: int = 60,
    watermark_seconds: int = 120,
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream —
    the late-data-tolerant streaming aggregation shape (Structured
    Streaming drops events later than the watermark and finalizes each
    window once the watermark passes its end).

    Input: any streaming DataFrame with (ts timestamp, event_type string,
    value double); output: one row per (window, event_type)."""
    return (
        stream_df.withWatermark("ts", f"{watermark_seconds} seconds")
        .groupBy(
            F.window("ts", f"{window_seconds} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


def sessionize_events(
    stream_df: DataFrame,
    gap_seconds: int = 300,
    watermark_seconds: int = 600,
) -> DataFrame:
    """Custom stateful operator: per-user sessionization with
    ``applyInPandasWithState`` — events closer than ``gap_seconds``
    merge into one session; a session is emitted once the watermark
    passes its end + gap (state timeout).

    Output: (user_id, session_start, session_end, n_events)."""
    import datetime as _dt

    import pandas as pd

    def _utc_naive(us: float) -> _dt.datetime:
        # naive-UTC convention for Spark TimestampType output
        # (utcfromtimestamp is deprecated since Python 3.12)
        return _dt.datetime.fromtimestamp(us / 1e6, tz=_dt.timezone.utc).replace(
            tzinfo=None
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType, TimestampType,
    )

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
    ])
    state_schema = StructType([
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", IntegerType()),
    ])

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id],
                "session_start": [_utc_naive(start_us)],
                "session_end": [_utc_naive(end_us)],
                "n_events": [n],
            })
            return
        import numpy as np

        # Out-of-order safe: gather ALL event times in the micro-batch
        # (each pandas chunk arrives unsorted relative to the others),
        # globally sort, and interval-merge together with the existing
        # state interval — an event EARLIER than the session start is
        # handled symmetrically (extends start backward when within gap,
        # or closes into its own earlier session when beyond it).
        chunks = [(pdf["ts"].astype("int64") // 1000).to_numpy() for pdf in pdfs]
        ts_us = np.sort(np.concatenate(chunks)) if chunks else np.empty(0, np.int64)
        gap_us = gap_seconds * 1_000_000
        pending = [tuple(state.get)] if state.exists else []
        pending += [(int(t), int(t), 1) for t in ts_us]
        pending.sort(key=lambda iv: (iv[0], iv[1]))
        merged: list[tuple[int, int, int]] = []
        for s, e, cnt in pending:
            if merged and s - merged[-1][1] <= gap_us:
                ps, pe, pn = merged[-1]
                merged[-1] = (ps, max(pe, e), pn + cnt)
            else:
                merged.append((s, e, cnt))
        if not merged:
            return
        rows = [
            (user_id,
             _utc_naive(s),
             _utc_naive(e), cnt)
            for s, e, cnt in merged[:-1]  # close every session but the live one
        ]
        start_us, end_us, n = merged[-1]
        state.update((start_us, end_us, n))
        state.setTimeoutTimestamp(end_us // 1000 + gap_seconds * 1000)
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "session_start", "session_end", "n_events"])

    return (
        stream_df.withWatermark("ts", f"{watermark_seconds} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
        )
    )
