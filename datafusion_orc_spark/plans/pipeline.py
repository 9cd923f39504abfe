"""M5 — the end-to-end encode job: explicit skew handling, per-partition
lineage, snapshot manifest, checkpoint resume.

North-rule requirements mapped to Spark primitives:
- explicit salting/repartition to defuse source-key skew (`source` is
  low-cardinality and 50% skewed to one key — FIXTURES.md F1):
  ``salted_repartition`` shuffles on xxhash64(doc_id) so every partition
  gets an even byte share regardless of source skew; AQE remains enabled
  as backstop (SURVEY.md §4.1).
- lineage: every (stripe × column) blob row carries codec, sizes and a
  crc32 of decoded values; the job manifest records per-chunk snapshot
  ids and row/byte counts.
- resume: the job splits work into deterministic chunks; each chunk
  commits atomically (parquet dir + manifest entry via atomic rename);
  a restarted job skips committed chunks (Iceberg-snapshot semantics on
  plain parquet — no Iceberg jars ship in this sandbox, SURVEY.md §7 M5;
  the manifest keeps ``input_snapshot_id`` so an Iceberg backend can
  slot in).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_orc_spark.operators.encode import DEFAULT_STRIPE_ROWS, encode_table
from datafusion_orc_spark.sources.objectstore import resolve_store


def salted_repartition(df: DataFrame, n_partitions: int, key: str = "doc_id") -> DataFrame:
    """Uniform repartition by hash of a high-cardinality key.

    Shuffling on ``source`` directly would put ~50% of rows in one
    reducer; hashing the unique key yields balanced partitions (the
    explicit skew control demanded by the north rule)."""
    return df.repartition(n_partitions, F.xxhash64(F.col(key)))


def _manifest_path(output_dir: str) -> str:
    return f"{output_dir.rstrip('/')}/_MANIFEST.json"


def read_manifest(output_dir: str) -> dict:
    """The ``_MANIFEST.json`` of a job's output directory, on any store
    (sources/objectstore.py); ``{}`` when there is none."""
    store, norm = resolve_store(output_dir)
    path = _manifest_path(norm)
    if not store.exists(path):
        return {}
    with store.open_input(path) as f:
        return json.loads(f.read())


def chunk_dirs(output_dir: str, manifest: dict) -> list[str]:
    """The committed ``chunk=<i>`` directories of a job's output, in
    chunk order. A directory whose manifest lists no chunks (or that has
    no manifest) is its own one blob directory."""
    if "chunks" not in manifest:
        return [output_dir]
    return [f"{output_dir.rstrip('/')}/chunk={c}" for c in sorted(manifest["chunks"])]


def _write_manifest_atomic(output_dir: str, manifest: dict) -> None:
    tmp = _manifest_path(output_dir) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, _manifest_path(output_dir))  # atomic commit


def _run_chunks(
    output_dir: str,
    n_chunks: int,
    input_snapshot_id: str | None,
    schema_json: Callable[[], str],
    encode_chunk: Callable[[int, str, int], DataFrame],
    input_files: list[list[str]] | None = None,
) -> dict:
    """Encode and commit every chunk the manifest of ``output_dir`` does
    not list yet; returns the final manifest.

    ``encode_chunk(chunk, chunk_dir, job_token)`` writes one chunk's blobs
    to ``chunk_dir`` and returns a DataFrame of their stats rows. The job
    token derives from the snapshot id, so a resumed job reproduces each
    chunk's stripe_ids. The rows' lineage aggregate (plus
    ``input_files[chunk]`` when given) is the chunk's manifest entry,
    committed atomically. ``schema_json()`` is read for a new manifest
    only.
    """
    os.makedirs(output_dir, exist_ok=True)
    manifest = read_manifest(output_dir)
    if manifest.get("snapshot_id") is None:
        manifest = {
            "snapshot_id": input_snapshot_id or uuid.uuid4().hex,
            "n_chunks": n_chunks,
            "schema_json": schema_json(),  # for the stripeblob DataSource
            "chunks": {},
        }
        _write_manifest_atomic(output_dir, manifest)
    assert manifest.get("n_chunks", n_chunks) == n_chunks, "chunking changed across resume"
    snapshot = manifest["snapshot_id"]
    head = snapshot[:8]
    for chunk in range(n_chunks):
        key = str(chunk)
        if key in manifest["chunks"]:
            continue  # resume: already committed
        t0 = time.time()
        job_token = (int(head, 16) ^ chunk) & 0xFFFF if all(c in "0123456789abcdef" for c in head) else chunk
        stats = encode_chunk(chunk, os.path.join(output_dir, f"chunk={chunk}"), job_token)
        agg = stats.agg(
            F.count(F.lit(1)).alias("blob_rows"),
            F.countDistinct("stripe_id").alias("stripes"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum(F.col("crc32").cast("decimal(38,0)")).alias("crc_sum"),
        ).collect()[0]
        entry = {"input_snapshot_id": snapshot}
        if input_files is not None:
            entry["input_files"] = input_files[chunk]
        manifest["chunks"][key] = {
            **entry,
            "blob_rows": agg["blob_rows"],
            "stripes": agg["stripes"],
            "raw_bytes": int(agg["raw_bytes"] or 0),
            "enc_bytes": int(agg["enc_bytes"] or 0),
            "crc_sum": str(agg["crc_sum"]),
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _write_manifest_atomic(output_dir, manifest)
    return manifest


def encode_job(
    spark: SparkSession,
    df: DataFrame,
    output_dir: str,
    n_chunks: int = 4,
    partitions_per_chunk: int = 8,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    input_snapshot_id: str | None = None,
    chunk_key: str = "doc_id",
) -> dict:
    """Chunked, resumable encode job.

    Rows are assigned to chunks by hash(chunk_key) % n_chunks
    (deterministic: a resumed job reproduces identical chunks). Each
    chunk is salted-repartitioned, encoded via mapInArrow, written to
    ``output_dir/chunk=i``, and committed to the manifest atomically.
    Returns the final manifest.
    """
    schema = df.schema
    df = df.withColumn("_chunk", F.pmod(F.xxhash64(F.col(chunk_key)), F.lit(n_chunks)))

    def encode_chunk(chunk, chunk_dir, job_token):
        part = salted_repartition(
            df.filter(F.col("_chunk") == chunk).drop("_chunk"),
            partitions_per_chunk,
            key=chunk_key,
        )
        encode_table(part, stripe_rows=stripe_rows, job_token=job_token).write.mode("overwrite").parquet(chunk_dir)
        # lineage record from the written blobs (read back: cheap metadata agg)
        return spark.read.parquet(chunk_dir)

    return _run_chunks(output_dir, n_chunks, input_snapshot_id, schema.json, encode_chunk)


def encode_files_job(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    files_per_chunk: int = 32,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    input_snapshot_id: str | None = None,
) -> dict:
    """File-granular resumable encode: the 100-TB fast path.

    Same manifest/checkpoint semantics as :func:`encode_job`, but chunks
    are groups of input parquet FILES (``input_dir`` listed through the
    object-store seam) and each chunk runs through ``encode_files`` —
    python workers scan row groups directly with pyarrow and write blob
    part files from inside the task, so row data never crosses the JVM.
    Skew handling is structural here: tasks are row-group ranges
    (uniform bytes) rather than key-hash partitions, so a skewed
    ``source`` key cannot unbalance them; use :func:`encode_job` when the
    input is an arbitrary DataFrame instead of files.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    from datafusion_orc_spark.operators.encode import _list_inputs, _open_parquet, encode_files

    paths = _list_inputs(input_dir, ".parquet")
    chunks = [paths[i : i + files_per_chunk] for i in range(0, len(paths), files_per_chunk)]

    def encode_chunk(chunk, chunk_dir, job_token):
        return encode_files(spark, chunks[chunk], stripe_rows=stripe_rows, job_token=job_token, output_dir=chunk_dir)

    return _run_chunks(
        output_dir,
        len(chunks),
        input_snapshot_id,
        lambda: from_arrow_schema(_open_parquet(paths[0]).schema_arrow).json(),
        encode_chunk,
        chunks,
    )


def read_encoded(spark: SparkSession, output_dir: str) -> DataFrame:
    """Blob table across all committed chunks (metadata-only planning —
    the EP3 analogue, SURVEY.md §3)."""
    return spark.read.parquet(*chunk_dirs(output_dir, read_manifest(output_dir)))
