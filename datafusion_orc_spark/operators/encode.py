"""The Spark encode/decode path: parquet files or DataFrame rows <-> the
blob table (one row per stripe x column, ``BLOB_SCHEMA``).

Every pipeline is fused into one vectorized Python UDF per task
(``mapInArrow``): scan, encode, decode and write happen in the worker,
and only small results (stats rows, decoded projections, partial
aggregates) cross the JVM boundary. No pipeline shuffles in its hot
path, the reference's execution shape (SURVEY.md §4.2). The pipelines
are composed from one copy of each piece:

- ``_list_inputs`` / ``_open_parquet``: glob, directory or single-path
  listing and parquet opens through the object-store seam
  (sources/objectstore.py, the reference's ``ObjectStoreReader``);
- ``_split_frame``: driver-side planning from parquet footers
  (``_plan_row_splits``), sliced into tasks by ``parallelize``;
  ``_splits`` and ``_read_range`` stream a task's row ranges;
- ``_stripes``: re-slices any batch stream into stripes of
  ``stripe_rows`` rows (the reference's scan batch unit,
  file_source.rs:31, and the ORC stripe, SURVEY.md §1.4/§1.5);
- ``_encode_stream``: encodes each stripe column by column with the
  E9-selected codec and packs its stripe_id;
- ``_PartWriter``: byte-rolled parquet part files written from inside
  the task, staged per task attempt by ``_open_part`` (which the ORC
  sink shares);
- ``_decode_setup``, ``_stripe_groups`` and ``_stripe_batch``:
  projection and stripe pruning on the blob table, partition-local
  regrouping of a stripe's blob rows, and the decode of one stripe.

The entry points:

- ``encode_table``: DataFrame batches -> ``_stripes`` ->
  ``_encode_stream``. Pays the JVM->Python Arrow transfer for every row.
- ``encode_files``: ``_split_frame`` -> ``_read_range`` -> ``_stripes``
  -> ``_encode_stream`` -> blob rows, or ``_PartWriter`` plus stats rows.
- ``roundtrip_files``: ``_split_frame`` -> ``_read_range`` ->
  ``_stripes`` -> encode every column -> decode the projection, with an
  optional partial aggregate before the JVM.
- ``decode_table``: ``_decode_setup`` -> ``_stripe_groups`` ->
  ``_stripe_batch``. Encode emits a stripe's columns contiguously from
  one task, so the decode needs no Exchange; ``shuffle=True`` falls back
  to ``groupBy(stripe_id).applyInArrow`` for scattered blob tables.
- ``decode_to_files``: ``decode_table``'s partition-local path into a
  ``_PartWriter``.

Column pruning on decode is a ``column IN (...)`` filter on the blob
table, the Spark-side analogue of the reference's projection pushdown
(file_source.rs:95-102).
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_orc_spark.format.stripe import decode_stripe, encode_stripe, prune_row_ranges
from datafusion_orc_spark.sources.objectstore import LocalStore, resolve_store

BLOB_SCHEMA = StructType(
    [
        StructField("stripe_id", LongType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("column", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_nulls", LongType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("crc32", LongType(), False),
        StructField("vmin", LongType(), True),  # int-like columns: stripe min
        StructField("vmax", LongType(), True),  # stripe max (D19/ROW_INDEX analogue)
        StructField("data", BinaryType(), False),
    ]
)

_BLOB_PA_SCHEMA = pa.schema(
    [
        ("stripe_id", pa.int64()),
        ("part_id", pa.int32()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("n_rows", pa.int64()),
        ("n_nulls", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("crc32", pa.int64()),
        ("vmin", pa.int64()),
        ("vmax", pa.int64()),
        ("data", pa.binary()),
    ]
)

DEFAULT_STRIPE_ROWS = 32768
_BYTES_PER_FILE = 256 * 1024 * 1024
# decode_to_files output: parquet dictionary encoding and page statistics
# on a high-entropy array<int32> token column cost ~2x the whole write
# (measured 620 -> 320 ms per 16k-row group), for stats no reader of a
# decoded materialization uses
_DECODED_PARQUET = {"compression": "snappy", "use_dictionary": False, "write_statistics": False}


def _ensure_workers_can_import(df: DataFrame) -> None:
    """Ship the package to executors (addPyFile) once per SparkContext.

    The mapInArrow/applyInArrow UDFs are pickled by reference to this
    module, so python workers must be able to import
    ``datafusion_orc_spark`` even when the driver's cwd/PYTHONPATH does
    not include the repo root (e.g. an external verify harness).
    """
    sc = df.sparkSession.sparkContext
    if getattr(sc, "_dos_pyfile_added", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join("/tmp", f"datafusion_orc_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._dos_pyfile_added = True


def _task_init() -> None:
    """One worker = one core: N workers each spawning pyarrow's default
    cpu_count-sized thread pool oversubscribe the box N times."""
    pa.set_cpu_count(1)
    pa.set_io_thread_count(2)


def _job_token(job_token: int | None) -> int:
    return (uuid.uuid4().int if job_token is None else job_token) & 0xFFFF


def _list_inputs(path_or_glob, suffix: str | None) -> list[str]:
    """A list of paths (sorted), a glob, a directory (its ``suffix``
    files) or one file, listed through the object-store seam: one IO
    trait serves listing, metadata and data reads alike (ref
    object_store_reader.rs:39-59)."""
    if isinstance(path_or_glob, (list, tuple)):
        paths = sorted(path_or_glob)
    else:
        store, norm = resolve_store(path_or_glob)
        if any(c in norm for c in "*?["):
            paths = store.glob(norm)
        elif store.isdir(norm):
            paths = store.list(norm, suffix=suffix)
        else:
            paths = [norm]
    if not paths:
        raise FileNotFoundError(path_or_glob)
    return paths


def _open_parquet(path: str) -> pq.ParquetFile:
    store, p = resolve_store(path)
    # local: let Arrow C++ own the fd
    return pq.ParquetFile(p if isinstance(store, LocalStore) else store.open_input(p))


def _blob_batch(stripe_id: int, part_id: int, blobs: dict[str, bytes], stats: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "stripe_id": [stripe_id] * len(stats),
            "part_id": [part_id] * len(stats),
            "column": [s["column"] for s in stats],
            "codec": [s["codec"] for s in stats],
            "n_rows": [s["n"] for s in stats],
            "n_nulls": [s["nulls"] for s in stats],
            "raw_bytes": [s["raw_bytes"] for s in stats],
            "enc_bytes": [s["enc_bytes"] for s in stats],
            "crc32": [s["crc32"] for s in stats],
            "vmin": [s.get("min") for s in stats],
            "vmax": [s.get("max") for s in stats],
            "data": [blobs[s["column"]] for s in stats],
        },
        schema=_BLOB_PA_SCHEMA,
    )


def _stripes(batches: Iterator[pa.RecordBatch], stripe_rows: int) -> Iterator[pa.RecordBatch]:
    """Re-slice a batch stream into stripes of exactly ``stripe_rows``
    rows; only the last may be shorter. Buffered batches are combined,
    then sliced, so each stripe is one contiguous batch and the stripes
    do not depend on how the input was batched."""
    buf: list[pa.RecordBatch] = []
    buffered = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        buf.append(b)
        buffered += b.num_rows
        if buffered >= stripe_rows:
            table = pa.Table.from_batches(buf).combine_chunks()
            pos = 0
            while table.num_rows - pos >= stripe_rows:
                yield table.slice(pos, stripe_rows).to_batches()[0]
                pos += stripe_rows
            buffered = table.num_rows - pos
            buf = table.slice(pos).to_batches() if buffered else []
    if buf:
        yield pa.Table.from_batches(buf).combine_chunks().to_batches()[0]


def _encode_stream(
    stripes: Iterator[pa.RecordBatch],
    part_id: int,
    job_token: int,
    seq_start: int = 0,
    seq_end: int | None = None,
) -> Iterator[pa.RecordBatch]:
    """Encode each stripe column by column with the E9-selected codec and
    emit one blob row per (stripe, column).

    stripe_id = token(16) << 47 | part(16) << 31 | seq(31): 63 bits,
    always positive in int64. The 31-bit seq carries 2^15 split windows
    of 2^16 stripes per task (the r7 sf3 probe overflowed the old 24-bit
    seq at 256 splits per task, a 2.5B-token input at parallelism 2).
    ``seq_end`` is the exclusive end of this split's window: running past
    it would silently collide with the next split's stripe_ids, so it
    raises instead."""
    ns = f"{job_token:04x}"
    for seq, stripe in enumerate(stripes, seq_start):
        if part_id >= (1 << 16) or seq >= (1 << 31):
            raise ValueError(
                f"stripe_id packing overflow: part_id={part_id} (max 65535), "
                f"seq={seq} (max {(1 << 31) - 1}) — widen the packing before "
                f"running with >65536 partitions"
            )
        if seq_end is not None and seq >= seq_end:
            raise ValueError(
                f"stripe_id packing overflow: seq={seq} reached this split's "
                f"window end {seq_end} (65536 stripes/split) — raise stripe_rows"
            )
        blobs, stats = encode_stripe(stripe, namespace=ns)
        yield _blob_batch((job_token << 47) | (part_id << 31) | seq, part_id, blobs, stats)


def _plan_row_splits(
    rg_sizes: list[tuple[str, int, int]], target: int, stripe_rows: int
) -> list[tuple[str, int, int, int]]:
    """Split parquet row groups ``(path, rg, n_rows)`` into
    ``(path, rg, row_start, row_end)`` task ranges for ``target`` tasks.

    At least ``target`` row groups: one split each. Fewer: stripe-aligned
    row-range subdivision into exactly ``min(target, total stripes)``
    splits. Two balance rules (measured on the 6-row-group sf1.0 shape,
    where the old round()-per-row-group planner made 36 splits for
    target 32 — so 4 of the 32 static partitions carried TWO splits and
    the stage wall was 2x a median task):
     1. apportion split counts by largest remainder so the total is
        exactly the budget — one split per task, no double-loaded
        partition. Every row group keeps at least one split, so the
        floors can overshoot the budget (two 1-row groups plus one huge
        group); the overshoot is taken back from groups holding more
        than one split, smallest fractional remainder first;
     2. ranges are whole stripes, apportioned uniformly by largest
        remainder (sizes differ by <=1 stripe), remainder stripes
        assigned to the EARLIEST ranges: a range [s, e) also pays a
        leading decode ~ e (iter_batches decodes from row 0 up to e),
        but a per-task least-squares fit on the 6-row-group sf1.0 shape
        measured that lead at ~0.12 us/row vs ~3 us/row of encode/decode
        work (4%) — smaller than one stripe's worth of work at bench
        chunk sizes, so a cost-tapered boundary model snapped to stripe
        quanta just produced 1-vs-2-stripe jitter (measured 2x task
        spread at sf0.1); front-loading the remainder stripes
        counteracts the 4% without breaking the quantum.
    """
    if len(rg_sizes) >= target:
        return [(p, rg, 0, n) for p, rg, n in rg_sizes]
    total_rows = sum(n for _, _, n in rg_sizes)
    n_stripes = {(p, rg): max(1, (n + stripe_rows - 1) // stripe_rows) for p, rg, n in rg_sizes}
    budget = min(target, sum(n_stripes.values()))
    quota = {(p, rg): min(n_stripes[(p, rg)], budget * n / max(1, total_rows)) for p, rg, n in rg_sizes}
    k_of = {k2: max(1, int(q)) for k2, q in quota.items()}
    rem = {k2: q - int(q) for k2, q in quota.items()}
    left = budget - sum(k_of.values())
    # each sweep moves at least one split: stripes cap every group and
    # sum to >= budget, and the budget is >= one split per group
    while left > 0:
        for k2 in sorted(quota, key=rem.__getitem__, reverse=True):
            if left and k_of[k2] < n_stripes[k2]:
                k_of[k2] += 1
                left -= 1
    while left < 0:
        for k2 in sorted(quota, key=rem.__getitem__):
            if left and k_of[k2] > 1:
                k_of[k2] -= 1
                left += 1
    splits: list[tuple[str, int, int, int]] = []
    for p, rg, n in rg_sizes:
        k = k_of[(p, rg)]
        if k <= 1:
            splits.append((p, rg, 0, n))
            continue
        n_str = n_stripes[(p, rg)]
        per = [n_str // k] * k
        for i in range(n_str % k):
            per[i] += 1
        pos = 0
        for c in per:
            s, e = pos * stripe_rows, min(n, (pos + c) * stripe_rows)
            splits.append((p, rg, s, e))
            pos += c
    return splits


def _split_frame(spark, path_or_glob, stripe_rows: int, target: int | None) -> tuple[DataFrame, int]:
    """The task frame of a parquet scan and its partition count.

    Splits ``(path, rg, row_start, row_end)`` are planned by
    ``_plan_row_splits`` from footers alone; ``target=None`` plans one
    split per non-empty row group. ``parallelize`` slices them into
    ``min(target, splits)`` partitions: a createDataFrame +
    repartition() here planned an Exchange, a whole extra stage barrier
    and AQE replan per job whose row data never touches the JVM.
    """
    rg_sizes: list[tuple[str, int, int]] = []
    for p in _list_inputs(path_or_glob, ".parquet"):
        md = _open_parquet(p).metadata
        for rg in range(md.num_row_groups):
            if md.row_group(rg).num_rows:
                rg_sizes.append((p, rg, md.row_group(rg).num_rows))
    target = target or len(rg_sizes)
    splits = _plan_row_splits(rg_sizes, target, stripe_rows)
    n_parts = max(1, min(target, len(splits)))
    if n_parts < len(splits):
        # strided reorder so each contiguous parallelize slice gets a
        # round-robin sample of files (balances skewed file sizes the way
        # repartition's round-robin did, without the shuffle)
        splits = [splits[i] for k in range(n_parts) for i in range(k, len(splits), n_parts)]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(splits, n_parts),
        "path string, rg int, row_start long, row_end long",
    )
    _ensure_workers_can_import(sdf)
    return sdf, n_parts


def _splits(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[str, int, int, int]]:
    """The ``(path, rg, row_start, row_end)`` rows of one task's slice of
    a ``_split_frame``."""
    for b in batches:
        yield from zip(*(b.column(i).to_pylist() for i in range(4)))


def _read_range(
    path: str, rg: int, r0: int, r1: int, batch_size: int, columns: list[str] | None = None
) -> Iterator[pa.RecordBatch]:
    """Rows ``[r0, r1)`` of one row group, streamed; rows past ``r1`` are
    never decoded. ``batch_size`` is a read granularity only:
    ``_stripes`` re-slices to exact stripe boundaries."""
    off = 0
    for b in _open_parquet(path).iter_batches(
        batch_size=batch_size, row_groups=[rg], columns=columns, use_threads=False
    ):
        lo, hi = max(r0, off), min(r1, off + b.num_rows)
        if hi > lo:
            yield b.slice(lo - off, hi - lo)
        off += b.num_rows
        if off >= r1:
            return


def _open_part(store, path: str, name: str, attempt: int, in_place: bool = False):
    """Open part file ``path/name`` for one task attempt. Returns
    ``(fh, publish)``: call ``publish()`` after the last write; it closes
    ``fh`` and makes the whole file visible under ``name``.

    - object stores: a single streamed PUT is atomic, so ``fh`` writes
      ``name`` directly;
    - local, ``in_place``: overwrite the existing file, reusing its
      already-faulted page-cache pages; ``publish`` truncates a longer
      previous tail. A reader can see a half-written file;
    - local: write an attempt-suffixed tmp name and rename it, so a
      zombie attempt and its retry (or two speculative attempts) never
      share a staging file and readers only see complete files.
    """
    final = f"{path}/{name}"
    if not isinstance(store, LocalStore):
        fh = store.open_output(final)
        return fh, fh.close
    if in_place:
        fh = open(final, "r+b" if os.path.exists(final) else "w+b")

        def publish():
            fh.truncate()
            fh.close()

        return fh, publish
    tmp = f"{path}/.{name}.attempt{attempt}.tmp"
    fh = pa.OSFile(tmp, "wb")

    def publish():
        fh.close()
        store.rename(tmp, final)

    return fh, publish


class _PartWriter:
    """Streams one task's batches into parquet part files
    ``part-{partition:05d}-{seq:03d}.parquet`` under ``output_dir``, one
    row group per batch.

    A file rolls to the next name once ``bytes_per_file`` in-memory bytes
    went through it, so a task writes few large files (object stores and
    shuffle-free decode scans both want big files), its stores spread
    over the task's lifetime instead of bursting at task end, and it
    never holds more than one batch in write-side memory. Roll points
    are deterministic, so a re-run writes the same names.

    ``recycle`` (local stores only): attempt 0 overwrites the part files
    in place (see ``encode_files``); retries stage through an
    attempt-suffixed tmp file, since attempt 0 may have died mid-write.
    ``close()`` then removes this partition's higher file indices, left
    by a previous run whose roll layout was longer.
    """

    def __init__(self, output_dir: str, schema: pa.Schema, bytes_per_file: int, recycle: bool = False, **parquet_options):
        tc = TaskContext.get()
        self.part_id, self.attempt = tc.partitionId(), tc.attemptNumber()
        self.store, self.path = resolve_store(output_dir)
        self.store.makedirs(self.path)
        self.recycle = recycle and isinstance(self.store, LocalStore)
        self.schema, self.bytes_per_file, self.options = schema, bytes_per_file, parquet_options
        self.writer = None
        self.n_files = self.rows = self.bytes = self.file_bytes = 0

    def write(self, batch: pa.RecordBatch) -> None:
        if self.writer is None:
            name = f"part-{self.part_id:05d}-{self.n_files:03d}.parquet"
            in_place = self.recycle and self.attempt == 0
            fh, self.publish = _open_part(self.store, self.path, name, self.attempt, in_place)
            self.writer = pq.ParquetWriter(fh, self.schema, **self.options)
        self.writer.write_table(pa.Table.from_batches([batch], schema=self.schema))
        self.rows += batch.num_rows
        self.bytes += batch.nbytes
        self.file_bytes += batch.nbytes
        if self.file_bytes >= self.bytes_per_file:
            self._roll()

    def _roll(self) -> None:
        if self.writer is None:
            return
        self.writer.close()
        self.publish()
        self.writer = None
        self.file_bytes = 0
        self.n_files += 1

    def close(self) -> None:
        self._roll()
        if not self.recycle:
            return
        for p in glob.glob(f"{self.path}/part-{self.part_id:05d}-*.parquet"):
            try:
                seq = int(p.rsplit("-", 1)[1].split(".")[0])
            except ValueError:
                continue
            if seq >= self.n_files:
                os.unlink(p)


def encode_table(df: DataFrame, stripe_rows: int = DEFAULT_STRIPE_ROWS, job_token: int | None = None) -> DataFrame:
    """DataFrame -> blob table (one row per stripe × column).

    ``job_token`` (16 bit) disambiguates stripe_ids across independent
    encode invocations whose outputs may later be unioned (e.g. the
    chunked resumable job): stripe_id = token<<47 | partition<<31 | seq
    (31-bit seq — widened in r7 from the r6 token<<40|part<<24|seq
    layout; blob tables persisted under the old packing must not be
    unioned with new output under one job_token, ids could collide
    across the upgrade boundary).
    """
    _ensure_workers_can_import(df)
    job_token = _job_token(job_token)

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _encode_stream(_stripes(batches, stripe_rows), TaskContext.get().partitionId(), job_token)

    return df.mapInArrow(encode_fn, BLOB_SCHEMA)


def encode_files(
    spark,
    path_or_glob: str,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    job_token: int | None = None,
    columns: list[str] | None = None,
    output_dir: str | None = None,
    parallelism: int | None = None,
    discard_output: bool = False,
    recycle_output: bool = False,
    bytes_per_file: int = _BYTES_PER_FILE,
) -> DataFrame:
    """Parquet files -> blob table WITHOUT moving row data through the JVM.

    The 100-TB encode path: the driver plans one task per parquet row
    group from footers alone; each python worker scans its row groups
    directly with pyarrow (C++ reader, zero-copy into the numpy kernels)
    and — when ``output_dir`` is given — writes its blob rows as parquet
    part files from inside the task (``_PartWriter``, byte-rolled at
    ``bytes_per_file``), emitting only the tiny stats rows. Compare
    encode_table, which encodes an arbitrary DataFrame but pays
    JVM->Python Arrow IPC for every row; here the token arrays never
    cross a process boundary uncompressed. This mirrors the reference's
    architecture (scan + decode live in one native process,
    physical_exec.rs:57-91) while keeping Spark as the scheduler/scale-out
    layer.

    ``parallelism``: the task count. Fewer tasks than row groups process
    several splits each (the bench's N-vs-4N ladder varies parallelism
    inside ONE warm session); more tasks than row groups split row groups
    into stripe-aligned row ranges (``_plan_row_splits``).

    ``discard_output=True`` is the dry-run/benchmark mode: blobs are
    encoded in-task and dropped (stats rows only, nothing written) —
    the pure scan+encode compute probe that isolates engine scaling
    from the output path's page-cache behavior.

    ``recycle_output=True`` (local filesystems only): overwrite existing
    part files IN PLACE instead of write-tmp-then-rename. Part names are
    deterministic per (partition, split), so an idempotent re-run of the
    same job — a checkpoint resume, a retried chunk, a benchmark loop —
    rewrites the same paths; overwriting keeps the output's page-cache
    pages warm rather than allocating fresh ones (on memory-ballooned
    hosts, first-touch page allocation can be ~50x slower than an
    in-place store — measured 31 s vs 0.3 s per GiB on the dev box).
    Stale files from a previous run at higher parallelism are removed
    (driver-side for orphaned partition ids, task-side for orphaned
    file indices), so the directory's final contents are identical to
    a fresh write. Trade-off: a reader scanning the directory MID-WRITE
    can observe a half-written file (the rename path never exposes one);
    use the default for live-published tables, recycle for owned
    re-run/benchmark output directories.
    """
    job_token = _job_token(job_token)
    sdf, n_parts = _split_frame(spark, path_or_glob, stripe_rows, parallelism)
    if recycle_output and output_dir is not None:
        # in-place overwrite has no tmp+rename fence, so two CONCURRENT
        # attempts of one task (speculative execution) could interleave
        # writes into the same path — refuse up front. Plain retries are
        # safe: they stage through an attempt-suffixed tmp + rename.
        spec = spark.sparkContext.getConf().get("spark.speculation", "false")
        if (spec or "false").lower() == "true":
            raise ValueError(
                "recycle_output=True is incompatible with speculative "
                "execution (spark.speculation=true): two live attempts "
                "would overwrite the same part file in place"
            )
        # a previous run at HIGHER parallelism left part files for
        # partition ids no task of this run owns
        o_store, o_path = resolve_store(output_dir)
        if isinstance(o_store, LocalStore):
            for p in glob.glob(f"{o_path}/part-*.parquet") + glob.glob(f"{o_path}/.part-*.tmp"):
                try:
                    pid = int(os.path.basename(p).lstrip(".").split("-")[1])
                except (IndexError, ValueError):
                    continue
                if pid >= n_parts or p.endswith(".tmp"):
                    os.unlink(p)
    inline = output_dir is None and not discard_output
    stats_schema = StructType([f for f in BLOB_SCHEMA.fields if f.name != "data"])

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _task_init()
        part_id = TaskContext.get().partitionId()
        writer = None
        if output_dir is not None and not discard_output:
            # blob bytes are entropy-packed already: snappy costs CPU for ~0% gain
            writer = _PartWriter(output_dir, _BLOB_PA_SCHEMA, bytes_per_file, recycle_output, compression="none")
        for k, (path, rg, r0, r1) in enumerate(_splits(batches)):
            # read at stripe_rows: wide token rows make 64k-row batches large
            src = _read_range(path, rg, r0, r1, stripe_rows, columns)
            for bb in _encode_stream(_stripes(src, stripe_rows), part_id, job_token, k << 16, (k + 1) << 16):
                if writer is not None:
                    writer.write(bb)
                yield bb if inline else bb.drop_columns(["data"])
        if writer is not None:
            writer.close()

    return sdf.mapInArrow(enc, BLOB_SCHEMA if inline else stats_schema)


def roundtrip_files(
    spark,
    path_or_glob,
    spark_schema,
    columns: list[str] | None = None,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    job_token: int | None = None,
    parallelism: int | None = None,
    batch_transform=None,
    transform_schema=None,
    transform_flush_rows: int = 1 << 20,
) -> DataFrame:
    """Parquet files -> encode EVERY column -> decode ``columns`` -> rows,
    fused inside each task (the encode_files architecture applied to the
    encode→decode round-trip queries, guide §4.1/§8).

    The unfused shape (``encode_table`` + ``decode_table``) moves every
    row across the JVM↔Python Arrow boundary three times: raw rows into
    the encode worker, blob rows back to the JVM, blob rows into the
    decode worker. Here the python worker scans its parquet row-group
    slice directly (pyarrow C++), encodes all columns stripe by stripe
    with the same ``encode_stripe`` kernels, immediately decodes the
    projected columns with ``decode_stripe``, and only the DECODED
    projection (or, with ``batch_transform``, a per-task reduction of
    it) ever crosses into the JVM. The codec work is identical to the
    unfused path — every column is encoded, the projection is decoded —
    so a value-identity oracle over the output checks the same kernels.

    Tasks: ``parallelism`` or ``defaultParallelism``. An input with fewer
    row groups than that (the single-row-group bench fixtures) is split
    into stripe-aligned row ranges (``_plan_row_splits``); each task then
    re-decodes the leading pages of its row group. At production
    row-group counts no row group is split.

    ``batch_transform``: optional ``pa.Table -> pa.Table`` applied to
    the decoded projection in chunks of ``transform_flush_rows`` rows
    (one application per task at bench split sizes; bounded memory at
    100-TB split counts), with ``transform_schema`` as the output
    StructType — the §2.3 "aggregate before you shuffle" hook: its
    output rows must be PARTIALS the caller's downstream aggregate
    re-combines, which also makes per-chunk application equivalent to
    per-task application. Chunk boundaries are deterministic, so the
    partials are reproducible. The caller owns proving its reduction is
    equivalent to the unfused aggregate.
    """
    job_token = _job_token(job_token)
    if (batch_transform is None) != (transform_schema is None):
        raise ValueError("batch_transform and transform_schema must be passed together")
    sdf, _ = _split_frame(spark, path_or_glob, stripe_rows, parallelism or spark.sparkContext.defaultParallelism)
    if columns is not None:
        unknown = set(columns) - {f.name for f in spark_schema.fields}
        if unknown:
            raise ValueError(f"roundtrip: unknown columns {sorted(unknown)}")
        names = [f.name for f in spark_schema.fields if f.name in set(columns)]
    else:
        names = [f.name for f in spark_schema.fields]
    out_schema = (
        transform_schema
        if batch_transform is not None
        else StructType([f for f in spark_schema.fields if f.name in set(names)])
    )
    ns = f"{job_token:04x}"

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _task_init()
        decoded: list[pa.RecordBatch] = []
        decoded_rows = 0
        for path, rg, r0, r1 in _splits(batches):
            # reads bigger than a stripe decode ~20% faster
            src = _read_range(path, rg, r0, r1, max(stripe_rows, 65536))
            for stripe in _stripes(src, stripe_rows):
                blobs, _stats = encode_stripe(stripe, namespace=ns)
                dec = decode_stripe(blobs, stripe.schema, columns=names)
                if batch_transform is None:
                    yield dec
                    continue
                decoded.append(dec)
                decoded_rows += dec.num_rows
                if decoded_rows >= transform_flush_rows:
                    yield from batch_transform(pa.Table.from_batches(decoded)).to_batches()
                    decoded, decoded_rows = [], 0
        if decoded:
            yield from batch_transform(pa.Table.from_batches(decoded)).to_batches()

    return sdf.mapInArrow(rt, out_schema)


_PRED_RE = None


def prune_bounds_from_predicate(where: str) -> dict[str, tuple[int, int]]:
    """Derive {column: (lo, hi)} stripe-prune bounds from the AND-ed
    simple integer comparisons in a SQL predicate string.

    Only conjuncts of the form ``col <op> <int>`` / ``<int> <op> col``
    (op in <, <=, >, >=, =) contribute; everything else is ignored —
    pruning is best-effort, the caller re-applies the full predicate on
    the decoded rows (decode_table(where=...) does both automatically).
    OR anywhere in the predicate disables pruning entirely (a disjunct
    can rescue rows a conjunct-derived bound would drop)."""
    import re

    global _PRED_RE
    if _PRED_RE is None:
        _PRED_RE = re.compile(
            r"^\s*(?:(?P<col>[A-Za-z_][\w.]*)\s*(?P<op>>=|<=|=|==|<|>)\s*(?P<val>-?\d+)"
            r"|(?P<val2>-?\d+)\s*(?P<op2>>=|<=|=|==|<|>)\s*(?P<col2>[A-Za-z_][\w.]*))\s*$"
        )
    if re.search(r"\bor\b", where, flags=re.IGNORECASE):
        return {}
    out: dict[str, list] = {}
    _LO, _HI = -(1 << 62), (1 << 62)
    for conj in re.split(r"\band\b", where, flags=re.IGNORECASE):
        m = _PRED_RE.match(conj.strip().strip("()"))
        if not m:
            continue
        if m.group("col"):
            col, op, val = m.group("col"), m.group("op"), int(m.group("val"))
        else:
            # mirrored literal-first form: flip the operator
            col, val = m.group("col2"), int(m.group("val2"))
            op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(m.group("op2"), m.group("op2"))
        lo, hi = out.get(col, [_LO, _HI])
        if op in ("=", "=="):
            lo, hi = max(lo, val), min(hi, val)
        elif op == ">":
            lo = max(lo, val + 1)
        elif op == ">=":
            lo = max(lo, val)
        elif op == "<":
            hi = min(hi, val - 1)
        elif op == "<=":
            hi = min(hi, val)
        out[col] = [lo, hi]
    return {c: (lo, hi) for c, (lo, hi) in out.items()}


def _decode_setup(
    blobs_df: DataFrame, schema: pa.Schema | None, spark_schema, columns: list[str] | None, prune
) -> tuple[DataFrame, pa.Schema, list[str]]:
    """Shared decode setup: returns the blob table cut to the stripes
    whose [vmin, vmax] can meet every ``prune`` bound and to the
    projected columns, the Arrow schema, and the projection in SCHEMA
    order. The output StructType keeps schema order, so the decoded
    batches must too: a caller-order projection decoded fine but
    mis-bound column vectors JVM-side."""
    from pyspark.sql.pandas.types import to_arrow_schema

    _ensure_workers_can_import(blobs_df)
    if schema is None:
        schema = to_arrow_schema(spark_schema)
    names = list(schema.names)
    if columns is not None:
        unknown = set(columns) - set(names)
        if unknown:
            raise ValueError(f"decode: unknown columns {sorted(unknown)}")
        names = [nm for nm in names if nm in set(columns)]
    if prune:
        keep = None
        for col, (lo, hi) in prune.items():
            cond = (
                (F.col("column") == col)
                & (F.col("vmax") >= F.lit(int(lo)))
                & (F.col("vmin") <= F.lit(int(hi)))
            )
            ids = blobs_df.filter(cond).select("stripe_id")
            keep = ids if keep is None else keep.join(ids, "stripe_id")
        blobs_df = blobs_df.join(F.broadcast(keep.distinct()), "stripe_id")
    if columns is not None:
        blobs_df = blobs_df.filter(F.col("column").isin(columns))
    return blobs_df, schema, names


def _stripe_groups(batches: Iterator[pa.RecordBatch], expected: set[str]) -> Iterator[dict[str, bytes]]:
    """Partition-local group-by: collect blob rows per stripe_id and
    yield each stripe's ``{column: blob}`` as soon as it holds every
    ``expected`` column. A stripe still incomplete at the end of the
    partition was scattered by a repartition after encode: raise."""
    pending: dict[int, dict[str, bytes]] = {}
    for b in batches:
        for sid, col, blob in zip(
            b.column("stripe_id").to_pylist(), b.column("column").to_pylist(), b.column("data").to_pylist()
        ):
            if col not in expected:
                continue
            got = pending.setdefault(sid, {})
            got[col] = blob
            if len(got) == len(expected):
                yield pending.pop(sid)
    if pending:
        raise ValueError(
            f"stripes {sorted(pending)[:8]} are missing columns within their "
            f"partition — the blob table was repartitioned after encode; "
            f"decode with decode_table(shuffle=True)"
        )


def _stripe_batch(blob_by_col: dict, schema: pa.Schema, names: list[str], prune) -> pa.RecordBatch | None:
    """Decode one stripe, applying sub-block (D19 ROW_INDEX-stride)
    pruning when bounds are known: blocks whose local [min, max] cannot
    match are dropped before Arrow assembly; a stripe whose every block
    fails gives None."""
    ranges = prune_row_ranges(blob_by_col, prune) if prune else None
    if ranges == []:
        return None
    return decode_stripe(blob_by_col, schema, columns=names, row_ranges=ranges)


def decode_table(
    blobs_df: DataFrame,
    schema: pa.Schema | None,
    spark_schema,
    columns: list[str] | None = None,
    prune: dict[str, tuple[int, int]] | None = None,
    shuffle: bool = False,
    where: str | None = None,
) -> DataFrame:
    """Blob table -> original rows (projection via ``columns``).

    ``spark_schema``: the Spark StructType of the original table (used
    as the output schema); ``schema``: matching Arrow schema (derived
    from spark_schema if None).

    ``prune``: {column: (lo, hi)} — stripe pruning on the per-stripe
    min/max stats (the engine-side analogue of ORC ROW_INDEX seek /
    the reference's stubbed stats interface, SURVEY.md S7/D19): stripes
    whose [vmin, vmax] cannot intersect [lo, hi] are never decoded.
    Rows outside the range within surviving stripes still come back —
    apply the residual filter on the decoded frame.

    ``where``: SQL predicate string — the self-driving version of
    ``prune``: integer comparison conjuncts are auto-derived into stripe
    bounds (prune_bounds_from_predicate) AND the full predicate is
    applied to the decoded rows, so the result is exactly filtered with
    no manual hint (the DataSource pushFilters analogue).

    ``shuffle=False`` (default, the 100-TB path): decode inside the scan
    partitions with ``mapInArrow`` — encode emits every column of a
    stripe contiguously from one task, so a stripe's blob rows are
    co-partitioned and the decode needs NO Exchange (the
    StripeBlobReader pattern; at scale a groupBy here would reshuffle
    every encoded byte on every read). ``shuffle=True`` falls back to
    ``groupBy(stripe_id).applyInArrow`` for blob tables whose stripes
    were scattered across partitions by an arbitrary repartition.
    """
    if where is not None:
        prune = {**prune_bounds_from_predicate(where), **(prune or {})}
    blobs_df, schema, names = _decode_setup(blobs_df, schema, spark_schema, columns, prune)
    if columns is not None:
        spark_schema = StructType([f for f in spark_schema.fields if f.name in columns])

    if shuffle:
        proj = pa.schema([schema.field(nm) for nm in names])

        def decode_fn(table: pa.Table) -> pa.Table:
            blob_by_col = dict(zip(table.column("column").to_pylist(), table.column("data").to_pylist()))
            batch = _stripe_batch(blob_by_col, schema, names, prune)
            return pa.Table.from_batches([batch] if batch is not None else [], schema=proj)

        out = blobs_df.groupBy("stripe_id").applyInArrow(decode_fn, spark_schema)
    else:

        def decode_local(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for blob_by_col in _stripe_groups(batches, set(names)):
                batch = _stripe_batch(blob_by_col, schema, names, prune)
                if batch is not None:
                    yield batch

        out = blobs_df.mapInArrow(decode_local, spark_schema)
    return out.filter(where) if where is not None else out


# NOTE (r7 advice): ``bytes_written`` reports the UNCOMPRESSED in-memory
# Arrow bytes streamed through the writer (a stable, codec-independent
# volume measure), NOT the post-compression on-disk file size — size the
# output directory for disk accounting.
DECODE_STATS_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("n_files", IntegerType(), False),
        StructField("rows", LongType(), False),
        StructField("bytes_written", LongType(), False),
    ]
)


def decode_to_files(
    blobs_df: DataFrame,
    spark_schema,
    output_dir: str,
    columns: list[str] | None = None,
    prune: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Partition-local decode that writes the decoded rows to parquet
    part files from INSIDE the task — the encode_files write path
    applied to the decode direction. Decoded rows never cross into the
    JVM (no Arrow transfer, no per-batch Spark write job, no commit
    protocol): each task streams its stripes through one ``_PartWriter``
    (a snappy row group per decoded stripe, no dictionary, no page
    statistics) and returns a single stats row. This is the streaming
    sink's fast path (start_incremental_decode sink="files"), where the
    foreachBatch ``rows.write.parquet`` job was measured at >50% of the
    micro-batch wall (BENCH r6 sink-mode sweep).

    ``prune`` bounds are INTEGER-column-only here (bounds are cast with
    int(); string-keyed pruning is supported by read_orc_distributed,
    not by this sink — r7 advice)."""
    blobs_df, schema, names = _decode_setup(blobs_df, None, spark_schema, columns, prune)
    proj = pa.schema([schema.field(nm) for nm in names])

    def dec_write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _task_init()
        writer = _PartWriter(output_dir, proj, _BYTES_PER_FILE, **_DECODED_PARQUET)
        for blob_by_col in _stripe_groups(batches, set(names)):
            batch = _stripe_batch(blob_by_col, schema, names, prune)
            if batch is not None:
                writer.write(batch)
        writer.close()
        yield pa.record_batch(
            [
                pa.array([writer.part_id], pa.int32()),
                pa.array([writer.n_files], pa.int32()),
                pa.array([writer.rows], pa.int64()),
                pa.array([writer.bytes], pa.int64()),
            ],
            names=["part_id", "n_files", "rows", "bytes_written"],
        )

    return blobs_df.mapInArrow(dec_write, DECODE_STATS_SCHEMA)


def verify_roundtrip(df: DataFrame, stripe_rows: int = DEFAULT_STRIPE_ROWS) -> tuple[bool, dict]:
    """Encode -> decode -> order-insensitive equality vs the input.

    Uses a content hash over every row (xxhash64 of all columns), summed
    — fully distributed, no driver-side collect of data rows.
    """
    blobs = encode_table(df, stripe_rows=stripe_rows).cache()
    decoded = decode_table(blobs, None, df.schema)

    def content_hash(frame: DataFrame):
        cols = [F.col(c).cast("string") for c in frame.columns]
        row_hash = F.xxhash64(*cols).cast("decimal(38,0)")  # decimal: no ANSI overflow
        return frame.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash).alias("hash_sum"),
        ).collect()[0]

    a = content_hash(df)
    b = content_hash(decoded)
    sizes = blobs.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
    ).collect()[0]
    blobs.unpersist()
    ok = a["rows"] == b["rows"] and a["hash_sum"] == b["hash_sum"]
    return ok, {
        "rows": a["rows"],
        "raw_bytes": sizes["raw"],
        "enc_bytes": sizes["enc"],
        "ratio": (sizes["raw"] or 1) / max(1, sizes["enc"] or 1),
    }
