"""M4 — the Spark encode/decode path.

Encode, two entry points:
- ``encode_files`` (the 100-TB path): one task per parquet row-group
  range; python workers scan with pyarrow directly and write blob part
  files from inside the task — row data never crosses the JVM, only
  stats rows return.
- ``encode_table``: ``df.mapInArrow(encode_fn, BLOB_SCHEMA)`` for
  arbitrary DataFrames — each task accumulates its partition's Arrow
  batches into *stripes* of ``stripe_rows`` rows (the analogue of the
  reference's scan batch unit, file_source.rs:31, and of ORC stripes,
  SURVEY.md §1.4/§1.5), encodes every column with the E9-selected codec,
  and emits one blob row per (stripe, column) plus stats.
Both are embarrassingly parallel: no shuffle in the hot path (mirrors
the reference's execution shape, SURVEY.md §4.2).

Decode: partition-local by default — encode emits each stripe's columns
contiguously from one task, so ``mapInArrow`` with a local group-by
rebuilds rows with ZERO Exchange (bit-identical round-trip — the
north-rule invariant); ``shuffle=True`` falls back to
``groupBy(stripe_id).applyInArrow`` for scattered blob tables.

Column pruning on decode = a ``WHERE column IN (...)`` filter on the
blob table before the group-decode — the Spark-side analogue of the
reference's projection pushdown (file_source.rs:95-102).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

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

from datafusion_orc_spark.format.stripe import decode_stripe, encode_stripe

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
    import os
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


def _encode_stream(
    batches: Iterator[pa.RecordBatch],
    stripe_rows: int,
    part_id: int,
    job_token: int,
    seq_start: int = 0,
    seq_end: int | None = None,
) -> Iterator[pa.RecordBatch]:
    """Shared per-task encode loop: accumulate Arrow batches into stripes
    of ``stripe_rows`` rows, encode each column with the E9-selected
    codec, emit one blob row per (stripe, column).

    ``seq_end``: exclusive upper bound on ``seq`` (the files path gives
    each split a 65536-stripe window — overflowing into the next split's
    window would silently collide stripe_ids, so it raises instead)."""
    seq = seq_start
    buf: list[pa.RecordBatch] = []
    buffered = 0

    def flush(final: bool) -> Iterator[pa.RecordBatch]:
        nonlocal seq, buf, buffered
        if not buf:
            return
        table = pa.Table.from_batches(buf).combine_chunks()
        pos = 0
        # emit full stripes; keep a partial tail buffered unless final
        while table.num_rows - pos >= stripe_rows or (final and pos < table.num_rows):
            take = min(stripe_rows, table.num_rows - pos)
            stripe = table.slice(pos, take).to_batches()[0]
            blobs, stats = encode_stripe(stripe, namespace=f"{job_token:04x}")
            # layout: token(16) << 47 | part(16) << 31 | seq(31) = 63
            # bits, always positive in int64. seq at 31 bits carries
            # 2^15 split windows x 2^16 stripes per task (the r7 sf3
            # probe overflowed the old 24-bit seq at 256 splits/task —
            # a 2.5B-token input at parallelism 2)
            if part_id >= (1 << 16) or seq >= (1 << 31):
                raise ValueError(
                    f"stripe_id packing overflow: part_id={part_id} (max 65535), "
                    f"seq={seq} (max {(1 << 31) - 1}) — widen the packing before "
                    f"running with >65536 partitions"
                )
            if seq_end is not None and seq >= seq_end:
                raise ValueError(
                    f"stripe_id packing overflow: seq={seq} reached this split's "
                    f"window end {seq_end} (65536 stripes/split) — raise "
                    f"stripe_rows or lower row_groups_per_split"
                )
            stripe_id = (job_token << 47) | (part_id << 31) | seq
            seq += 1
            pos += take
            yield _blob_batch(stripe_id, part_id, blobs, stats)
        tail = table.slice(pos)
        buf = [b for b in tail.to_batches() if b.num_rows] if tail.num_rows else []
        buffered = tail.num_rows

    for batch in batches:
        if batch.num_rows == 0:
            continue
        buf.append(batch)
        buffered += batch.num_rows
        if buffered >= stripe_rows:
            yield from flush(final=False)
    yield from flush(final=True)


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
    import uuid as _uuid

    _ensure_workers_can_import(df)
    if job_token is None:
        job_token = _uuid.uuid4().int & 0xFFFF
    job_token &= 0xFFFF

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        yield from _encode_stream(batches, stripe_rows, TaskContext.get().partitionId(), job_token)

    return df.mapInArrow(encode_fn, BLOB_SCHEMA)


def encode_files(
    spark,
    path_or_glob: str,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    job_token: int | None = None,
    columns: list[str] | None = None,
    output_dir: str | None = None,
    row_groups_per_split: int = 1,
    parallelism: int | None = None,
    discard_output: bool = False,
    recycle_output: bool = False,
    bytes_per_file: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Parquet files -> blob table WITHOUT moving row data through the JVM.

    The 100-TB encode path: the driver plans one task per parquet
    row-group range (metadata-only reads); each python worker scans its
    row groups directly with pyarrow (C++ reader, zero-copy into the
    numpy kernels) and — when ``output_dir`` is given — writes its blob
    rows as parquet part files from inside the task (byte-rolled at
    ``bytes_per_file``, so tasks emit few large files rather than one
    per row-group split), emitting only the tiny stats rows. Compare encode_table, which encodes an arbitrary
    DataFrame but pays JVM->Python Arrow IPC for every row; here the
    token arrays never cross a process boundary uncompressed. This
    mirrors the reference's architecture (scan + decode live in one
    native process, physical_exec.rs:57-91) while keeping Spark as the
    scheduler/scale-out layer.

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
    split indices), so the directory's final contents are identical to
    a fresh write. Trade-off: a reader scanning the directory MID-WRITE
    can observe a half-written file (the rename path never exposes one);
    use the default for live-published tables, recycle for owned
    re-run/benchmark output directories.
    """
    import uuid as _uuid

    import pyarrow.parquet as _pq

    from datafusion_orc_spark.sources.objectstore import resolve_store

    if job_token is None:
        job_token = _uuid.uuid4().int & 0xFFFF
    job_token &= 0xFFFF

    # listing through the object-store seam: local paths behave exactly
    # as before (glob), s3://-style URIs list/glob through fsspec or
    # pyarrow.fs (ref object_store_reader.rs:39-59 — one IO trait
    # serves listing, metadata, and data reads alike)
    if isinstance(path_or_glob, (list, tuple)):
        paths = sorted(path_or_glob)
    else:
        in_store, norm = resolve_store(path_or_glob)
        if any(c in norm for c in "*?["):
            paths = in_store.glob(norm)
        elif in_store.isdir(norm):
            paths = in_store.list(norm, suffix=".parquet")
        else:
            paths = [norm]
    if not paths:
        raise FileNotFoundError(path_or_glob)

    def _open_meta(p: str):
        st, np_ = resolve_store(p)
        if type(st).__name__ == "LocalStore":
            return _pq.ParquetFile(np_)  # let Arrow C++ own the fd
        return _pq.ParquetFile(st.open_input(np_))

    splits: list[tuple[str, int, int]] = []
    for p in paths:
        n_rg = _open_meta(p).metadata.num_row_groups
        for start in range(0, n_rg, row_groups_per_split):
            splits.append((p, start, min(row_groups_per_split, n_rg - start)))

    # parallelism: concurrent-task cap — one split per task by default;
    # fewer partitions = tasks process several splits sequentially (used
    # by the bench's N-vs-4N ladder to vary parallelism inside ONE warm
    # session instead of restarting JVMs). parallelize(n) slices the
    # split list directly into n partitions — a createDataFrame +
    # repartition() here planned an Exchange, i.e. a whole extra stage
    # barrier + AQE replan per encode job, pure scheduler tax on a job
    # whose row data never touches the JVM
    n_parts = min(parallelism if parallelism else len(splits), len(splits))
    if n_parts < len(splits):
        # strided reorder so each contiguous parallelize-slice gets a
        # round-robin sample of files (balances skewed file sizes the way
        # repartition's round-robin did, without the shuffle)
        splits = [splits[i] for k in range(n_parts) for i in range(k, len(splits), n_parts)]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(splits, n_parts),
        "path string, rg_start int, n_rg int",
    )
    _ensure_workers_can_import(sdf)
    if recycle_output and output_dir is not None:
        # in-place overwrite has no tmp+rename fence, so two CONCURRENT
        # attempts of one task (speculative execution) could interleave
        # writes into the same path — refuse up front (ADVICE r6).
        # Plain retries are safe: the task-side writer falls back to
        # attempt-suffixed tmp+rename when attemptNumber() > 0.
        spec = spark.sparkContext.getConf().get("spark.speculation", "false")
        if (spec or "false").lower() == "true":
            raise ValueError(
                "recycle_output=True is incompatible with speculative "
                "execution (spark.speculation=true): two live attempts "
                "would overwrite the same part file in place"
            )
        # driver-side stale cleanup: a previous run at HIGHER parallelism
        # left part files for partition ids no task of this run owns —
        # remove them now so the recycled directory's final contents
        # match a fresh write (tasks clean their own split indices)
        import glob as _glob
        import os as _os

        from datafusion_orc_spark.sources.objectstore import LocalStore as _LS

        o_store, o_path = resolve_store(output_dir)
        if isinstance(o_store, _LS):
            for p in _glob.glob(f"{o_path}/part-*.parquet") + _glob.glob(
                f"{o_path}/.part-*.tmp"
            ):
                base = _os.path.basename(p).lstrip(".")
                try:
                    pid = int(base.split("-")[1])
                except (IndexError, ValueError):
                    continue
                if pid >= n_parts or p.endswith(".tmp"):
                    _os.unlink(p)
    stats_schema = StructType([f for f in BLOB_SCHEMA.fields if f.name != "data"])

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        from datafusion_orc_spark.sources.objectstore import LocalStore, resolve_store

        # one worker = one core: N workers each spawning pyarrow's
        # default cpu_count-sized thread pool oversubscribes the box N×
        # (32 workers × 32 threads = 1024 runnable threads)
        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(2)

        out_store = out_path = None
        if output_dir is not None:
            out_store, out_path = resolve_store(output_dir)
            out_store.makedirs(out_path)
        part_id = TaskContext.get().partitionId()
        # retries never recycle: attempt 0 may have died mid-write, so the
        # in-place file could be half-written — a retry rewrites it through
        # an attempt-suffixed tmp + rename instead (ADVICE r6; speculation
        # is rejected driver-side)
        task_attempt = TaskContext.get().attemptNumber()
        recycle_this_attempt = recycle_output and task_attempt == 0
        k = 0
        # byte-rolled output: blob batches stream into one open part
        # file across splits and the file rolls once ``bytes_per_file``
        # is reached, so a task emits few LARGE part files instead of
        # one file per row-group split — at sf1 that is 32 ~150 MB
        # files instead of 640 ~7 MB ones. Object stores and
        # shuffle-free decode scans both want big files; roll points
        # are deterministic (split order and encoded sizes are), so
        # recycle re-runs still overwrite the exact same names in
        # place.
        # Streaming writer state: blob batches append to ONE open
        # ParquetWriter (a row group per append) and the file rolls to
        # the next name once ``bytes_per_file`` is reached — stores
        # spread across the task's whole lifetime instead of bursting
        # the full buffered file at task end (8 balanced tasks used to
        # finish together and issue a synchronized multi-GB store
        # storm; writeback-sensitive walls paid it), and the task never
        # holds more than one blob batch in write-side memory. Blob
        # bytes are already entropy-packed: snappy on top wastes CPU
        # for ~0% gain.
        writer = None  # open pq.ParquetWriter for the current part file
        writer_fh = None  # underlying file object (recycle/object-store)
        writer_tmp = None  # tmp name awaiting rename (atomic local mode)
        written_bytes = 0
        file_seq = 0

        def _open_writer():
            nonlocal writer, writer_fh, writer_tmp
            name = f"part-{part_id:05d}-{file_seq:03d}.parquet"
            if recycle_this_attempt and isinstance(out_store, LocalStore):
                # in-place overwrite: reuse the existing file's
                # already-faulted page-cache pages (see docstring)
                import os as _os

                full = f"{out_path}/{name}"
                writer_fh = open(full, "r+b" if _os.path.exists(full) else "w+b")
                sink = writer_fh
            elif isinstance(out_store, LocalStore):
                # local: write-then-rename for atomic visibility;
                # attempt-suffixed so a zombie attempt 0 and a retry
                # never write the same tmp path
                writer_tmp = f"{out_path}/.{name}.attempt{task_attempt}.tmp"
                sink = writer_tmp
            else:
                # object stores: a single streamed PUT is atomic
                writer_fh = out_store.open_output(f"{out_path}/{name}")
                sink = writer_fh
            writer = pq.ParquetWriter(sink, _BLOB_PA_SCHEMA, compression="none")

        def _close_writer():
            nonlocal writer, writer_fh, writer_tmp, written_bytes, file_seq
            if writer is None:
                return
            writer.close()
            if writer_fh is not None:
                if recycle_this_attempt and isinstance(out_store, LocalStore):
                    writer_fh.truncate()  # previous run's tail, if longer
                writer_fh.close()
                writer_fh = None
            if writer_tmp is not None:
                name = f"part-{part_id:05d}-{file_seq:03d}.parquet"
                out_store.rename(writer_tmp, f"{out_path}/{name}")
                writer_tmp = None
            writer = None
            written_bytes = 0
            file_seq += 1

        def _emit(bb: pa.RecordBatch):
            nonlocal written_bytes
            if writer is None:
                _open_writer()
            writer.write_table(pa.Table.from_batches([bb], schema=_BLOB_PA_SCHEMA))
            written_bytes += bb.nbytes
            if written_bytes >= bytes_per_file:
                _close_writer()

        for b in batches:
            for path, rg_start, n_rg in zip(
                b.column(0).to_pylist(), b.column(1).to_pylist(), b.column(2).to_pylist()
            ):
                in_store, in_path = resolve_store(path)
                local_in = isinstance(in_store, LocalStore)
                pf = pq.ParquetFile(in_path if local_in else in_store.open_input(in_path))
                src = pf.iter_batches(
                    batch_size=stripe_rows,
                    row_groups=list(range(rg_start, rg_start + n_rg)),
                    columns=columns,
                    use_threads=False,
                )
                # distinct seq range per split within this task (k < 32768
                # with the 31-bit seq, 65536 stripes per split) so
                # stripe_ids never collide
                blob_batches = _encode_stream(
                    src, stripe_rows, part_id, job_token,
                    seq_start=k << 16, seq_end=(k + 1) << 16,
                )
                if discard_output:
                    for bb in blob_batches:  # encode fully, keep stats only
                        yield from pa.Table.from_batches(
                            [bb], schema=_BLOB_PA_SCHEMA
                        ).drop_columns("data").to_batches()
                elif output_dir is None:
                    yield from blob_batches
                else:
                    for bb in blob_batches:
                        _emit(bb)
                        yield from pa.Table.from_batches(
                            [bb], schema=_BLOB_PA_SCHEMA
                        ).drop_columns("data").to_batches()
                k += 1
        _close_writer()
        if recycle_output and out_store is not None and isinstance(out_store, LocalStore):
            # task-side stale cleanup: this partition wrote files
            # 0..file_seq-1; higher file indices are leftovers from a
            # previous run whose roll layout was longer — remove them
            # so the directory matches a fresh write exactly
            import glob as _glob
            import os as _os

            for p in _glob.glob(f"{out_path}/part-{part_id:05d}-*.parquet"):
                try:
                    kk = int(p.rsplit("-", 1)[1].split(".")[0])
                except ValueError:
                    continue
                if kk >= file_seq:
                    _os.unlink(p)

    return sdf.mapInArrow(
        enc, BLOB_SCHEMA if output_dir is None and not discard_output else stats_schema
    )


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

    Split planning is scale-adaptive: one split per parquet row group
    (metadata-only reads, like ``encode_files``); when — and only when —
    the input has fewer row groups than the parallelism target (the
    single-row-group bench fixtures), row groups are subdivided into
    stripe-aligned ROW RANGES and each task streams its row group with
    ``iter_batches``, skipping rows outside its range (decode of the
    leading pages is repeated across tasks; at production row-group
    counts the condition is false and no subdivision — hence no repeated
    read — happens, the same environment-derived-floor rule as
    ``_t_parallel``).

    ``batch_transform``: optional ``pa.Table -> pa.Table`` applied to
    the decoded projection in chunks of ``transform_flush_rows`` rows
    (one application per task at bench split sizes; bounded memory at
    100-TB split counts), with ``transform_schema`` as the output
    StructType — the §2.3 "aggregate before you shuffle" hook: its
    output rows must be PARTIALS the caller's downstream aggregate
    re-combines, which also makes per-chunk application equivalent to
    per-task application. The caller owns proving its reduction is
    equivalent to the unfused aggregate.
    """
    import uuid as _uuid

    import pyarrow.parquet as _pq

    from datafusion_orc_spark.sources.objectstore import resolve_store

    if job_token is None:
        job_token = _uuid.uuid4().int & 0xFFFF
    job_token &= 0xFFFF
    if (batch_transform is None) != (transform_schema is None):
        raise ValueError("batch_transform and transform_schema must be passed together")

    if isinstance(path_or_glob, (list, tuple)):
        paths = sorted(path_or_glob)
    else:
        in_store, norm = resolve_store(path_or_glob)
        if any(c in norm for c in "*?["):
            paths = in_store.glob(norm)
        elif in_store.isdir(norm):
            paths = in_store.list(norm, suffix=".parquet")
        else:
            paths = [norm]
    if not paths:
        raise FileNotFoundError(path_or_glob)

    def _open_pf(p: str):
        st, np_ = resolve_store(p)
        if type(st).__name__ == "LocalStore":
            return _pq.ParquetFile(np_)
        return _pq.ParquetFile(st.open_input(np_))

    target = parallelism or spark.sparkContext.defaultParallelism
    rg_sizes: list[tuple[str, int, int]] = []  # (path, rg, n_rows)
    for p in paths:
        md = _open_pf(p).metadata
        for rg in range(md.num_row_groups):
            n = md.row_group(rg).num_rows
            if n:
                rg_sizes.append((p, rg, n))
    splits = _plan_row_splits(rg_sizes, target, stripe_rows)
    n_parts = min(len(splits), target)
    if n_parts < len(splits):
        # strided reorder: round-robin sample of files per parallelize slice
        splits = [splits[i] for k in range(n_parts) for i in range(k, len(splits), n_parts)]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(splits, n_parts),
        "path string, rg int, row_start long, row_end long",
    )
    _ensure_workers_can_import(sdf)

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
    do_transform = batch_transform

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa
        import pyarrow.parquet as pq

        from datafusion_orc_spark.sources.objectstore import LocalStore, resolve_store

        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(2)

        def ranged(pf, rg: int, r0: int, r1: int):
            """In-range slices of one row group, streamed; stops decoding
            at the last needed page (rows past r1 are never decoded)."""
            off = 0
            # batch_size is a read granularity only — stripes() re-slices
            # to exact stripe_rows boundaries, so stripe contents are
            # identical for any batch_size (bigger reads decode ~20%
            # faster on this box)
            bs = max(stripe_rows, 65536)
            for b in pf.iter_batches(batch_size=bs, row_groups=[rg], use_threads=False):
                n = b.num_rows
                lo, hi = max(r0, off), min(r1, off + n)
                if hi > lo:
                    yield b.slice(lo - off, hi - lo)
                off += n
                if off >= r1:
                    return

        def stripes(src):
            """Accumulate slices into stripes of ``stripe_rows`` rows
            (same unit as _encode_stream; deterministic per split)."""
            buf: list[pa.RecordBatch] = []
            buffered = 0
            for b in src:
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
                    tail = table.slice(pos)
                    buf = [bb for bb in tail.to_batches() if bb.num_rows] if tail.num_rows else []
                    buffered = tail.num_rows
            if buffered:
                table = pa.Table.from_batches(buf).combine_chunks()
                yield table.to_batches()[0]

        # bounded partial-agg buffer: the transform's output rows are
        # PARTIALS the downstream Spark aggregate re-combines, so it is
        # applied per ~1M decoded rows and re-yielded — a task never
        # holds more than the chunk of its decoded projection in memory
        # no matter how many splits it owns (the 100-TB case), and at
        # bench split sizes (<1M rows/task) this is one flush per task,
        # identical to a single per-task application. Chunk boundaries
        # are deterministic (split order is), so partials — and the
        # combined result — are reproducible.
        decoded: list[pa.RecordBatch] = []
        decoded_rows = 0
        flush_rows = transform_flush_rows

        def flush_transform():
            nonlocal decoded, decoded_rows
            out = do_transform(pa.Table.from_batches(decoded))
            decoded = []
            decoded_rows = 0
            yield from out.to_batches()

        for b in batches:
            for path, rg, r0, r1 in zip(
                b.column(0).to_pylist(),
                b.column(1).to_pylist(),
                b.column(2).to_pylist(),
                b.column(3).to_pylist(),
            ):
                in_store, in_path = resolve_store(path)
                pf = pq.ParquetFile(
                    in_path if isinstance(in_store, LocalStore) else in_store.open_input(in_path)
                )
                for stripe in stripes(ranged(pf, rg, r0, r1)):
                    blobs, _stats = encode_stripe(stripe, namespace=ns)
                    dec = decode_stripe(blobs, stripe.schema, columns=names)
                    if do_transform is None:
                        yield dec
                    else:
                        decoded.append(dec)
                        decoded_rows += dec.num_rows
                        if decoded_rows >= flush_rows:
                            yield from flush_transform()
        if do_transform is not None and decoded:
            yield from flush_transform()

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
    from pyspark.sql.pandas.types import to_arrow_schema

    _ensure_workers_can_import(blobs_df)
    if schema is None:
        schema = to_arrow_schema(spark_schema)
    if columns is not None:
        unknown = set(columns) - set(schema.names)
        if unknown:
            raise ValueError(f"decode: unknown columns {sorted(unknown)}")
        # normalize the projection to SCHEMA order: the output StructType
        # preserves schema order, so the decoded Arrow batches must too (a
        # caller-order projection decoded fine but mis-bound column
        # vectors JVM-side)
        names = [nm for nm in schema.names if nm in set(columns)]
    else:
        names = list(schema.names)
    if where is not None:
        # auto-wire stripe pruning from the predicate's simple integer
        # comparisons (the DataSource's pushFilters analogue for the
        # functional decode path); the FULL predicate is re-applied on
        # the decoded rows below, so pruning is purely an optimization
        auto = prune_bounds_from_predicate(where)
        prune = {**auto, **(prune or {})}
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
        spark_schema = StructType([f for f in spark_schema.fields if f.name in columns])
    expected = set(names)

    prune_cols = dict(prune) if prune else None

    def _stripe_batch(blob_by_col: dict) -> pa.RecordBatch | None:
        """Decode one stripe, applying sub-block (D19 ROW_INDEX-stride)
        pruning when bounds are known: blocks whose local [min, max]
        cannot match are dropped before Arrow assembly; a stripe whose
        every block fails is skipped outright."""
        ranges = None
        if prune_cols:
            from datafusion_orc_spark.format.stripe import prune_row_ranges

            ranges = prune_row_ranges(blob_by_col, prune_cols)
            if ranges == []:
                return None
        return decode_stripe(blob_by_col, schema, columns=names, row_ranges=ranges)

    if shuffle:

        def decode_fn(table: pa.Table) -> pa.Table:
            blob_by_col = dict(zip(table.column("column").to_pylist(), table.column("data").to_pylist()))
            batch = _stripe_batch(blob_by_col)
            proj = pa.schema([schema.field(nm) for nm in names])
            return pa.Table.from_batches([batch] if batch is not None else [], schema=proj)

        out = blobs_df.groupBy("stripe_id").applyInArrow(decode_fn, spark_schema)
        return out.filter(where) if where is not None else out

    def decode_local(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # partition-local group-by: accumulate blob rows per stripe_id,
        # decode as soon as a stripe has all projected columns
        pending: dict[int, dict[str, bytes]] = {}
        for b in batches:
            sids = b.column("stripe_id").to_pylist()
            cols = b.column("column").to_pylist()
            data = b.column("data").to_pylist()
            for sid, col, blob in zip(sids, cols, data):
                if col not in expected:
                    continue
                got = pending.setdefault(sid, {})
                got[col] = blob
                if len(got) == len(expected):
                    batch = _stripe_batch(got)
                    if batch is not None:
                        yield batch
                    del pending[sid]
        if pending:
            raise ValueError(
                f"decode_table(shuffle=False): stripes {sorted(pending)[:8]} are "
                f"missing columns within their partition — the blob table was "
                f"repartitioned after encode; pass shuffle=True"
            )

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
    bytes_per_file: int = 256 * 1024 * 1024,
    compression: str = "snappy",
    schema: pa.Schema | None = None,
    use_dictionary: bool | list = False,
    write_statistics: bool | list = False,
) -> DataFrame:
    """Partition-local decode that writes the decoded rows to parquet
    part files from INSIDE the task — the encode_files write path
    applied to the decode direction. Decoded rows never cross into the
    JVM (no Arrow transfer, no per-batch Spark write job, no commit
    protocol): each task streams its stripes through ONE open
    ParquetWriter (a row group per decoded stripe, byte-rolled at
    ``bytes_per_file``) and returns a single stats row. This is the
    streaming sink's fast path (start_incremental_decode sink="files"),
    where the foreachBatch ``rows.write.parquet`` job was measured at
    >50% of the micro-batch wall (BENCH r6 sink-mode sweep).
    Files stage through attempt-suffixed tmp names and rename on close,
    so retries/speculation never interleave and readers see only
    complete files.

    ``use_dictionary``/``write_statistics`` default OFF: parquet
    dictionary encoding + page statistics on a high-entropy
    ``array<int32>`` token column cost ~2x the whole write (measured
    620 -> 320 ms per 16k-row group) for stats no reader of a decoded
    materialization uses; pass column-name lists to re-enable them
    selectively (e.g. ``use_dictionary=["source"]``) when the output is
    a long-lived table rather than a downstream-compute handoff —
    dictionary does halve the token bytes on disk.

    ``prune`` bounds are INTEGER-column-only here (bounds are cast with
    int(); string-keyed pruning is supported by read_orc_distributed,
    not by this sink — r7 advice)."""
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_schema

    from datafusion_orc_spark.format.stripe import decode_stripe, prune_row_ranges
    from datafusion_orc_spark.sources.objectstore import LocalStore, resolve_store

    _ensure_workers_can_import(blobs_df)
    if schema is None:
        schema = to_arrow_schema(spark_schema)
    if columns is not None:
        unknown = set(columns) - set(schema.names)
        if unknown:
            raise ValueError(f"decode: unknown columns {sorted(unknown)}")
        # normalize the projection to SCHEMA order: the output StructType
        # preserves schema order, so the decoded Arrow batches must too (a
        # caller-order projection decoded fine but mis-bound column
        # vectors JVM-side)
        names = [nm for nm in schema.names if nm in set(columns)]
    else:
        names = list(schema.names)
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
    expected = set(names)
    proj = pa.schema([schema.field(nm) for nm in names])
    prune_cols = dict(prune) if prune else None

    def dec_write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa

        _pa.set_cpu_count(1)  # no per-worker thread-pool oversubscription
        out_store, out_path = resolve_store(output_dir)
        out_store.makedirs(out_path)
        tc = TaskContext.get()
        part_id, attempt = tc.partitionId(), tc.attemptNumber()
        local = isinstance(out_store, LocalStore)

        writer = writer_fh = writer_tmp = None
        written_bytes = 0
        total_bytes = 0  # raw Arrow bytes streamed through the writer
        file_seq = 0
        n_files = 0
        n_rows = 0

        def _open():
            nonlocal writer, writer_fh, writer_tmp
            name = f"part-{part_id:05d}-{file_seq:03d}.parquet"
            if local:
                writer_tmp = f"{out_path}/.{name}.attempt{attempt}.tmp"
                sink = writer_tmp
            else:
                writer_fh = out_store.open_output(f"{out_path}/{name}")
                sink = writer_fh
            writer = pq.ParquetWriter(
                sink, proj, compression=compression,
                use_dictionary=use_dictionary, write_statistics=write_statistics,
            )

        def _close():
            nonlocal writer, writer_fh, writer_tmp, written_bytes, file_seq, n_files, total_bytes
            if writer is None:
                return
            total_bytes += written_bytes
            writer.close()
            if writer_fh is not None:
                writer_fh.close()
                writer_fh = None
            if writer_tmp is not None:
                name = f"part-{part_id:05d}-{file_seq:03d}.parquet"
                out_store.rename(writer_tmp, f"{out_path}/{name}")
                writer_tmp = None
            writer = None
            written_bytes = 0
            file_seq += 1
            n_files += 1

        def _emit(batch: pa.RecordBatch):
            nonlocal written_bytes, n_rows
            if writer is None:
                _open()
            writer.write_table(pa.Table.from_batches([batch], schema=proj))
            written_bytes += batch.nbytes
            n_rows += batch.num_rows
            if written_bytes >= bytes_per_file:
                _close()

        pending: dict[int, dict[str, bytes]] = {}
        total_in = 0
        for b in batches:
            sids = b.column("stripe_id").to_pylist()
            cols = b.column("column").to_pylist()
            data = b.column("data").to_pylist()
            for sid, col, blob in zip(sids, cols, data):
                if col not in expected:
                    continue
                got = pending.setdefault(sid, {})
                got[col] = blob
                if len(got) == len(expected):
                    ranges = None
                    if prune_cols:
                        ranges = prune_row_ranges(got, prune_cols)
                    if ranges != []:
                        batch = decode_stripe(got, schema, columns=names, row_ranges=ranges)
                        if batch is not None:
                            _emit(batch)
                    del pending[sid]
                    total_in += 1
        if pending:
            raise ValueError(
                f"decode_to_files: stripes {sorted(pending)[:8]} are missing "
                f"columns within their partition — the blob table was "
                f"repartitioned after encode; decode with decode_table(shuffle=True)"
            )
        _close()
        yield pa.record_batch(
            [
                pa.array([part_id], pa.int32()),
                pa.array([n_files], pa.int32()),
                pa.array([n_rows], pa.int64()),
                pa.array([total_bytes], pa.int64()),
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
