"""Distributed ORC scan built on the engine's pure-python ORC reader.

This is the reference's role re-expressed as a Spark operator: the
reference plugs a per-file ORC->Arrow opener into DataFusion's scan
(`OrcOpener::open`, src/physical_exec.rs:57-91; one `FileOpenFuture`
per `PartitionedFile`, byte-range splits via `with_file_byte_range`,
physical_exec.rs:79-82); here the driver reads only file TAILS (schema
+ stripe directory), plans one Spark task per stripe-range, and each
task streams per-stripe Arrow record batches out of ``mapInArrow`` —
stripe-level parallelism, ranged reads, no whole-file materialization,
no shuffle.

Schema handling mirrors `file_format.rs:90-103` (`Schema::try_merge`
over path-sorted files): the merged schema is the field union in
path-sorted first-seen order; a same-name/different-type conflict is an
error; files missing a merged field yield nulls for it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

# split planning: pack contiguous stripes of one file into a task until
# the task holds ~this many (compressed) bytes — the Spark-side analogue
# of spark.sql.files.maxPartitionBytes for our scan
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024
DEFAULT_BATCH_ROWS = 8192


def _boundary_cast(a: pa.Array, want: pa.DataType) -> pa.Array:
    """Cast a decoded column to the merged (Spark-facing) schema type.

    ns -> us timestamps FLOOR toward -inf: ORC legally stores nanosecond
    components (ORC-Java/C++ writers emit them), Spark's native precision
    is microseconds, and Spark's own ORC reader truncates rather than
    fails — Arrow's default safe cast would raise ArrowInvalid on any
    nonzero sub-microsecond remainder inside the scan task. Floor (not
    truncate-toward-zero) keeps pre-epoch values consistent with epoch
    arithmetic: -1ns is 1969-12-31T23:59:59.999999999, which floors to
    ...999999us, not to 1970-01-01T00:00:00.
    """
    if (
        pa.types.is_timestamp(a.type)
        and pa.types.is_timestamp(want)
        and a.type.unit == "ns"
        and want.unit == "us"
    ):
        import pyarrow.compute as pc

        iv = a.view(pa.int64())
        q = pc.divide(iv, 1000)  # integer divide truncates toward zero
        rem = pc.not_equal(pc.multiply(q, 1000), iv)
        neg = pc.less(iv, 0)
        q = pc.subtract(q, pc.cast(pc.and_(rem, neg), pa.int64()))
        return q.view(want)
    return a.cast(want)


def merge_schemas(schemas: list[pa.Schema]) -> pa.Schema:
    """Field-union merge in first-seen order (ref file_format.rs:90-103)."""
    fields: dict[str, pa.Field] = {}
    for sch in schemas:
        for f in sch:
            prev = fields.get(f.name)
            if prev is None:
                fields[f.name] = f
            elif prev.type != f.type:
                raise TypeError(
                    f"schema merge conflict on column '{f.name}': "
                    f"{prev.type} vs {f.type}"
                )
    return pa.schema(list(fields.values()))


# bounded driver-side metadata concurrency (the reference's
# meta_fetch_concurrency, file_format.rs:83-88): footer reads are tiny
# ranged reads, so a small thread pool hides IO latency over many files
META_FETCH_CONCURRENCY = 8


def plan_splits(paths: list[str], split_bytes: int = DEFAULT_SPLIT_BYTES, opener=None):
    """Tail-read every file (metadata only, concurrently), return
    (splits, merged_schema).

    Each split is (path, first_stripe, n_stripes): contiguous stripes of
    one file packed up to ``split_bytes`` of stripe data — so one huge
    multi-stripe file fans out over many tasks instead of one straggler.
    """
    from concurrent.futures import ThreadPoolExecutor

    from datafusion_orc_spark.format.orc_reader import OrcReader

    ordered = sorted(paths)

    def fetch(p):
        r = OrcReader(p, opener=opener)
        return r.schema(), r.footer.stripes

    with ThreadPoolExecutor(min(META_FETCH_CONCURRENCY, max(1, len(ordered)))) as ex:
        metas = list(ex.map(fetch, ordered))

    schemas = []
    splits: list[tuple[str, int, int]] = []
    for p, (schema, stripes) in zip(ordered, metas):
        schemas.append(schema)
        start, acc = 0, 0
        for i, info in enumerate(stripes):
            acc += info.index_length + info.data_length + info.footer_length
            if acc >= split_bytes:
                splits.append((p, start, i - start + 1))
                start, acc = i + 1, 0
        if start < len(stripes):
            splits.append((p, start, len(stripes) - start))
        if not stripes:
            splits.append((p, 0, 0))  # schema-only file: contributes 0 rows
    return splits, merge_schemas(schemas)


def read_orc_distributed(
    spark: SparkSession,
    path_or_glob: str,
    columns: list[str] | None = None,
    split_bytes: int = DEFAULT_SPLIT_BYTES,
    batch_rows: int = DEFAULT_BATCH_ROWS,
    opener=None,
    file_extension: str | None = ".orc",
    prune: dict | None = None,
    where: str | None = None,
) -> DataFrame:
    """Scan ORC files with OUR reader, one task per stripe-range.

    ``where``: a SQL predicate string — simple integer comparison
    conjuncts are auto-derived into ``prune`` bounds (same parser as
    decode_table(where=)) and the FULL predicate is re-applied exactly
    on the scanned rows, so pruning is pure speedup, never semantics.
    ``prune``: {column: (lo, hi)} statistics pushdown — each task skips
    stripes via the file Metadata stats (zero reads) and row groups via
    ROW_INDEX (format/orc_reader.py iter_stripes); conservative, callers
    re-apply the exact predicate on the returned rows.

    ``columns`` is the projection pushed into the per-stripe decode
    (name -> ORC column mask, the physical_exec.rs:69-78 analogue);
    ``batch_rows`` bounds each streamed Arrow batch (file_source.rs:31).
    ``opener``: optional picklable ``path -> seekable binary file``
    callable — the ObjectStoreReader seam (object_store_reader.rs:39-59).
    When None, the path's scheme picks the store automatically
    (sources/objectstore.py): plain paths read through os.open, while
    ``s3://``-style URIs get ranged reads + listing through
    fsspec/pyarrow.fs, on the driver (metadata) and executors (stripes)
    alike.
    ``file_extension``: reject non-matching paths, the reference's
    extension validation (lib.rs:138-146); None disables the check.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    from datafusion_orc_spark.operators.encode import (
        _ensure_workers_can_import,
        _list_inputs,
        prune_bounds_from_predicate,
    )
    from datafusion_orc_spark.sources.objectstore import (
        LocalStore,
        StoreOpener,
        resolve_store,
    )

    if where is not None:
        derived = prune_bounds_from_predicate(where)
        if derived:
            prune = {**derived, **(prune or {})}
    if opener is None:
        paths = _list_inputs(path_or_glob, file_extension)
        store, _ = resolve_store(path_or_glob)
        if not isinstance(store, LocalStore):
            opener = StoreOpener(store)
    else:
        paths = [path_or_glob]
    if file_extension is not None:
        bad = [p for p in paths if not p.endswith(file_extension)]
        if bad:
            raise ValueError(
                f"read_orc_distributed: {len(bad)} path(s) do not end with "
                f"'{file_extension}' (e.g. {bad[0]!r}); pass file_extension=None "
                f"to scan anyway"
            )
    splits, merged = plan_splits(paths, split_bytes, opener)
    if columns is not None:
        merged = pa.schema([merged.field(c) for c in columns])
    # Spark's Arrow bridge rejects nanosecond timestamps: surface ORC
    # TIMESTAMP as microseconds (Spark's native precision); the decode
    # stays ns-exact until this boundary cast
    merged = pa.schema([
        f.with_type(pa.timestamp("us", tz=f.type.tz))
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in merged
    ])
    spark_schema = from_arrow_schema(merged)
    out_names = list(merged.names)

    # parallelize(n) slices the split list directly into one partition
    # per split — createDataFrame(...).repartition() here planned an
    # Exchange over the (tiny) split list: an extra stage barrier + AQE
    # replan per scan, the exact scheduler tax encode_files removes the
    # same way (operators/encode.py parallelize slicing)
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p, s, n) for p, s, n in splits], len(splits)
        ),
        "path string, first_stripe int, n_stripes int",
    )
    _ensure_workers_can_import(sdf)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from datafusion_orc_spark.format.orc_reader import OrcReader

        for b in batches:
            for path, first, cnt in zip(
                b.column(0).to_pylist(), b.column(1).to_pylist(), b.column(2).to_pylist()
            ):
                if cnt == 0:
                    continue
                r = OrcReader(path, opener=opener)
                have = set(r.schema().names)
                local_cols = [c for c in out_names if c in have]
                for rb in r.iter_stripes(
                    columns=local_cols,
                    stripes=list(range(first, first + cnt)),
                    batch_rows=batch_rows,
                    prune=prune,
                ):
                    # pad fields this file lacks with nulls, order to merged
                    arrays = []
                    for name in out_names:
                        want = merged.field(name).type
                        if name in have:
                            a = rb.column(rb.schema.get_field_index(name))
                            if a.type != want:  # ns -> us boundary cast (floor)
                                a = _boundary_cast(a, want)
                            arrays.append(a)
                        else:
                            arrays.append(pa.nulls(rb.num_rows, want))
                    yield pa.RecordBatch.from_arrays(arrays, schema=merged)

    out = sdf.mapInArrow(scan, spark_schema)
    if where is not None:
        out = out.filter(where)
    return out


def register_orc(
    spark: SparkSession, name: str, path_or_glob: str, **options
) -> DataFrame:
    """Register ORC file(s) as a SQL-queryable temp view — the literal
    API shape of the reference's `SessionContextOrcExt::register_orc`
    (lib.rs:158-169; its example then runs `ctx.sql("select ... from
    table1")`). Options forward to :func:`read_orc_distributed`
    (columns/split_bytes/prune/where/opener/...)."""
    df = read_orc_distributed(spark, path_or_glob, **options)
    df.createOrReplaceTempView(name)
    return df
