"""Distributed ORC scan built on the engine's pure-python ORC reader.

This is the reference's role re-expressed as a Spark operator: the
reference plugs a per-file ORC->Arrow opener into DataFusion's scan
(`OrcOpener::open`, src/physical_exec.rs:57-91; one `FileOpenFuture`
per `PartitionedFile`, byte-range splits via `with_file_byte_range`,
physical_exec.rs:79-82); here the driver reads only file TAILS (schema
+ stripe directory) through a bounded footer pool, plans stripe ranges
with the engine's one split planner (the parquet scan's
``_plan_row_splits``: each file one group, the stripe the unit,
``defaultParallelism`` the target), and each task streams per-stripe
Arrow record batches out of ``mapInArrow`` — stripe-level parallelism,
ranged reads, no whole-file materialization, no shuffle.

Schema handling mirrors `file_format.rs:90-103` (`Schema::try_merge`
over path-sorted files): the merged schema is the field union in
path-sorted first-seen order; a same-name/different-type conflict is an
error; files missing a merged field yield nulls for it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

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


def plan_splits(paths: list[str], target: int, opener=None):
    """Tail-read every file (metadata only, through the footer pool),
    return (splits, merged_schema).

    Each split is ``(path, 0, first_stripe, end_stripe)``, planned by the
    engine's one split planner (operators/encode.py ``_plan_row_splits``)
    with each file as one group and the stripe as the unit: ``target`` or
    more files give one split per file, fewer fan their stripes out to
    ``min(target, stripes)`` splits. A file with no stripes gets no
    split; its schema still merges.
    """
    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.operators.encode import _fetch_footers, _plan_row_splits

    ordered = sorted(paths)

    def fetch(p):
        r = OrcReader(p, opener=opener)
        return r.schema(), len(r.footer.stripes)

    metas = _fetch_footers(ordered, fetch)
    groups = [(p, 0, n) for p, (_, n) in zip(ordered, metas) if n]
    return _plan_row_splits(groups, target, 1), merge_schemas([sch for sch, _ in metas])


def read_orc_distributed(
    spark: SparkSession,
    path_or_glob: str,
    columns: list[str] | None = None,
    batch_rows: int = DEFAULT_BATCH_ROWS,
    file_extension: str | None = ".orc",
    prune: dict | None = None,
    where: str | None = None,
) -> DataFrame:
    """Scan ORC files with OUR reader: the stripe ranges of
    :func:`plan_splits` over ``defaultParallelism`` tasks.

    ``where``: a SQL predicate string — simple integer comparison
    conjuncts on exactly-named columns are auto-derived into ``prune``
    bounds (same parser as decode_table(where=)) and the FULL predicate
    is re-applied exactly on the scanned rows, so pruning is pure
    speedup, never semantics.
    ``prune``: {column: (lo, hi)} statistics pushdown — each task skips
    stripes via the file Metadata stats (zero reads) and row groups via
    ROW_INDEX (format/orc_reader.py iter_stripes); conservative, callers
    re-apply the exact predicate on the returned rows. A ``prune`` key
    outside the files' merged schema raises ValueError.

    ``columns`` is the projection pushed into the per-stripe decode
    (name -> ORC column mask, the physical_exec.rs:69-78 analogue);
    ``batch_rows`` bounds each streamed Arrow batch (file_source.rs:31).
    The path's scheme picks the store, the ObjectStoreReader seam
    (object_store_reader.rs:39-59, sources/objectstore.py): plain paths
    read through os.open, while ``s3://``-style URIs get ranged reads +
    listing through fsspec/pyarrow.fs, on the driver (metadata) and
    executors (stripes) alike.
    ``file_extension``: reject non-matching paths, the reference's
    extension validation (lib.rs:138-146); None disables the check.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    from datafusion_orc_spark.operators.encode import (
        _list_inputs,
        _merge_where,
        _task_frame,
        _task_init,
        _task_splits,
    )
    from datafusion_orc_spark.sources.objectstore import (
        LocalStore,
        StoreOpener,
        resolve_store,
    )

    paths = _list_inputs(path_or_glob, file_extension)
    store, _ = resolve_store(path_or_glob)
    opener = None if isinstance(store, LocalStore) else StoreOpener(store)
    if file_extension is not None:
        bad = [p for p in paths if not p.endswith(file_extension)]
        if bad:
            raise ValueError(
                f"read_orc_distributed: {len(bad)} path(s) do not end with "
                f"'{file_extension}' (e.g. {bad[0]!r}); pass file_extension=None "
                f"to scan anyway"
            )
    target = spark.sparkContext.defaultParallelism
    splits, merged = plan_splits(paths, target, opener)
    prune = _merge_where(prune, where, merged.names)
    if columns is not None:
        unknown = set(columns) - set(merged.names)
        if unknown:
            raise ValueError(f"read_orc_distributed: unknown columns {sorted(unknown)}")
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

    # no Exchange: the splits ride in the task closure
    sdf, splits, _ = _task_frame(spark, splits, target)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from datafusion_orc_spark.format.orc_reader import OrcReader

        _task_init()
        for path, _, first, end in _task_splits(batches, splits):
            r = OrcReader(path, opener=opener)
            have = set(r.schema().names)
            local_cols = [c for c in out_names if c in have]
            for rb in r.iter_stripes(
                columns=local_cols,
                stripes=list(range(first, end)),
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
    (columns/batch_rows/prune/where/file_extension)."""
    df = read_orc_distributed(spark, path_or_glob, **options)
    df.createOrReplaceTempView(name)
    return df
