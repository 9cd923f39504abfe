"""Spark Python DataSource for the engine's stripe-blob tables:

    spark.dataSource.register(StripeBlobDataSource)
    spark.read.format("stripeblob").load("/path/to/encoded")

This is the Spark-idiomatic mirror of what the reference crate is for
DataFusion — a table-provider integration (reference: `register_orc` /
`OrcFormat::create_physical_plan`, src/lib.rs:158-169 and
src/file_format.rs:118-124):

- schema inference from the job manifest (EP3 metadata-only path,
  SURVEY.md §3);
- input partitions planned by the engine's blob file source
  (operators/encode.py ``_blob_splits``, as ``decode_table`` plans a
  plain scan of blob part files): row-group ranges that never cut a
  stripe, over ``min(cores, ranges)`` partitions (the reference's
  file-level parallelism, physical_exec.rs:58-90, down to the stripe);
- **filter pushdown -> stripe pruning**: comparison filters on int
  columns are evaluated against the per-stripe min/max stats so
  non-matching stripes are never decoded (beats the reference, whose
  stats interface is stubbed — file_format.rs:108-116). All filters are
  also returned to Spark, which re-applies them post-scan (standard
  best-effort pushdown semantics).
- **column projection** via ``.option("columns", "a,b")`` (the Python
  DataSource API does not forward Spark's column pruning yet): only the
  requested blob rows are decoded AND retained (physical_exec.rs:69-78
  analogue).
- **streaming reads** through the engine's one blob-stripe path
  (operators/encode.py ``_read_blob_splits`` -> ``_stripe_groups`` ->
  ``_stripe_batches``, the task body of ``decode_table``'s file
  source): each partition iterates its row-group ranges, keeps blob
  bytes as Arrow buffer slices (no per-blob copy), and decodes each
  stripe as soon as its projected columns are complete — peak memory
  is O(stripe), not O(file). Within a surviving
  stripe, sub-block (ROW_INDEX-stride) stats drop blocks that cannot
  match the pushed filters.

Paths resolve through sources/objectstore.py, so s3://-style blob
tables work wherever local ones do.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from datafusion_orc_spark.operators.encode import (
    _blob_splits,
    _read_blob_splits,
    _stripe_batches,
    _task_init,
    _tighten_bound,
)
from datafusion_orc_spark.plans.pipeline import chunk_dirs, read_manifest
from datafusion_orc_spark.sources.objectstore import resolve_store

_OPS = {GreaterThan: ">", GreaterThanOrEqual: ">=", LessThan: "<", LessThanOrEqual: "<=", EqualTo: "="}


class _BlobSplitsPartition(InputPartition):
    def __init__(self, splits: list[tuple[str, int, int, int]]):
        self.splits = splits


class StripeBlobReader(DataSourceReader):
    """``parallelism``: the partition target; ``register`` binds the
    session's ``defaultParallelism``, else the host's cpu count."""

    def __init__(self, path: str, schema: StructType, parallelism: int | None = None):
        self._schema = schema
        self._prune: dict[str, tuple[int, int]] = {}
        self._target = parallelism or os.cpu_count() or 1
        store, norm = resolve_store(path)
        self._files = [f for d in chunk_dirs(norm, read_manifest(norm)) for f in store.list(d, suffix=".parquet")]

    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        """Record min/max-provable filters for stripe pruning; return
        every filter so Spark still applies exact row filtering."""
        int_cols = {f.name for f in self._schema.fields if f.dataType.typeName() in ("integer", "long", "short")}
        for f in filters:
            op = _OPS.get(type(f))
            if op and len(f.attribute) == 1 and f.attribute[0] in int_cols and isinstance(f.value, int):
                _tighten_bound(self._prune, f.attribute[0], op, f.value)
            yield f  # unsupported-for-exactness: Spark re-applies all

    def partitions(self) -> list[InputPartition]:
        """The ``_blob_splits`` of the table's files, dealt round-robin
        over ``min(target, splits)`` partitions."""
        splits = _blob_splits(self._files, self._target)
        n = max(1, min(self._target, len(splits)))
        return [_BlobSplitsPartition(splits[k::n]) for k in range(n)]

    def read(self, partition: _BlobSplitsPartition):
        from pyspark.sql.pandas.types import to_arrow_schema

        _task_init()
        schema = to_arrow_schema(self._schema)
        yield from _stripe_batches(_read_blob_splits(partition.splits), schema, list(schema.names), self._prune)


class StripeBlobDataSource(DataSource):
    """``spark.read.format("stripeblob").load(path)``.

    Options: ``columns`` — comma-separated projection (only these blob
    rows are decoded; the result schema is limited to them).

    ``parallelism``: the reader's partition target (``register`` sets
    it to the session's ``defaultParallelism``)."""

    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "stripeblob"

    def schema(self) -> StructType:
        manifest = read_manifest(self.options["path"])
        if "schema_json" not in manifest:
            raise ValueError("manifest has no schema_json; pass .schema(...) explicitly")
        full = StructType.fromJson(json.loads(manifest["schema_json"]))
        return self._project(full)

    def _project(self, schema: StructType) -> StructType:
        cols = self.options.get("columns")
        if not cols:
            return schema
        keep = [c.strip() for c in cols.split(",") if c.strip()]
        by_name = {f.name: f for f in schema.fields}
        missing = [c for c in keep if c not in by_name]
        if missing:
            raise ValueError(f"stripeblob: projected column(s) not in schema: {missing}")
        return StructType([by_name[c] for c in keep])

    def reader(self, schema: StructType) -> StripeBlobReader:
        return StripeBlobReader(self.options["path"], self._project(schema), self.parallelism)


def register(spark) -> None:
    """Register the data source and make the package importable on
    executors (addPyFile) in one call."""
    from datafusion_orc_spark.operators.encode import _ensure_workers_can_import

    _ensure_workers_can_import(spark.range(1))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    # defined here, so it pickles by value with the session's core count:
    # the reader plans its partitions in a planner process with no
    # SparkContext to ask
    class _SessionStripeBlob(StripeBlobDataSource):
        parallelism = spark.sparkContext.defaultParallelism

    spark.dataSource.register(_SessionStripeBlob)


def read_stripeblob(spark, path: str, columns: list[str] | None = None):
    """Projection-ergonomic sugar over ``spark.read.format("stripeblob")``.

    Spark's Python DataSource API forwards filters (pushFilters) but not
    column pruning, so a bare ``.load(path).select("a")`` decodes every
    column and lets Spark drop the rest AFTER the python worker paid the
    decode. This helper derives the ``columns`` option from the caller's
    projection list so only the projected blob rows are decoded (and the
    result schema is exactly ``columns`` in order). Registers the data
    source if needed; until Spark grows a pruneColumns hook this is the
    pruned path for the DataSource sugar (ROADMAP #4 — users of
    ``decode_table`` / ``read_orc_distributed`` get pruning automatically).
    """
    register(spark)
    r = spark.read.format("stripeblob")
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(path)
