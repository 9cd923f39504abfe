"""The two workloads: ``blob`` (the stripe-blob codec engine) and ``orc``
(the ORC writer and reader).

Both run the same four op roles in a closed loop, so both report the same
end-to-end metrics:

==========  ===================================  ==================================
role        blob                                 orc
==========  ===================================  ==================================
write       ``encode_files`` token table ->      ``write_orc_distributed(snappy)``
            blob files, recycled in place        into a fresh directory
scan        ``decode_table`` all columns +       ``read_orc_distributed`` + full
            checksum aggregate                   aggregate
narrow      ``decode_table(columns=[n_tok,       ``read_orc_distributed(columns=...,
            source])`` + aggregate               where="l_orderkey < K")``
query       ``plans.queries``                    ``plans.queries`` ``orc_pruned_scan``
            ``roundtrip_lineitem_agg``           (engine reader on ORC-Java files)
==========  ===================================  ==================================

Every op's output is checked; a wrong result is a failed op.

Once per measured cycle, the reference job runs: the same Spark path as
the ops (a cached DataFrame handed to the Python workers as Arrow
batches by ``mapInArrow``, ``nproc`` tasks), with ORC C++ (pyarrow.orc)
writing a fixed sample of the workload's own input in place of the
engine. The end-to-end time metrics are op walls in units of its median
wall (see ``run.py``).
"""

from __future__ import annotations

import glob
import hashlib
import io
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as paorc
import pyarrow.parquet as pq

import inputs

ROLES = ("write", "scan", "narrow", "query")

# order-insensitive content hash of a row, reduced so a sum over rows
# stays far inside int64 (Spark sums are ANSI-checked)
_HASH_MOD = 2147483647


def value_hash(df) -> str:
    """The correctness hash of ``jobs/drive_correctness.py``: columns sorted
    by name, rows sorted, ``repr`` of every value."""
    df = df[sorted(df.columns)].sort_values(by=sorted(df.columns), ignore_index=True)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            h.update(repr(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


class OracleChecked:
    """A ``plans.queries`` entry whose every result must match its DuckDB
    ``oracle_sql`` result, computed once per run by ``load_oracle``."""

    def __init__(self, name: str, sf_dir: str):
        self.name, self.sf_dir = name, sf_dir
        self.expected: tuple | None = None

    def run(self, spark):
        from datafusion_orc_spark.plans import queries

        fn, _sql = queries.QUERIES[self.name]
        return fn(spark, self.sf_dir).toPandas()

    def check(self, got) -> bool:
        return (len(got), sorted(got.columns), value_hash(got)) == self.expected

    def load_oracle(self) -> None:
        import duckdb

        from datafusion_orc_spark.plans import queries

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "lineitem.parquet")
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
            ref = con.execute(queries.QUERIES[self.name][1]).df()
        finally:
            con.close()
        self.expected = (len(ref), sorted(ref.columns), value_hash(ref))


class Workload:
    """One workload's inputs, ops and checks. ``generate`` writes the
    seeded inputs under ``work`` once per run; ``materialize`` builds what
    the program itself prepares, once per setup, and returns the wall of
    the program's call; ``run(role)`` executes one
    op and returns whether its output was correct; ``verify`` is the
    once-per-run check; ``replay`` runs one role's in-task pipeline in
    this process for the traced run."""

    name = ""
    query_name = ""
    # the ops of one measured cycle: a short op runs more than once, so
    # its median rests on as many samples as the long ones'
    cycle = ROLES
    # items processed by one op of a role (tokens or rows)
    items: dict[str, int]
    # exact size figures of the setup's output: raw Arrow bytes, engine bytes
    raw_bytes = engine_bytes = 0
    # the cached sample the reference job writes
    ref_df = None

    def __init__(self, work: str, seed: int, scale: inputs.Scale, nproc: int):
        self.work, self.seed, self.scale, self.nproc = work, seed, scale, nproc
        self.sf_dir = os.path.join(work, "sf")
        self.spark = None
        self.tracer = None  # set for traced ops
        self.query = OracleChecked(self.query_name, self.sf_dir)

    @contextmanager
    def timed(self, name: str):
        """Time the engine call (and the collect that runs it) into
        ``last_wall``; under tracing, record it as the op's span. Output
        checks run after the block, outside the timed wall."""
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                yield
            else:
                with self.tracer.span(name):
                    yield
        finally:
            self.last_wall = time.perf_counter() - t0

    def run(self, role: str) -> bool:
        self.last_wall = float("nan")
        return getattr(self, "op_" + role)()

    def cache_reference(self, spark, sample: pa.Table) -> None:
        """Cache the reference job's input: ``sample`` in ``nproc``
        partitions."""
        path = os.path.join(self.work, "reference.parquet")
        pq.write_table(sample, path)
        self.ref_df = spark.read.parquet(path).repartition(self.nproc).cache()
        if self.ref_df.count() != sample.num_rows:
            raise RuntimeError("reference sample lost rows")

    def reference_job(self) -> float:
        """Wall of one reference job: every task writes its partition of
        the cached sample with ORC C++, snappy, and returns the size."""

        def write(batches):
            import io

            import pyarrow as pa
            import pyarrow.orc as paorc

            out = io.BytesIO()
            paorc.write_table(pa.Table.from_batches(list(batches)), out, compression="snappy")
            yield pa.RecordBatch.from_pydict({"bytes": [out.tell()]})

        t0 = time.perf_counter()
        sizes = self.ref_df.mapInArrow(write, "bytes long").collect()
        wall = time.perf_counter() - t0
        if len(sizes) != self.nproc or min(r["bytes"] for r in sizes) <= 0:
            raise RuntimeError(f"reference job wrote {sizes}")
        return wall

    def op_query(self) -> bool:
        with self.timed(f"plans.queries.{self.query_name}"):
            got = self.query.run(self.spark)
        return self.query.check(got)


class BlobWorkload(Workload):
    name = "blob"
    query_name = "roundtrip_lineitem_agg"
    cycle = ("write", "narrow", "scan", "narrow", "query")

    def generate(self, spark) -> None:
        from pyspark.sql import functions as F

        self.tokens_dir = os.path.join(self.work, "tokens")
        inputs.write_tokens(self.tokens_dir, self.scale.token_rows, self.seed, self.nproc)
        inputs.write_lineitem(self.sf_dir, self.scale.query_lineitem_rows, self.seed)
        src = spark.read.parquet(self.tokens_dir)
        got = src.agg(*self._scan_aggs(F), *self._narrow_aggs(F)).collect()[0]
        self.expect_scan, self.expect_narrow = tuple(got[:3]), tuple(got[3:])
        rows, tokens = self.expect_scan[0], self.expect_scan[1]
        self.items = {"write": tokens, "scan": tokens, "narrow": rows}
        self.columns = src.columns
        self.spark_schema = src.schema
        self.cache_reference(spark, pq.read_table(self.tokens_dir).slice(0, self.scale.ref_token_rows))
        self.job_token = self.seed & 0xFFFF

    def materialize(self, spark, data: str) -> float:
        """The blob table the scans read, encoded once per setup; the write
        op recycles its own directory, so it never rewrites what scans read.
        Returns the wall of the ``encode_files`` call."""
        from datafusion_orc_spark.operators import encode as enc

        self.spark = spark
        self.blob_dir = os.path.join(data, "blobs")
        self.write_dir = os.path.join(data, "blobs_w")
        with self.timed("setup"):
            stats = enc.encode_files(
                spark, self.tokens_dir, stripe_rows=self.scale.stripe_rows,
                job_token=self.job_token, output_dir=self.blob_dir,
            ).collect()
        rows = {c: 0 for c in self.columns}
        for r in stats:
            rows[r["column"]] += r["n_rows"]
        if any(n != self.expect_scan[0] for n in rows.values()):
            raise RuntimeError(f"encode_files lost rows: {rows}")
        self.raw_bytes = sum(r["raw_bytes"] for r in stats)
        self.engine_bytes = sum(r["enc_bytes"] for r in stats)
        self.expect_write = _stripe_stats(stats)
        # listed once: every scan op reads these files again
        self.blobs = spark.read.parquet(self.blob_dir)
        return self.last_wall

    def reference_bytes(self) -> int:
        return _orc_cpp_bytes([pq.read_table(self.tokens_dir)])

    @staticmethod
    def _scan_aggs(F):
        h = F.pmod(F.xxhash64("doc_id", "tokens", "source"), F.lit(_HASH_MOD))
        return [F.count(F.lit(1)), F.sum("n_tok"), F.sum(h)]

    @staticmethod
    def _narrow_aggs(F):
        h = F.pmod(F.xxhash64("source", "n_tok"), F.lit(_HASH_MOD))
        return [F.count(F.lit(1)), F.sum("n_tok"), F.sum(h)]

    def op_write(self) -> bool:
        from datafusion_orc_spark.operators import encode as enc

        with self.timed("operators.encode.encode_files"):
            stats = enc.encode_files(
                self.spark, self.tokens_dir, stripe_rows=self.scale.stripe_rows,
                job_token=self.job_token, output_dir=self.write_dir, recycle_output=True,
            ).collect()
        # every stripe's rows, raw bytes and payload CRC must equal the
        # setup encode's, which was checked against the input; verify()
        # decodes the bytes this op left in write_dir
        return _stripe_stats(stats) == self.expect_write

    def _decode(self, columns=None):
        from datafusion_orc_spark.operators import encode as enc

        return enc.decode_table(self.blobs, None, self.spark_schema, columns=columns)

    def op_scan(self) -> bool:
        from pyspark.sql import functions as F

        with self.timed("operators.encode.decode_table"):
            got = self._decode().agg(*self._scan_aggs(F)).collect()[0]
        return tuple(got) == self.expect_scan

    def op_narrow(self) -> bool:
        from pyspark.sql import functions as F

        with self.timed("operators.encode.decode_table_projected"):
            got = self._decode(["n_tok", "source"]).agg(*self._narrow_aggs(F)).collect()[0]
        return tuple(got) == self.expect_narrow

    def verify(self) -> bool:
        """Bit-identical decode of a seeded sample of the stripes the last
        timed write left in ``write_dir`` (recycled in place): decoded rows
        must equal the input rows with the same ``doc_id``."""
        from datafusion_orc_spark.format import stripe

        blobs = pq.read_table(self.write_dir)
        source = pq.read_table(self.tokens_dir)
        schema = source.schema
        ids = np.unique(blobs.column("stripe_id").to_numpy())
        rng = np.random.default_rng(self.seed)
        for sid in rng.choice(ids, size=min(3, len(ids)), replace=False):
            rows = blobs.filter(pc.equal(blobs.column("stripe_id"), sid))
            parts = dict(zip(rows.column("column").to_pylist(), rows.column("data").to_pylist()))
            got = pa.Table.from_batches([stripe.decode_stripe(parts, schema)])
            want = source.take(pc.index_in(got.column("doc_id"), source.column("doc_id")))
            # column-wise: the decoded schema may name list items differently
            if not all(got.column(c).equals(want.column(c)) for c in want.column_names):
                return False
        return True

    def replay(self, tracer, role: str) -> None:
        """The in-task pipeline of one role, split by split in this
        process: ``write`` is pyarrow scan -> encode_stripe -> parquet blob
        writer (as in ``encode_files``); ``scan`` and ``narrow`` are
        decode_stripe of every stripe, all columns or the projection (as
        in ``decode_table``)."""
        from datafusion_orc_spark.format import stripe

        if role == "write":
            self._replayed = []
            for path in sorted(glob.glob(os.path.join(self.tokens_dir, "*.parquet"))):
                with tracer.span("pyarrow.scan"):
                    table = pq.read_table(path)
                for batch in table.to_batches(max_chunksize=self.scale.stripe_rows):
                    blobs, _stats = stripe.encode_stripe(batch, namespace=str(self.job_token))
                    with tracer.span("writer"):
                        pq.write_table(
                            pa.table({"column": list(blobs), "data": list(blobs.values())}),
                            pa.BufferOutputStream(),
                        )
                    self._replayed.append((blobs, table.schema))
            return
        columns = None if role == "scan" else ["n_tok", "source"]
        for blobs, schema in self._replayed:
            stripe.decode_stripe(blobs, schema, columns=columns)


class OrcWorkload(Workload):
    name = "orc"
    query_name = "orc_pruned_scan"
    cycle = ("write", "narrow", "scan", "narrow", "query")
    _SCAN_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")

    def generate(self, spark) -> None:
        table = inputs.write_lineitem(self.sf_dir, self.scale.lineitem_rows, self.seed)
        self.bound = inputs.prune_bound(table, self.seed)
        self.prune = {"l_orderkey": (0, self.bound - 1)}
        self.expect_write = (table.num_rows, _sum_exact(table, "l_quantity"))
        self.cache_reference(spark, table.slice(0, self.scale.ref_lineitem_rows))
        # nproc range partitions on the clustering key, cached: every write
        # op sees the same deterministic split, one task per core
        self.df = (
            spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet"))
            .repartitionByRange(self.nproc, "l_orderkey")
            .cache()
        )
        if self.df.count() != table.num_rows:
            raise RuntimeError("lineitem partitioning lost rows")

    def materialize(self, spark, data: str) -> float:
        """The ORC files the scans read, written once per setup by the
        engine, and the expected results from pyarrow.orc (ORC C++)
        reading those same files. Returns the wall of the
        ``write_orc_distributed`` call."""
        from datafusion_orc_spark.sources import orc_sink

        self.spark, self.data = spark, data
        self.scan_dir = os.path.join(data, "orc_scan")
        with self.timed("setup"):
            orc_sink.write_orc_distributed(
                self.df, self.scan_dir, stripe_rows=self.scale.stripe_rows, compression="snappy"
            ).collect()
        files = sorted(glob.glob(os.path.join(self.scan_dir, "*.orc")))
        self.parts = [paorc.read_table(p) for p in files]
        written = pa.concat_tables(self.parts)
        self.expect_scan = _orc_scan_expect(written)
        pruned = written.filter(pc.less(written.column("l_orderkey"), self.bound))
        self.expect_narrow = (
            pruned.num_rows,
            _sum_exact(pruned, "l_orderkey"),
            _sum_exact(pruned, "l_quantity"),
        )
        self.items = {"write": written.num_rows, "scan": written.num_rows, "narrow": pruned.num_rows}
        self.engine_bytes = sum(os.path.getsize(p) for p in files)
        self.raw_bytes = written.nbytes
        self.writes = 0
        return self.last_wall

    def reference_bytes(self) -> int:
        return _orc_cpp_bytes(self.parts)

    def op_write(self) -> bool:
        from datafusion_orc_spark.sources import orc_sink

        self.writes += 1
        out = os.path.join(self.data, f"orc_w{self.writes}")
        with self.timed("sources.orc_sink.write_orc_distributed"):
            orc_sink.write_orc_distributed(
                self.df, out, stripe_rows=self.scale.stripe_rows, compression="snappy"
            ).collect()
        try:
            got = pa.concat_tables(
                paorc.read_table(p) for p in sorted(glob.glob(os.path.join(out, "*.orc")))
            )
            return (got.num_rows, _sum_exact(got, "l_quantity")) == self.expect_write
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def op_scan(self) -> bool:
        from pyspark.sql import functions as F

        from datafusion_orc_spark.sources import orc_source

        with self.timed("sources.orc_source.read_orc_distributed"):
            df = orc_source.read_orc_distributed(self.spark, self.scan_dir)
            got = df.agg(
                F.count(F.lit(1)),
                *[F.sum(F.col(c).cast("bigint")) for c in self._SCAN_COLS],
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")),
                F.sum(F.round(F.col("l_discount") * 100).cast("bigint")),
                F.sum(F.round(F.col("l_tax") * 100).cast("bigint")),
                F.sum(F.length("l_returnflag") + F.length("l_linestatus")),
                F.sum(F.unix_date(F.to_date("l_shipdate"))),
            ).collect()[0]
        return tuple(got) == self.expect_scan

    def op_narrow(self) -> bool:
        from pyspark.sql import functions as F

        from datafusion_orc_spark.sources import orc_source

        with self.timed("sources.orc_source.read_orc_distributed_pruned"):
            df = orc_source.read_orc_distributed(
                self.spark, self.scan_dir,
                columns=["l_orderkey", "l_quantity", "l_returnflag"],
                where=f"l_orderkey < {self.bound}",
            )
            got = df.agg(
                F.count(F.lit(1)),
                F.sum("l_orderkey"),
                F.sum(F.col("l_quantity").cast("bigint")),
            ).collect()[0]
        return tuple(got) == self.expect_narrow

    def verify(self) -> bool:
        """The engine's own reader must return the same rows as ORC C++ on
        one seeded file of the scanned directory."""
        from datafusion_orc_spark.format import orc_reader

        files = sorted(glob.glob(os.path.join(self.scan_dir, "*.orc")))
        path = files[int(np.random.default_rng(self.seed).integers(len(files)))]
        ours = orc_reader.OrcReader(path).read()
        ref = paorc.read_table(path)
        return ours.cast(ref.schema).equals(ref)

    def replay(self, tracer, role: str) -> None:
        """The in-task pipeline of one role, file by file in this process:
        ``write`` is write_orc(snappy) of each written file's rows (as in
        ``write_orc_distributed``); ``scan`` is a full OrcReader read and
        ``narrow`` a stripe-pruned read (as in ``read_orc_distributed``)."""
        from datafusion_orc_spark.format import orc_reader, orc_writer

        out = os.path.join(self.data, "replay")
        paths = [os.path.join(out, f"part-{i}.orc") for i in range(len(self.parts))]
        if role == "write":
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            for table, path in zip(self.parts, paths):
                orc_writer.write_orc(
                    table, path, stripe_rows=self.scale.stripe_rows, compression="snappy"
                )
            return
        for path in paths:
            reader = orc_reader.OrcReader(path)
            if role == "scan":
                reader.read()
                continue
            with tracer.span("format.orc_reader.pruned_read") as sp:
                n = len(reader.footer.stripes)
                read = sum(
                    1 for s in range(n)
                    if any(True for _ in reader.iter_stripes(stripes=[s], prune=self.prune))
                )
                sp["counts"].update(stripes_read=read, stripes_skipped=n - read)


def _stripe_stats(stats) -> list[tuple]:
    """What an encode's stats rows say about the data it encoded, per
    stripe and column, in a stable order. ``crc32`` is over the raw
    payload. Encoded sizes are left out: a worker's FSST table cache
    depends on which stripes it encoded before, so they vary by op."""
    return sorted((r["column"], r["n_rows"], r["raw_bytes"], r["crc32"]) for r in stats)


def _sum_exact(table: pa.Table, col: str) -> int:
    return int(pc.sum(table.column(col).cast(pa.int64())).as_py() or 0)


def _orc_scan_expect(t: pa.Table) -> tuple:
    def cents(c):
        return int(pc.sum(pc.round(pc.multiply(t.column(c), 100)).cast(pa.int64())).as_py())

    flags = pc.add(pc.utf8_length(t.column("l_returnflag")), pc.utf8_length(t.column("l_linestatus")))
    days = t.column("l_shipdate").cast(pa.timestamp("us")).cast(pa.date32())
    return (
        t.num_rows,
        *[_sum_exact(t, c) for c in OrcWorkload._SCAN_COLS],
        cents("l_extendedprice"),
        cents("l_discount"),
        cents("l_tax"),
        int(pc.sum(flags).as_py()),
        int(pc.sum(days.cast(pa.int32()).cast(pa.int64())).as_py()),
    )


def _orc_cpp_bytes(tables: list[pa.Table]) -> int:
    """Bytes of the same rows written by pyarrow.orc (Apache ORC C++),
    snappy, one file per engine file."""
    total = 0
    for t in tables:
        buf = io.BytesIO()
        paorc.write_table(t, buf, compression="snappy")
        total += buf.tell()
    return total


WORKLOADS = {"blob": BlobWorkload, "orc": OrcWorkload}
