"""Distributed ORC sink: our writer, one file per task, stats-only
driver traffic. Conformance = every external reader agrees on the
written rows."""

import glob

import pyarrow as pa
import pyarrow.orc
import pytest
from pyspark.sql import functions as F

from datafusion_orc_spark.sources.orc_sink import write_orc_distributed

SF_DIR = "/root/testdata/sf0.001"


def test_sink_roundtrip_all_readers(spark, tmp_path):
    out = str(tmp_path / "orc_out")
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(4)
    stats = write_orc_distributed(df, out, stripe_rows=2000).collect()
    n = df.count()
    assert sum(r["n_rows"] for r in stats) == n
    assert len(stats) == 4 and all(r["n_bytes"] > 0 for r in stats)
    files = sorted(glob.glob(f"{out}/part-*.orc"))
    assert len(files) == 4 and not glob.glob(f"{out}/.*tmp")

    # ORC C++ (pyarrow)
    cxx = pa.concat_tables([pyarrow.orc.ORCFile(f).read() for f in files])
    assert cxx.num_rows == n
    # Spark's ORC-Java reader: full-table agg parity with the source
    back = spark.read.orc(out)
    src_agg = df.agg(
        F.sum("l_quantity"), F.sum("l_orderkey"), F.count("*")
    ).collect()[0]
    out_agg = back.agg(
        F.sum("l_quantity"), F.sum("l_orderkey"), F.count("*")
    ).collect()[0]
    assert list(src_agg) == list(out_agg)
    # our own distributed reader
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    ours = read_orc_distributed(spark, out)
    assert ours.count() == n
    assert (
        ours.agg(F.sum("l_quantity")).collect()[0][0]
        == src_agg[0]
    )


def test_sink_plan_has_no_exchange(spark, tmp_path):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    stats = write_orc_distributed(df, str(tmp_path / "o"))
    plan = stats._sc._jvm.PythonSQLUtils.explainString(
        stats._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan


def test_sink_rolls_files_at_rows_per_file(spark, tmp_path):
    out = str(tmp_path / "rolled")
    df = spark.range(10_000).selectExpr("id as k").coalesce(1)
    stats = write_orc_distributed(
        df, out, stripe_rows=1000, rows_per_file=3000
    ).collect()
    # 10000 rows / >=3000-row roll threshold -> 3-4 part files from ONE task
    assert len(stats) >= 3
    assert sum(r["n_rows"] for r in stats) == 10_000
    got = pa.concat_tables(
        [pyarrow.orc.ORCFile(f).read() for f in sorted(glob.glob(f"{out}/*.orc"))]
    )
    assert sorted(got.column("k").to_pylist()) == list(range(10_000))


def test_write_orc_through_store_file_object():
    """The object-store seam of the sink: write_orc accepts a file-like
    (single-PUT semantics — no local .tmp rename), and the bytes read
    back through the same store. (A DISTRIBUTED memory:// sink cannot
    round-trip: the in-process store does not cross worker processes,
    so the PUT branch is exercised at this unit level.)"""
    import numpy as np

    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.sources.objectstore import resolve_store

    st, p = resolve_store("memory://sink_unit/x.orc")
    t = pa.table({"a": pa.array(np.arange(1000, dtype=np.int64))})
    from datafusion_orc_spark.format.orc_writer import write_orc

    with st.open_output(p) as fh:
        write_orc(t, fh, stripe_rows=300, compression="snappy")
    r = OrcReader(p, opener=lambda path: st.open_input(path))
    assert r.read().equals(t)
    assert len(r.footer.stripes) == 4


def test_sink_rolls_files_at_bytes_per_file(spark, tmp_path):
    """Wide rows must roll on BYTES, not only rows — rows_per_file alone
    would buffer gigabytes of wide rows before the first flush."""
    out = str(tmp_path / "byte_rolled")
    df = spark.range(4_000).selectExpr("id as k", "repeat('x', 4000) as pad").coalesce(1)
    stats = write_orc_distributed(
        df, out, stripe_rows=1000, rows_per_file=1_000_000, bytes_per_file=4_000_000
    ).collect()
    assert len(stats) >= 3, stats  # ~16 MB of pad / 4 MB roll
    assert sum(r["n_rows"] for r in stats) == 4_000
    got = pa.concat_tables(
        [pyarrow.orc.ORCFile(f).read() for f in sorted(glob.glob(f"{out}/*.orc"))]
    )
    assert sorted(got.column("k").to_pylist()) == list(range(4_000))


def test_sink_staging_fences_interleaved_attempts(tmp_path):
    """Two attempts of one part file (a zombie and its retry, or two
    speculative attempts) each stage through their own tmp file, so
    interleaved writes never mix: the published file is exactly one
    attempt's ORC bytes and no .tmp is left behind."""
    import io
    import os

    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.operators.encode import _open_part
    from datafusion_orc_spark.sources.objectstore import LocalStore

    def orc_bytes(base):
        buf = io.BytesIO()
        write_orc(pa.table({"k": pa.array(range(base, base + 5000), pa.int64())}), buf, stripe_rows=1000)
        return buf.getvalue()

    raw = {0: orc_bytes(0), 1: orc_bytes(10**9)}
    name = "part-00000-000.orc"
    final = tmp_path / name
    staged = {a: _open_part(LocalStore(), str(tmp_path), name, a) for a in (0, 1)}
    for lo, hi in ((0, 0.5), (0.5, 1)):
        for a in (0, 1):
            n = len(raw[a])
            staged[a][0].write(raw[a][int(lo * n) : int(hi * n)])
    staged[1][1]()  # the retry publishes first
    assert final.read_bytes() == raw[1]
    staged[0][1]()  # the zombie's late publish replaces it whole
    assert final.read_bytes() == raw[0]
    assert os.listdir(tmp_path) == [name]
    assert pyarrow.orc.ORCFile(str(final)).read().column("k").to_pylist() == list(range(5000))
