"""ORC writer conformance: files produced by OUR codec kernels must be
read bit-identically by the Apache ORC C++ reader (pyarrow.orc) — the
same implementation family the reference delegates decoding to."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.orc

from datafusion_orc_spark.format.orc_reader import read_orc
from datafusion_orc_spark.format.orc_writer import write_orc


def _f1_table(n=5000, seed=42):
    rng = np.random.default_rng(seed)
    return pa.table({
        "doc_id": pa.array([f"doc-{i:012d}" for i in range(n)]),
        "tokens": pa.array(
            [rng.integers(0, 50257, int(l)).tolist() for l in rng.integers(1, 50, n)],
            type=pa.list_(pa.int32()),
        ),
        "n_tok": pa.array(rng.integers(0, 2048, n).astype(np.int32)),
        "source": pa.array([f"src_{i % 8}" for i in range(n)]),
        "flag": pa.array((np.arange(n) // 100) % 2 == 0),
        "val": pa.array(rng.random(n)),
        "nullable": pa.array([None if i % 7 == 0 else int(i) for i in range(n)], type=pa.int64()),
        "tiny": pa.array((rng.integers(-128, 128, n)).astype(np.int8)),
        "blob": pa.array([bytes([i % 256]) * (i % 5) for i in range(n)], type=pa.binary()),
        "day": pa.array(
            [None if i % 6 == 0 else int(d) for i, d in enumerate(rng.integers(-3000, 20000, n))],
            type=pa.date32(),
        ),
    })


def test_orc_cxx_reads_our_files(tmp_path):
    tbl = _f1_table()
    path = str(tmp_path / "ours.orc")
    write_orc(tbl, path, stripe_rows=1500)  # multiple stripes
    back = pyarrow.orc.ORCFile(path).read()
    assert back.num_rows == tbl.num_rows
    for name in tbl.schema.names:
        assert back.column(name).combine_chunks().equals(tbl.column(name).combine_chunks()), name


def test_our_reader_reads_our_files(tmp_path):
    tbl = _f1_table(1000)
    path = str(tmp_path / "ours2.orc")
    write_orc(tbl, path, stripe_rows=300)
    ours = read_orc(path)
    for name in tbl.schema.names:
        assert ours.column(name).combine_chunks().equals(tbl.column(name).combine_chunks()), name


def test_orc_writer_streams_each_stripe_before_close(tmp_path):
    """OrcWriter writes each stripe's bytes when the stripe is written,
    not at close(): the file-like sink's size after each write_table is
    that stripe's end offset in the footer. close() leaves a file-like
    open, and the file reads back whole."""
    import io

    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.format.orc_writer import OrcWriter

    tbl = _f1_table(3000)
    buf = io.BytesIO()
    writer = OrcWriter(buf, tbl.schema, compression="snappy")
    sizes = []
    for start in range(0, tbl.num_rows, 1000):
        writer.write_table(tbl.slice(start, 1000))
        sizes.append(buf.tell())
    writer.close()
    assert not buf.closed
    path = tmp_path / "streamed.orc"
    path.write_bytes(buf.getvalue())
    stripes = OrcReader(str(path)).footer.stripes
    assert sizes == [s.offset + s.index_length + s.data_length + s.footer_length for s in stripes]
    back = pyarrow.orc.ORCFile(str(path)).read()
    for name in tbl.schema.names:
        assert back.column(name).combine_chunks().equals(tbl.column(name).combine_chunks()), name


def test_size_not_worse_than_orc_cxx(tmp_path):
    """Compressed-size gate vs the reference family, like-for-like
    (both uncompressed containers, pure encoding efficiency)."""
    tbl = _f1_table(20000)
    ours = str(tmp_path / "ours.orc")
    theirs = str(tmp_path / "cxx.orc")
    write_orc(tbl, ours, stripe_rows=65536)
    pyarrow.orc.write_table(tbl, theirs, compression="uncompressed")
    ours_sz, theirs_sz = os.path.getsize(ours), os.path.getsize(theirs)
    assert ours_sz <= theirs_sz * 1.02, (ours_sz, theirs_sz)


def test_empty_and_single_row(tmp_path):
    for i, tbl in enumerate([
        pa.table({"a": pa.array([], type=pa.int64()), "s": pa.array([], type=pa.string())}),
        pa.table({"a": pa.array([7], type=pa.int64()), "s": pa.array(["x"])}),
    ]):
        path = str(tmp_path / f"edge{i}.orc")
        write_orc(tbl, path)
        back = pyarrow.orc.ORCFile(path).read()
        assert back.num_rows == tbl.num_rows
        for name in tbl.schema.names:
            assert back.column(name).to_pylist() == tbl.column(name).to_pylist()


def test_empty_table_writes_no_stripe(spark, tmp_path):
    """A zero-row table is written as ORC C++ writes it: no stripe, one
    zero-count ColumnStatistics per column, the schema in the footer.
    Every reader sees 0 rows with the schema, and the split planner
    plans no task for it."""
    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.sources.orc_source import plan_splits

    tbl = pa.table({"a": pa.array([], pa.int64()), "s": pa.array([], pa.string())})
    path = str(tmp_path / "empty.orc")
    write_orc(tbl, path, compression="snappy")
    f = pyarrow.orc.ORCFile(path)
    assert (f.nstripes, f.nrows) == (0, 0)
    assert f.read().equals(tbl)
    assert OrcReader(path).footer.stripes == []
    assert read_orc(path).equals(tbl)
    back = spark.read.orc(path)
    assert back.columns == ["a", "s"] and back.count() == 0
    assert plan_splits([path], 4) == ([], tbl.schema)


# ---------------------------------------------------------------- compression

def test_compressed_writes_read_back_by_orc_cxx(tmp_path):
    """SNAPPY/ZLIB/ZSTD/LZ4-compressed files (every stream + footers
    chunk-framed) must be read bit-identically by the ORC C++ reader AND
    by our own reader."""
    tbl = _f1_table(3000)
    for comp in ("snappy", "zlib", "zstd", "lz4", "lzo"):
        path = str(tmp_path / f"ours_{comp}.orc")
        write_orc(tbl, path, stripe_rows=1000, compression=comp)
        got = pyarrow.orc.ORCFile(path).read()
        assert got.equals(tbl), comp
        ours = read_orc(path)
        assert ours.equals(tbl), comp


def test_dictionary_v2_written_for_low_cardinality_strings(tmp_path):
    """source (8 distinct / 3000 rows) must be DICTIONARY_V2 with a sorted
    symbol table; doc_id (all distinct) must stay DIRECT_V2."""
    from datafusion_orc_spark.format import orc_proto as proto
    from datafusion_orc_spark.format.orc_reader import OrcReader, _StripeReader, decompress_stream

    tbl = _f1_table(3000)
    path = str(tmp_path / "dict.orc")
    write_orc(tbl, path, stripe_rows=4096, compression="snappy")
    r = OrcReader(path)
    names = r.footer.types[0].field_names
    sr = _StripeReader(r, r.footer.stripes[0])
    col_source = r.footer.types[0].subtypes[names.index("source")]
    col_docid = r.footer.types[0].subtypes[names.index("doc_id")]
    assert sr.encodings[col_source].kind == proto.E_DICTIONARY_V2
    assert sr.encodings[col_source].dictionary_size == 8
    assert sr.encodings[col_docid].kind == proto.E_DIRECT_V2
    # sorted symbol table: dictionary blob must be lexicographically ordered
    from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode
    lengths = rle_v2_decode(sr.stream(col_source, proto.S_LENGTH), 8, signed=False)
    blob = sr.stream(col_source, proto.S_DICTIONARY_DATA)
    vals, pos = [], 0
    for ln in lengths:
        vals.append(blob[pos : pos + int(ln)])
        pos += int(ln)
    assert vals == sorted(vals)


def test_snappy_size_not_worse_than_orc_cxx(tmp_path):
    """Compressed-size gate at file level: our snappy file <= ORC C++'s
    snappy file on the same data (the corpus configuration)."""
    tbl = _f1_table(20_000)
    ours = str(tmp_path / "ours.orc")
    theirs = str(tmp_path / "cxx.orc")
    write_orc(tbl, ours, stripe_rows=65536, compression="snappy")
    pyarrow.orc.write_table(
        tbl, theirs, compression="snappy", compression_block_size=262144,
        stripe_size=64 * 1024 * 1024,
    )
    assert pyarrow.orc.ORCFile(ours).read().equals(tbl)
    assert os.path.getsize(ours) <= os.path.getsize(theirs) * 1.02, (
        os.path.getsize(ours), os.path.getsize(theirs)
    )


def _stats_fixture(tmp_path, stripe_rows=5000, n=50000, base=1 << 32):
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64) + base),
        "s": pa.array([f"name-{i % 50:03d}" for i in range(n)]),
    })
    p = str(tmp_path / "stats.orc")
    write_orc(t, p, stripe_rows=stripe_rows, compression="snappy")
    return p, t


def test_orc_java_parses_file_and_stripe_statistics(spark, tmp_path):
    """ORC-Java (orc-core via Spark's JVM) must parse the writer's footer
    + Metadata statistics with the exact values (VERDICT r2 #7)."""
    p, _t = _stats_fixture(tmp_path)
    jvm = spark._jvm
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.readerOptions(spark._jsc.hadoopConfiguration()),
    )
    assert reader.getNumberOfRows() == 50000
    assert reader.getRowIndexStride() == 10000
    file_k = reader.getStatistics()[1]
    assert file_k.getMinimum() == (1 << 32)
    assert file_k.getMaximum() == (1 << 32) + 49999
    file_s = reader.getStatistics()[2]
    assert file_s.getMinimum() == "name-000" and file_s.getMaximum() == "name-049"
    ss = reader.getStripeStatistics()
    assert len(ss) == 10
    s9 = ss[9].getColumnStatistics()[1]
    assert s9.getMinimum() == (1 << 32) + 45000
    assert s9.getMaximum() == (1 << 32) + 49999


def test_orc_java_search_argument_skips_stripes(spark, tmp_path):
    """The r2 verdict's done-criterion: an ORC-Java searchArgument read on
    our file returns rows from ONE stripe's row group only — the other 9
    stripes are skipped via our ROW_INDEX + stripe statistics."""
    from py4j.java_gateway import get_field

    p, _t = _stats_fixture(tmp_path)
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.readerOptions(spark._jsc.hadoopConfiguration()),
    )
    SAF = jvm.org.apache.hadoop.hive.ql.io.sarg.SearchArgumentFactory
    PL = jvm.org.apache.hadoop.hive.ql.io.sarg.PredicateLeaf
    base = 1 << 32  # > int32 so py4j boxes the bounds as java.lang.Long
    sarg = (
        SAF.newBuilder().startAnd()
        .between("k", PL.Type.LONG, base + 12345, base + 12399)
        .end().build()
    )
    cols = gw.new_array(jvm.java.lang.String, 3)
    cols[0], cols[1], cols[2] = None, "k", "s"
    rr = reader.rows(reader.options().searchArgument(sarg, cols))
    batch = reader.getSchema().createRowBatch()
    surfaced = 0
    while rr.nextBatch(batch):
        surfaced += get_field(batch, "size")
    rr.close()
    assert surfaced == 5000, surfaced  # one stripe of ten


def test_spark_filtered_read_on_our_file_is_exact(spark, tmp_path):
    """End-to-end: Spark's native ORC reader with filterPushdown enabled
    (SARG + row-index seek path) returns exactly the right rows."""
    p, t = _stats_fixture(tmp_path)
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    base = 1 << 32
    got = (
        spark.read.orc(p)
        .filter(f"k >= {base + 12345} and k < {base + 12400}")
        .orderBy("k")
        .collect()
    )
    assert len(got) == 55
    assert got[0]["k"] == base + 12345 and got[-1]["k"] == base + 12399
    assert got[-1]["s"] == f"name-{12399 % 50:03d}"


def test_our_reader_still_reads_indexed_files(tmp_path):
    p, t = _stats_fixture(tmp_path, stripe_rows=7000)
    got = read_orc(p)
    assert got.num_rows == t.num_rows
    assert got.column("k").combine_chunks() == t.column("k").combine_chunks()


def test_timestamp_roundtrip_via_orc_cxx(tmp_path):
    """TIMESTAMP write support: seconds-from-2015 + 3-bit trailing-zero
    nano encoding, read back exactly by the ORC C++ reader (incl.
    pre-1970 instants and stripped-zero nanos)."""
    import datetime as dt

    vals = [
        dt.datetime(2015, 1, 1, 0, 0, 0),
        dt.datetime(2020, 6, 15, 12, 34, 56, 789000),  # 789000000 ns: zeros stripped
        dt.datetime(1900, 1, 1, 0, 0, 0, 1),  # pre-1970, ms+ nanos: +1s quirk
        None,
        dt.datetime(2000, 6, 15, 8, 0, 0, 250000),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999),  # sub-ms nanos: no quirk
        dt.datetime(2038, 1, 19, 3, 14, 7, 999999),
    ]
    t = pa.table({"ts": pa.array(vals, type=pa.timestamp("us"))})
    p = str(tmp_path / "ts.orc")
    write_orc(t, p, compression="zlib")
    got = pa.orc.ORCFile(p).read()
    assert got.column("ts").cast(pa.timestamp("us")).to_pylist() == vals
    ours = read_orc(p)
    assert ours.column("ts").cast(pa.timestamp("us")).to_pylist() == vals


def test_timestamp_minus1s_window_roundtrips_exactly(tmp_path):
    """Instants in (-1s, 0): the ORC-Java positive-nanos convention can't
    represent them (stored secs = floor+1 lands on 0, the reader's
    `secs < 0` quirk check never fires, values read +1s high — ADVICE
    r3). ORC C++ stores second 0 with SIGNED negative nanos instead, and
    both pyarrow's reader and ours decode that form exactly — the writer
    now emits it for this interval. Covers the boundary microsecond, a
    mid-window value, a trailing-zero-heavy value, and a column shape
    that RLEs the nanos stream (repeat + delta runs of negative encs)."""
    import datetime as dt

    vals = [
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000),   # -0.5s
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),   # -1us
        dt.datetime(1969, 12, 31, 23, 59, 59, 123456),
        dt.datetime(1969, 12, 31, 23, 59, 59, 1000),     # -999ms
        dt.datetime(1970, 1, 1, 0, 0, 0, 0),             # boundary itself
        dt.datetime(1969, 12, 31, 23, 59, 59, 999),      # sub-ms: floor path
        dt.datetime(1969, 12, 31, 23, 59, 58, 123456),   # floor <= -2: +1 quirk
    ] + [dt.datetime(1969, 12, 31, 23, 59, 59, 500000)] * 16  # short-repeat run
    t = pa.table({"ts": pa.array(vals, type=pa.timestamp("us"))})
    p = str(tmp_path / "ts_win.orc")
    write_orc(t, p)
    cxx = pa.orc.ORCFile(p).read().column("ts").cast(pa.timestamp("us")).to_pylist()
    ours = read_orc(p).column("ts").cast(pa.timestamp("us")).to_pylist()
    assert cxx == vals
    assert ours == vals


def test_orc_java_search_argument_skips_row_groups_within_stripe(spark, tmp_path):
    """ROW_INDEX with stride < stripe_rows (multiple row groups per
    stripe, real per-stream seek positions): an ORC-Java SARG read on a
    single-stripe file must surface ONE 10k row group, not the whole
    50k-row stripe — proof the mid-stripe positions seek correctly."""
    from py4j.java_gateway import get_field

    p, _t = _stats_fixture(tmp_path, stripe_rows=50000)  # 1 stripe, 5 groups
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.readerOptions(spark._jsc.hadoopConfiguration()),
    )
    assert reader.getRowIndexStride() == 10000
    SAF = jvm.org.apache.hadoop.hive.ql.io.sarg.SearchArgumentFactory
    PL = jvm.org.apache.hadoop.hive.ql.io.sarg.PredicateLeaf
    base = 1 << 32
    sarg = (
        SAF.newBuilder().startAnd()
        .between("k", PL.Type.LONG, base + 23456, base + 23999)
        .end().build()
    )
    cols = gw.new_array(jvm.java.lang.String, 3)
    cols[0], cols[1], cols[2] = None, "k", "s"
    rr = reader.rows(reader.options().searchArgument(sarg, cols))
    batch = reader.getSchema().createRowBatch()
    surfaced = 0
    while rr.nextBatch(batch):
        surfaced += get_field(batch, "size")
    rr.close()
    assert surfaced == 10000, surfaced  # one row group of five


def test_orc_java_reads_date_statistics(spark, tmp_path):
    """A DATE column's file, stripe and row-group statistics are the
    spec's dateStatistics: ORC-Java parses them as DateColumnStatistics
    with the right days, and a DATE SearchArgument surfaces one row group
    of the four."""
    from py4j.java_gateway import get_field

    n = 40000
    days = np.arange(n, dtype=np.int32) // 4 - 3000  # sorted, pre-1970 too
    t = pa.table({
        "d": pa.array([None if i % 9 == 0 else int(v) for i, v in enumerate(days)], type=pa.date32()),
        "k": pa.array(np.arange(n, dtype=np.int64)),
    })
    p = str(tmp_path / "dates.orc")
    write_orc(t, p, stripe_rows=20000, compression="snappy")  # 2 stripes x 2 groups
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.readerOptions(spark._jsc.hadoopConfiguration()),
    )
    file_d = reader.getStatistics()[1]
    assert file_d.getClass().getName().endswith("DateStatisticsImpl")
    assert (file_d.getMinimumDayOfEpoch(), file_d.getMaximumDayOfEpoch()) == (-3000, 6999)
    s1 = reader.getStripeStatistics()[1].getColumnStatistics()[1]
    assert (s1.getMinimumDayOfEpoch(), s1.getMaximumDayOfEpoch()) == (2000, 6999)
    SAF = jvm.org.apache.hadoop.hive.ql.io.sarg.SearchArgumentFactory
    PL = jvm.org.apache.hadoop.hive.ql.io.sarg.PredicateLeaf
    lo, hi = jvm.java.sql.Date.valueOf("1972-01-01"), jvm.java.sql.Date.valueOf("1972-02-01")
    sarg = SAF.newBuilder().startAnd().between("d", PL.Type.DATE, lo, hi).end().build()
    cols = gw.new_array(jvm.java.lang.String, 3)
    cols[0], cols[1], cols[2] = None, "d", "k"
    rr = reader.rows(reader.options().searchArgument(sarg, cols))
    batch = reader.getSchema().createRowBatch()
    surfaced = 0
    while rr.nextBatch(batch):
        surfaced += get_field(batch, "size")
    rr.close()
    assert surfaced == 10000, surfaced  # days 730..761: rows 14920..15047, one group


def test_spark_row_group_seek_all_types_exact(spark, tmp_path):
    """Mid-stripe seek correctness across EVERY positioned stream shape
    (PRESENT, bool bit-RLE, byte-RLE, RLEv2, raw float, string-direct
    DATA+LENGTH, dictionary index, list LENGTH + child): Spark reads a
    late row-group slice with filterPushdown on; values must be exact."""
    n = 40000
    rng = np.random.default_rng(7)
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "flag": pa.array((np.arange(n) // 3) % 2 == 0),
        "tiny": pa.array((rng.integers(-128, 128, n)).astype(np.int8)),
        "val": pa.array(rng.random(n)),
        "s_uniq": pa.array([f"u-{i:08d}" for i in range(n)]),          # direct
        "s_dict": pa.array([f"d-{i % 40:03d}" for i in range(n)]),     # dictionary
        "nullable": pa.array([None if i % 7 == 0 else int(i) for i in range(n)], type=pa.int64()),
        "arr": pa.array([list(range(i % 4)) for i in range(n)], type=pa.list_(pa.int64())),
        # nullable bool: dense bit count per row group is NOT a multiple
        # of 8, so its seek needs the real (run, skip, bit) control map
        "nflag": pa.array([None if i % 5 == 0 else bool(i % 2) for i in range(n)], type=pa.bool_()),
        "ts": pa.array((np.arange(n, dtype=np.int64) * 1_000_003) + 1_400_000_000_000_000_000, type=pa.timestamp("ns")),
    })
    p = str(tmp_path / "seek.orc")
    write_orc(t, p, stripe_rows=40000, compression="snappy")  # 4 row groups
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    got = spark.read.orc(p).filter("k >= 31234 and k < 31240").orderBy("k").collect()
    assert len(got) == 6
    for row in got:
        i = row["k"]
        assert row["flag"] == bool((i // 3) % 2 == 0)
        assert row["tiny"] == t.column("tiny")[i].as_py()
        assert row["val"] == t.column("val")[i].as_py()
        assert row["s_uniq"] == f"u-{i:08d}"
        assert row["s_dict"] == f"d-{i % 40:03d}"
        assert row["nullable"] == (None if i % 7 == 0 else i)
        assert row["arr"] == list(range(i % 4))
        assert row["nflag"] == (None if i % 5 == 0 else bool(i % 2))
        from datetime import datetime, timezone
        dt = row["ts"].replace(tzinfo=timezone.utc)
        whole_s = int((dt.replace(microsecond=0) - datetime(1970, 1, 1, tzinfo=timezone.utc)).total_seconds())
        got_us = whole_s * 1_000_000 + dt.microsecond
        assert got_us == (i * 1_000_003 + 1_400_000_000_000_000_000) // 1000  # Spark is us-precision


def test_decimal_struct_map_write_roundtrip_and_seek(spark, tmp_path):
    """DECIMAL (both <=18 and 38-digit), STRUCT (nullable, with its own
    null children) and MAP (nullable) columns: bit-exact through the ORC
    C++ reader AND through Spark's row-group seek on a multi-group
    stripe (positions for raw-varint decimal DATA, struct PRESENT and
    map LENGTH streams all consumed by ORC-Java's seek machinery)."""
    from decimal import Decimal

    import pyarrow.orc

    n = 30000
    rng = np.random.default_rng(2)
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "dec": pa.array(
            [Decimal(int(v)).scaleb(-5) for v in rng.integers(-10**12, 10**12, n)],
            type=pa.decimal128(15, 5),
        ),
        "bigdec": pa.array(
            [Decimal(int(v) * 10**20 + 7).scaleb(-10) for v in rng.integers(-10**9, 10**9, n)],
            type=pa.decimal128(38, 10),
        ),
        "st": pa.array(
            [{"a": int(i), "b": None if i % 11 == 0 else f"s{i % 9}"} if i % 6 else None for i in range(n)],
            type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
        "mp": pa.array(
            [{f"k{j}": j * i for j in range(i % 4)} if i % 5 else None for i in range(n)],
            type=pa.map_(pa.string(), pa.int64()),
        ),
    })
    p = str(tmp_path / "nested_mg.orc")
    write_orc(t, p, stripe_rows=30000, compression="snappy")  # 3 row groups
    back = pyarrow.orc.ORCFile(p).read()
    for name in t.schema.names:
        a, b = back.column(name).combine_chunks(), t.column(name).combine_chunks()
        assert a.equals(b) or a.to_pylist() == b.to_pylist(), name

    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    got = spark.read.orc(p).filter("k >= 23456 and k < 23460").orderBy("k").collect()
    assert len(got) == 4
    for row in got:
        i = row["k"]
        assert str(row["dec"]) == str(t.column("dec")[i].as_py())
        assert str(row["bigdec"]) == str(t.column("bigdec")[i].as_py())
        st = t.column("st")[i].as_py()
        got_st = None if row["st"] is None else {"a": row["st"]["a"], "b": row["st"]["b"]}
        assert got_st == st
        mp = t.column("mp")[i].as_py()
        got_mp = None if row["mp"] is None else dict(row["mp"])
        assert got_mp == (None if mp is None else dict(mp))


def test_union_write_roundtrip(tmp_path):
    """UNION columns (dense, two branches): our writer's tag byte-RLE +
    dense children round-trip through our reader exactly and through the
    ORC C++ reader payload-equal (C++ surfaces unions sparsely)."""
    n = 20000
    rng = np.random.default_rng(4)
    tags = (rng.random(n) < 0.4).astype(np.int8)
    off = np.zeros(n, dtype=np.int32)
    for i in (0, 1):
        m = tags == i
        off[m] = np.arange(int(m.sum()), dtype=np.int32)
    child0 = pa.array(rng.integers(-10**6, 10**6, int((tags == 0).sum())))
    child1 = pa.array([f"u{v}" for v in range(int((tags == 1).sum()))])
    u = pa.UnionArray.from_dense(
        pa.array(tags, type=pa.int8()), pa.array(off, type=pa.int32()), [child0, child1]
    )
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)), "u": u})
    p = str(tmp_path / "union.orc")
    write_orc(t, p, stripe_rows=8000, compression="snappy")
    ours = read_orc(p)
    assert ours.column("u").combine_chunks().to_pylist() == t.column("u").combine_chunks().to_pylist()

    def payload(x):
        if isinstance(x, dict) and set(x) >= {"0", "1"}:
            return x["0"] if x["0"] is not None else x["1"]
        return x

    back = pyarrow.orc.ORCFile(p).read()
    assert [payload(x) for x in back.column("u").combine_chunks().to_pylist()] == [
        payload(x) for x in t.column("u").combine_chunks().to_pylist()
    ]


def test_timestamp_instant_written_for_tz_aware(tmp_path):
    """tz-aware Arrow timestamps write as TIMESTAMP_INSTANT (kind 18) —
    the ORC C++ reader surfaces them tz-aware with identical instants."""
    n = 5000
    ns = (np.arange(n, dtype=np.int64) * 999_999_937) + 1_400_000_000_000_000_000
    t = pa.table({"ts": pa.array(ns, type=pa.int64()).cast(pa.timestamp("ns", tz="UTC"))})
    p = str(tmp_path / "tsi.orc")
    write_orc(t, p, compression="snappy")
    back = pyarrow.orc.ORCFile(p).read()
    assert str(back.schema.field("ts").type).startswith("timestamp") and back.schema.field("ts").type.tz is not None
    assert back.column("ts").cast(pa.int64()).combine_chunks().equals(
        t.column("ts").cast(pa.int64()).combine_chunks()
    )
    ours = read_orc(p)
    assert ours.column("ts").cast(pa.int64()).combine_chunks().equals(
        t.column("ts").cast(pa.int64()).combine_chunks()
    )


def test_wide_decimal_exact_mantissa(tmp_path):
    """>28-significant-digit decimals must write EXACTLY: the previous
    Decimal.scaleb conversion ran under the default context (prec=28)
    and silently rounded wide mantissas (ADVICE r3). Verified through
    both the ORC C++ reader and ours, including negatives and the
    38-digit extremes."""
    from decimal import Decimal

    vals = [
        Decimal("1234567890123456789012345678901234.5678"),
        Decimal("-9999999999999999999999999999999999.9999"),
        Decimal("0.0001"),
        Decimal("-0.0001"),
        None,
        Decimal("9999999999999999999999999999999999.9999"),
        Decimal("1"),
    ]
    t = pa.table({"d": pa.array(vals, type=pa.decimal128(38, 4))})
    p = str(tmp_path / "wide_dec.orc")
    write_orc(t, p, compression="snappy")
    cxx = pa.orc.ORCFile(p).read().column("d").to_pylist()
    ours = read_orc(p).column("d").cast(pa.decimal128(38, 4)).to_pylist()
    assert cxx == vals
    assert ours == vals


def test_char_varchar_footer_type_preserved(spark, tmp_path):
    """r3 verdict #7: a foreign CHAR/VARCHAR schema survives a
    read-modify-write. string_kinds propagates kind + maximumLength into
    the footer (data streams stay the STRING layout); ORC-Java parses
    the schema back as char(n)/varchar(n) with the exact values, and
    overlong values are rejected at write time."""
    import pytest as _pytest

    from datafusion_orc_spark.format.orc_proto import CHAR, VARCHAR

    t = pa.table({
        "c": pa.array(["ab", "xy", None, "zz"]),
        "v": pa.array(["hello", "hi", "there", None]),
        "s": pa.array(["plain"] * 4),
    })
    p = str(tmp_path / "chars.orc")
    write_orc(t, p, compression="snappy", string_kinds={"c": ("char", 2), "v": ("varchar", 8)})
    from datafusion_orc_spark.format.orc_reader import OrcReader

    r = OrcReader(p)
    kinds = {r.footer.types[0].field_names[i]: r.footer.types[0].subtypes[i] for i in range(3)}
    assert r.footer.types[kinds["c"]].kind == CHAR
    assert r.footer.types[kinds["c"]].maximum_length == 2
    assert r.footer.types[kinds["v"]].kind == VARCHAR
    assert r.footer.types[kinds["v"]].maximum_length == 8
    # values round-trip through ORC C++, ORC-Java schema string, and us
    assert pyarrow.orc.ORCFile(p).read().column("v").to_pylist() == t.column("v").to_pylist()
    assert r.read().column("c").to_pylist() == t.column("c").to_pylist()
    jvm = spark._jvm
    jr = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.readerOptions(spark._jsc.hadoopConfiguration()),
    )
    assert str(jr.getSchema()) == "struct<c:char(2),v:varchar(8),s:string>"
    with _pytest.raises(ValueError, match="exceeds"):
        write_orc(t, p, string_kinds={"v": ("varchar", 3)})
    with _pytest.raises(TypeError):
        write_orc(pa.table({"k": pa.array([1, 2])}), p, string_kinds={"k": ("char", 2)})


def test_high_cardinality_strings_stay_direct_v2(tmp_path):
    """A mostly-unique string column fails the dictionary heuristic on
    its distinct count, before its dictionary becomes Python objects: it
    stays DIRECT_V2, reads back equal through ORC C++, and its file
    bytes are pinned."""
    import hashlib

    from datafusion_orc_spark.format import orc_proto as proto
    from datafusion_orc_spark.format.orc_reader import OrcReader, _StripeReader

    n = 3000
    vals = [None if i % 97 == 0 else ("rep" if i % 50 == 0 else f"u{(i * 7919) % 100003:06d}") for i in range(n)]
    tbl = pa.table({"s": pa.array(vals), "k": pa.array(range(n), pa.int64())})
    path = str(tmp_path / "hc.orc")
    write_orc(tbl, path, stripe_rows=1000)
    r = OrcReader(path)
    col_s = r.footer.types[0].subtypes[r.footer.types[0].field_names.index("s")]
    for info in r.footer.stripes:
        assert _StripeReader(r, info).encodings[col_s].kind == proto.E_DIRECT_V2
    assert pyarrow.orc.ORCFile(path).read().equals(tbl)
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    assert digest == "3552ae457e422f311cce4612fbff42b0ad3b21b0884c4990e0de35237e478a5b"
