"""Reader-side ROW_INDEX / statistics parsing (D19 for foreign files):
indexes written by ORC-Java (via Spark) and by our own writer must both
parse into usable row-group stats, and the pruning math must keep
exactly the groups that can match."""

import numpy as np
import pyarrow as pa
import pytest

from datafusion_orc_spark.format import orc_proto as proto
from datafusion_orc_spark.format.orc_index import (
    may_match,
    parse_row_index,
    stripe_stats_from_metadata,
    surviving_groups,
)
from datafusion_orc_spark.format.orc_reader import OrcReader, _StripeReader, decompress_stream
from datafusion_orc_spark.format.orc_writer import write_orc


def _row_indexes(reader: OrcReader, stripe: int) -> dict[int, list[dict]]:
    sr = _StripeReader(reader, reader.footer.stripes[stripe])
    return {
        col: parse_row_index(sr.stream(col, proto.S_ROW_INDEX))
        for col in range(len(reader.footer.types))
        if sr.has_stream(col, proto.S_ROW_INDEX)
    }


def _surviving_row_groups(idx: dict[int, list[dict]], prune: dict[int, tuple]) -> list[int] | None:
    """The row groups of a stripe's parsed indexes that may match every
    bound, as ``OrcReader.iter_stripes`` selects them."""
    return surviving_groups(
        [may_match(e["stats"].get("min"), e["stats"].get("max"), lo, hi) for e in idx.get(col, [])]
        for col, (lo, hi) in prune.items()
    )


def test_parse_our_writers_multi_group_index(tmp_path):
    n = 40000
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"name-{i % 50:03d}" for i in range(n)]),
    })
    p = str(tmp_path / "ours.orc")
    write_orc(t, p, stripe_rows=40000, compression="snappy")  # 4 row groups
    r = OrcReader(p)
    idx = _row_indexes(r, 0)
    assert len(idx[1]) == 4
    mins = [e["stats"]["min"] for e in idx[1]]
    maxs = [e["stats"]["max"] for e in idx[1]]
    assert mins == [0, 10000, 20000, 30000]
    assert maxs == [9999, 19999, 29999, 39999]
    assert idx[2][0]["stats"]["min"] == "name-000"
    # pruning math
    assert _surviving_row_groups(idx, {1: (25000, 26000)}) == [2]
    assert _surviving_row_groups(idx, {1: (9999, 10000)}) == [0, 1]
    assert _surviving_row_groups(idx, {1: (400000, 500000)}) == []
    assert _surviving_row_groups(idx, {7: (0, 1)}) is None  # no such column index


def test_parse_spark_orc_java_index(spark, tmp_path):
    """ORC-Java's own files (written by Spark) parse identically."""
    p = str(tmp_path / "java_orc")
    spark.range(35000).selectExpr(
        "id as k", "cast(id % 97 as double) as d", "concat('v', id % 13) as s"
    ).coalesce(1).write.orc(p)
    import glob

    f = glob.glob(f"{p}/*.orc")[0]
    r = OrcReader(f)
    assert r.footer.row_index_stride == 10000
    idx = _row_indexes(r, 0)
    k_entries = idx[1]
    assert len(k_entries) == 4  # 35000 rows / 10000 stride
    assert k_entries[0]["stats"]["min"] == 0 and k_entries[3]["stats"]["max"] == 34999
    assert abs(idx[2][1]["stats"]["max"] - 96.0) < 1e-9  # double stats
    assert idx[3][0]["stats"]["min"] == "v0"             # string stats
    assert _surviving_row_groups(idx, {1: (12000, 12345)}) == [1]


def test_spark_date_statistics_prune_row_groups(spark, tmp_path):
    """ORC-Java writes a DATE column's stats as dateStatistics (field
    7): they parse as day numbers, and a point bound, as a date or as
    its day number, keeps only its row group."""
    import datetime
    import glob

    p = str(tmp_path / "java_dates")
    spark.range(35000).selectExpr(
        "id as k", "date_add(date'2020-01-01', cast(id div 100 as int)) as dt"
    ).coalesce(1).write.orc(p)
    f = glob.glob(f"{p}/*.orc")[0]
    r = OrcReader(f)
    epoch = datetime.date(1970, 1, 1)
    day0 = (datetime.date(2020, 1, 1) - epoch).days
    assert r.stripe_statistics()[0][2]["min"] == day0
    assert [e["stats"]["max"] for e in _row_indexes(r, 0)[2]] == [day0 + 99, day0 + 199, day0 + 299, day0 + 349]
    d = datetime.date(2020, 1, 1) + datetime.timedelta(days=123)
    for bound in (d, (d - epoch).days):
        got = OrcReader(f).read(prune={"dt": (bound, bound)})
        assert got.column("k").to_pylist() == list(range(10000, 20000))


def test_metadata_stripe_stats_parse(spark, tmp_path):
    p = str(tmp_path / "java_orc2")
    spark.range(50000).selectExpr("id as k").coalesce(1).write.option(
        "orc.stripe.size", 65536
    ).orc(p)
    import glob, os

    f = glob.glob(f"{p}/*.orc")[0]
    r = OrcReader(f)
    sz = os.path.getsize(f)
    with open(f, "rb") as fh:
        raw = fh.read()
    ps_len = raw[-1]
    foot_start = sz - 1 - ps_len - r.postscript.footer_length
    meta_start = foot_start - r.postscript.metadata_length
    ss = stripe_stats_from_metadata(decompress_stream(raw[meta_start:foot_start], r.postscript.compression))
    assert len(ss) == len(r.footer.stripes) >= 1
    assert ss[0][1]["min"] == 0
    assert ss[-1][1]["max"] == 49999


def _counting_opener(path):
    import io

    class F(io.FileIO):
        reads = []

        def read(self, n=-1):
            F.reads.append((self.tell(), n))
            return super().read(n)

    return F(path, "rb")


def test_pruned_read_skips_stripes_and_row_groups(spark, tmp_path):
    """read_orc(prune=) on an ORC-Java-written multi-stripe file:
    result must be a superset of matching rows restricted to surviving
    row groups, and SKIPPED stripes must cost zero data reads."""
    import glob

    from datafusion_orc_spark.format.orc_reader import OrcReader

    p = str(tmp_path / "java_orc3")
    # force several stripes: big strings defeat RLE so stripes fill
    spark.range(200000).selectExpr(
        "id as k", "repeat(concat('pad', cast(id as string)), 24) as pad"
    ).coalesce(1).write.option("orc.stripe.size", 262144).orc(p)
    f = glob.glob(f"{p}/*.orc")[0]
    r0 = OrcReader(f)
    n_stripes = len(r0.footer.stripes)
    assert n_stripes >= 3, n_stripes

    # target a window deep in the file
    lo, hi = 150000, 150500
    got = OrcReader(f).read(columns=["k"], prune={"k": (lo, hi)})
    ks = got.column("k").to_pylist()
    assert set(range(lo, hi + 1)) <= set(ks)  # no matching row lost
    assert len(ks) < 200000  # pruning actually dropped rows
    # the 500-row window intersects at most 2 row groups per surviving
    # stripe (groups are stripe-relative), so the result must be tiny
    stride = r0.footer.row_index_stride
    assert len(ks) <= 3 * stride, len(ks)

    # IO accounting: stripes whose stats exclude [lo, hi] are never read
    opener_reads = []

    def opener(path):
        import io

        f_ = open(path, "rb")

        class Wrap:
            def seek(self, *a):
                return f_.seek(*a)

            def tell(self):
                return f_.tell()

            def read(self, n=-1):
                opener_reads.append((f_.tell(), n))
                return f_.read(n)

        return Wrap()

    r = OrcReader(f, opener=opener)
    pre = len(opener_reads)
    r.read(columns=["k"], prune={"k": (lo, hi)})
    data_reads = opener_reads[pre:]
    # reads overlapping each skipped stripe's byte range must not exist
    surviving = set()
    for si, info in enumerate(r.footer.stripes):
        st = r.stripe_statistics()[si]
        if st[1]["max"] >= lo and st[1]["min"] <= hi:
            surviving.add(si)
    assert 0 < len(surviving) < n_stripes
    for si, info in enumerate(r.footer.stripes):
        if si in surviving:
            continue
        s0, s1 = info.offset, info.offset + info.index_length + info.data_length
        for off, n in data_reads:
            assert not (off < s1 and off + (n or 0) > s0), (si, off, n)


def test_positional_seek_matches_full_decode(spark, tmp_path):
    """decode_column(group=) must reproduce full-decode slices exactly for
    every seekable stream shape on an ORC-Java-written file (snappy,
    multi-group), including PRESENT, dictionary and direct strings,
    bool, tinyint, floats and timestamps."""
    import glob

    from datafusion_orc_spark.format.orc_reader import OrcReader

    p = str(tmp_path / "java_seek")
    spark.range(35000).selectExpr(
        "id as k",
        "cast(id % 251 as smallint) as k16",
        "cast(id % 100 as tinyint) as k8",
        "id % 2 = 0 as flag",
        "cast(id as double) / 7 as d",
        "concat('uniq-', cast(id as string)) as s_uniq",
        "concat('d', cast(id % 40 as string)) as s_dict",
        "if(id % 7 = 0, null, id * 3) as nullable",
        "timestamp_micros(cast(id * 1000003 as long)) as ts",
        "date_add(date'2020-01-01', cast(id % 3000 as int)) as dt",
    ).coalesce(1).write.orc(p)
    f = glob.glob(f"{p}/*.orc")[0]
    r = OrcReader(f)
    full = r.read()
    # prune to a window that survives only row group 2 (rows 20000..29999)
    got = OrcReader(f).read(prune={"k": (23000, 23500)})
    lo = full.column("k").to_pylist().index(got.column("k")[0].as_py())
    expect = full.slice(lo, got.num_rows)
    for name in full.schema.names:
        assert got.column(name).combine_chunks().equals(
            expect.column(name).combine_chunks()
        ), name
    assert got.num_rows == 10000  # exactly one row group decoded
    # the seek path must not fall back to whole-stripe decode
    again = _seek_with_no_fallback(f, {"k": (23000, 23500)})
    assert again.num_rows == 10000


def test_positional_seek_on_our_writers_files(tmp_path):
    """Same seek path over OUR writer's multi-group files (zlib)."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.format.orc_writer import write_orc

    n = 40000
    rng = np.random.default_rng(3)
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "flag": pa.array((np.arange(n) // 3) % 2 == 0),
        "tiny": pa.array((rng.integers(-128, 128, n)).astype(np.int8)),
        "val": pa.array(rng.random(n)),
        "s_uniq": pa.array([f"u-{i:08d}" for i in range(n)]),
        "s_dict": pa.array([f"d-{i % 40:03d}" for i in range(n)]),
        "nullable": pa.array([None if i % 7 == 0 else int(i) for i in range(n)], type=pa.int64()),
        "nflag": pa.array([None if i % 5 == 0 else bool(i % 2) for i in range(n)], type=pa.bool_()),
        # nullable dictionary string: PRESENT(4) + index RLE(3) positions
        "ns_dict": pa.array([None if i % 3 == 0 else f"nd-{i % 20:02d}" for i in range(n)]),
    })
    p = str(tmp_path / "ours_seek.orc")
    write_orc(t, p, stripe_rows=40000, compression="zlib")  # 4 groups
    full = OrcReader(p).read()
    got = OrcReader(p).read(prune={"k": (31000, 31500)})
    assert got.num_rows == 10000
    lo = got.column("k")[0].as_py()
    for name in t.schema.names:
        assert got.column(name).combine_chunks().equals(
            full.slice(lo, 10000).column(name).combine_chunks()
        ), name


def _seek_with_no_fallback(path, prune):
    """read(prune=) with decode_column wrapped to prove the
    positional-seek path never falls back to whole-stripe decode: a
    call without a row group raises (children recurse with their
    parent's group, so only a top-level whole-stripe call can fire),
    seeking calls run the real decoder."""
    from datafusion_orc_spark.format import orc_reader as orr

    real = orr._StripeReader.decode_column

    def guarded(self, col, n, group=None, entries_for=None):
        if group is None:
            raise AssertionError("full decode on seek path")
        return real(self, col, n, group, entries_for)

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(orr._StripeReader, "decode_column", guarded)
        return OrcReader(path).read(prune=prune)
    finally:
        mp.undo()


def test_positional_seek_nested_and_decimal_columns(spark, tmp_path):
    """r3 verdict #1: LIST/MAP/STRUCT/DECIMAL columns must SEEK through
    the ROW_INDEX positions (parent LENGTH decoded for the group, each
    child entering its own stream at the group's recorded offsets)
    instead of whole-stripe decode + slice. ORC-Java-written file
    (snappy, 4 row groups), monkeypatch proves decode_column never
    runs."""
    import glob

    p = str(tmp_path / "java_nested_seek")
    spark.range(35000).selectExpr(
        "id as k",
        "array(id, id * 2, id % 7) as arr",
        "map(concat('m', id % 5), id) as mp",
        "named_struct('a', id * 3, 'b', concat('s', id % 11)) as st",
        "cast(cast(id as string) || '.25' as decimal(12, 2)) as dec_small",
        "cast(cast(id as string) || '1234567890123456789012.5678' as decimal(38, 4)) as dec_wide",
        "if(id % 6 = 0, null, array(id, id + 1)) as narr",
        "if(id % 4 = 0, null, named_struct('x', id, 'y', cast(id as double))) as nst",
    ).coalesce(1).write.orc(p)
    f = glob.glob(f"{p}/*.orc")[0]
    full = OrcReader(f).read()
    got = _seek_with_no_fallback(f, {"k": (23000, 23500)})
    assert got.num_rows == 10000  # exactly one row group decoded
    lo = full.column("k").to_pylist().index(got.column("k")[0].as_py())
    expect = full.slice(lo, got.num_rows)
    for name in full.schema.names:
        assert got.column(name).combine_chunks().equals(
            expect.column(name).combine_chunks()
        ), name


def test_positional_seek_rlev1_file(spark, tmp_path):
    """ORC 0.11 (RLEv1 DIRECT/DICTIONARY) files seek through the same
    positions (RLEv1 entries carry the same [byte, values-into-run]
    shape) — previously any v1-encoded column fell back to full
    decode."""
    import glob

    p = str(tmp_path / "java_v1_seek")
    spark.range(35000).selectExpr(
        "id as k",
        "concat('d', cast(id % 40 as string)) as s_dict",
        "concat('u', cast(id as string)) as s_uniq",
        "if(id % 7 = 0, null, id * 3) as nullable",
        "cast(id as double) / 3 as d",
    ).coalesce(1).write.option("orc.write.format", "0.11").orc(p)
    f = glob.glob(f"{p}/*.orc")[0]
    r = OrcReader(f)
    assert list(r.postscript.version) == [0, 11], r.postscript.version
    full = r.read()
    got = _seek_with_no_fallback(f, {"k": (23000, 23500)})
    assert got.num_rows == 10000
    lo = full.column("k").to_pylist().index(got.column("k")[0].as_py())
    expect = full.slice(lo, got.num_rows)
    for name in full.schema.names:
        assert got.column(name).combine_chunks().equals(
            expect.column(name).combine_chunks()
        ), name


def test_positional_seek_nested_on_our_writers_files(tmp_path):
    """Our own writer's nested/decimal files ride the same seek path."""
    from decimal import Decimal

    n = 40000
    rng = np.random.default_rng(9)
    lens = rng.integers(0, 5, n)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    items = rng.integers(0, 50257, int(off[-1])).astype(np.int32)
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "tokens": pa.ListArray.from_arrays(
            pa.array(off, type=pa.int64()).cast(pa.int32()), pa.array(items)
        ),
        "dec": pa.array(
            [Decimal(int(v)).scaleb(-2) for v in rng.integers(-10**6, 10**6, n)],
            type=pa.decimal128(12, 2),
        ),
        "st": pa.StructArray.from_arrays(
            [pa.array(np.arange(n, dtype=np.int64) * 7), pa.array([f"s{i % 13}" for i in range(n)])],
            names=["a", "b"],
        ),
    })
    p = str(tmp_path / "ours_nested_seek.orc")
    write_orc(t, p, stripe_rows=40000, compression="snappy")
    full = OrcReader(p).read()
    got = _seek_with_no_fallback(p, {"k": (31000, 31500)})
    assert got.num_rows == 10000
    lo = got.column("k")[0].as_py()
    for name in t.schema.names:
        assert got.column(name).combine_chunks().equals(
            full.slice(lo, 10000).column(name).combine_chunks()
        ), name


def test_decode_column_range_on_reference_corpus_nested():
    """Conformance on the reference's own nested corpus file
    (reference tests/basic/data/map_list.snappy.orc: map at col 2,
    list at col 5): group-0 positional decode of every root column must
    equal the full decode."""
    f = "/root/reference/tests/basic/data/map_list.snappy.orc"
    r = OrcReader(f)
    full = r.read()
    sr = _StripeReader(r, r.footer.stripes[0])
    root = r.footer.types[0]

    cache: dict[int, list] = {}

    def entries_for(cid):
        if cid not in cache:
            cache[cid] = (
                parse_row_index(sr.stream(cid, proto.S_ROW_INDEX))
                if sr.has_stream(cid, proto.S_ROW_INDEX)
                else []
            )
        return cache[cid]

    n = r.footer.stripes[0].number_of_rows
    for i, name in enumerate(root.field_names):
        arr = sr.decode_column(root.subtypes[i], n, 0, entries_for)
        assert arr is not None, name
        assert arr.equals(full.column(name).combine_chunks()), name


@pytest.mark.parametrize("compression", ["none", "snappy", "zlib"])
def test_every_row_group_seeks_to_its_slice(tmp_path, compression):
    """decode_column(group=g) for EVERY row group of every stripe —
    the partial last group included — must equal the matching slice of
    the full read, uncompressed (positions carry no chunk-offset slot)
    as well as compressed. Covers PRESENT streams with an all-null
    group (int64 and bool), nullable dictionary and direct strings,
    list<int32>, a struct and a double."""
    n, stripe_rows, stride = 25000, 12500, 2000
    i = np.arange(n)
    in_group = (i % stripe_rows) // stride
    lens = (i * 7) % 5
    off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=off[1:])
    t = pa.table({
        "k": pa.array(i.astype(np.int64)),
        # group 1 of each stripe is all null
        "nint": pa.array(
            [None if g == 1 or v % 7 == 0 else int(v) * 3 for v, g in zip(i, in_group)],
            type=pa.int64(),
        ),
        # group 3 of each stripe is all null; elsewhere 1333-1334 values
        # per group, so DATA seeks land mid-byte
        "nflag": pa.array(
            [None if g == 3 or v % 3 == 1 else bool(v % 4) for v, g in zip(i, in_group)],
            type=pa.bool_(),
        ),
        "s_dict": pa.array([None if v % 3 == 0 else f"d-{v % 20:02d}" for v in i]),
        "s_uniq": pa.array([None if v % 11 == 0 else f"u-{v:08d}" for v in i]),
        "lst": pa.ListArray.from_arrays(pa.array(off), pa.array((np.arange(off[-1]) % 1000).astype(np.int32))),
        "st": pa.StructArray.from_arrays(
            [pa.array(i.astype(np.int64) * 5), pa.array([f"s{v % 13}" for v in i])],
            names=["a", "b"],
            mask=pa.array(i % 9 == 0),
        ),
        "d": pa.array(i / 7.0),
    })
    p = str(tmp_path / f"every_group_{compression}.orc")
    write_orc(t, p, stripe_rows=stripe_rows, compression=compression, row_index_stride=stride)
    r = OrcReader(p)
    full = r.read()
    assert full.equals(t)
    root = r.footer.types[0]
    names = list(root.field_names)
    assert len(r.footer.stripes) == 2
    row0 = 0
    for info in r.footer.stripes:
        sr = _StripeReader(r, info)
        kinds = {nm: sr.encodings[root.subtypes[j]].kind for j, nm in enumerate(names)}
        assert kinds["s_dict"] in (proto.E_DICTIONARY, proto.E_DICTIONARY_V2)
        assert kinds["s_uniq"] in (proto.E_DIRECT, proto.E_DIRECT_V2)
        entries = {}

        def entries_for(cid, sr=sr, entries=entries):
            if cid not in entries:
                entries[cid] = parse_row_index(sr.stream(cid, proto.S_ROW_INDEX))
            return entries[cid]

        n_groups = -(-info.number_of_rows // stride)
        assert n_groups == 7  # six full groups + a partial one
        for g in range(n_groups):
            rows = min(stride, info.number_of_rows - g * stride)
            for j, nm in enumerate(names):
                got = sr.decode_column(root.subtypes[j], rows, g, entries_for)
                assert got is not None, (info, g, nm)
                expect = full.column(nm).slice(row0 + g * stride, rows).combine_chunks()
                assert got.equals(expect), (row0, g, nm)
        row0 += info.number_of_rows


def test_date_prune_bounds_match_int_day_bounds(tmp_path):
    """A DATE column prunes on ``datetime.date`` bounds exactly as on the
    same bounds as int day numbers: the same rows and the same stripes
    skipped, for a range and for a bloom-checked point predicate."""
    import datetime

    n = 30_000
    days = np.arange(n, dtype=np.int32) // 3  # sorted: stripes hold disjoint day ranges
    tbl = pa.table({"d": pa.array(days, pa.date32()), "v": np.arange(n, dtype=np.int64)})
    path = str(tmp_path / "dates.orc")
    write_orc(tbl, path, stripe_rows=8192, bloom_filter_columns=["d"])
    reader = OrcReader(path)
    epoch = datetime.date(1970, 1, 1)

    def scan(prune):
        kept = [
            s for s in range(len(reader.footer.stripes))
            if any(True for _ in reader.iter_stripes(stripes=[s], prune=prune))
        ]
        rows = pa.Table.from_batches(list(reader.iter_stripes(prune=prune))).column("v").to_pylist()
        return kept, rows

    for lo, hi in ((3000, 4000), (5000, 5000), (None, 1000)):
        as_date = [None if b is None else epoch + datetime.timedelta(days=b) for b in (lo, hi)]
        kept, rows = scan({"d": (lo, hi)})
        assert scan({"d": tuple(as_date)}) == (kept, rows)
        assert len(kept) < len(reader.footer.stripes)
        want = [i for i, d in enumerate(days.tolist()) if (lo is None or d >= lo) and d <= hi]
        assert set(want) <= set(rows)
