"""Round-5 advice fixes: all-null STRUCT decode (full + pruned-range),
vectorized <=18-digit DECIMAL range decode, and floor ns->us timestamp
boundary cast in the distributed scan."""

import datetime

import numpy as np
import pyarrow as pa

from datafusion_orc_spark.format.orc_reader import OrcReader, read_orc
from datafusion_orc_spark.format.orc_writer import write_orc


def _struct_table(n=30000, null_lo=10000, null_hi=20000):
    """Struct column null on [null_lo, null_hi) — a full row-group span
    at the default 10k stride, so a pruned read of that span decodes a
    range whose n_vals == 0."""
    vals = [
        None if null_lo <= i < null_hi else {"a": int(i), "b": f"s{i % 9}"}
        for i in range(n)
    ]
    return pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "st": pa.array(vals, type=pa.struct([("a", pa.int64()), ("b", pa.string())])),
    })


def test_all_null_struct_column_full_decode(tmp_path):
    """decode_column on a struct column with zero valid rows must build
    typed null children, not take() from empty child arrays."""
    n = 5000
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "st": pa.array([None] * n, type=pa.struct([("a", pa.int64()), ("b", pa.string())])),
    })
    p = str(tmp_path / "allnull_struct.orc")
    write_orc(t, p, stripe_rows=n)
    back = read_orc(p)
    assert back.column("st").null_count == n
    assert back.column("st").type == t.column("st").type


def test_all_null_struct_range_decode(tmp_path):
    """A pruned read whose surviving row group holds ONLY null struct
    rows (n_vals == 0 in a row-group decode_column) must succeed and
    match the full-decode slice."""
    t = _struct_table()
    p = str(tmp_path / "range_null_struct.orc")
    write_orc(t, p, stripe_rows=30000)  # 3 row groups of 10k
    got = OrcReader(p).read(prune={"k": (12000, 12500)})
    assert got.num_rows >= 501  # conservative pruning keeps >= the range
    ks = got.column("k").to_pylist()
    sts = got.column("st").to_pylist()
    for k, st in zip(ks, sts):
        expect = None if 10000 <= k < 20000 else {"a": k, "b": f"s{k % 9}"}
        assert st == expect, k
    # and a range spanning a null group + a populated group
    got2 = OrcReader(p).read(prune={"k": (9500, 10500)})
    for k, st in zip(got2.column("k").to_pylist(), got2.column("st").to_pylist()):
        expect = None if 10000 <= k < 20000 else {"a": k, "b": f"s{k % 9}"}
        assert st == expect, k


def test_decimal_range_decode_vectorized_matches_full(tmp_path):
    """<=18-digit DECIMAL pruned-range decode (now vectorized int64 ->
    decimal128 buffers) must equal the full decode slice, nulls and
    negatives included."""
    from decimal import Decimal

    n = 30000
    rng = np.random.default_rng(7)
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "dec": pa.array(
            [
                None if i % 13 == 0 else Decimal(int(v)).scaleb(-5)
                for i, v in enumerate(rng.integers(-10**12, 10**12, n))
            ],
            type=pa.decimal128(15, 5),
        ),
    })
    p = str(tmp_path / "dec_range.orc")
    write_orc(t, p, stripe_rows=30000, compression="snappy")
    got = OrcReader(p).read(prune={"k": (23000, 23500)})
    ks = got.column("k").to_pylist()
    want = [t.column("dec")[k].as_py() for k in ks]
    assert got.column("dec").to_pylist() == want
    # full decode equality too (same vectorized path)
    full = read_orc(p)
    assert full.column("dec").combine_chunks().equals(t.column("dec").combine_chunks())


def test_ns_timestamp_floor_cast_in_distributed_scan(spark, tmp_path):
    """ORC files with genuine sub-microsecond timestamp components must
    scan without error; sub-us nanos FLOOR (pre-epoch included), matching
    Spark's own ORC reader's truncation rather than ArrowInvalid."""
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    ns_vals = [
        1_700_000_000_123_456_789,  # .123456789 -> floors to .123456
        -999,                       # pre-epoch, floors to -1us
        1_000,                      # exactly 1us
        None,
        -1_500,                     # pre-epoch, floors to -2us
    ]
    t = pa.table({
        "k": pa.array(np.arange(len(ns_vals), dtype=np.int64)),
        "ts": pa.array(ns_vals, type=pa.timestamp("ns")),
    })
    p = str(tmp_path / "ns_ts.orc")
    write_orc(t, p)
    rows = (
        read_orc_distributed(spark, p)
        .orderBy("k")
        .collect()
    )
    epoch = datetime.datetime(1970, 1, 1)
    expect_us = [1_700_000_000_123_456, -1, 1, None, -2]
    for row, us in zip(rows, expect_us):
        if us is None:
            assert row["ts"] is None
        else:
            assert row["ts"] == epoch + datetime.timedelta(microseconds=us), row


def test_all_null_list_and_map_range_decode(tmp_path):
    """Sibling guard to the struct fix: a pruned range whose rows hold
    ONLY null list/map values (empty children) must decode cleanly."""
    n = 30000
    vals_l = [None if 10000 <= i < 20000 else list(range(i % 4)) for i in range(n)]
    vals_m = [None if 10000 <= i < 20000 else {f"k{j}": j for j in range(i % 3)} for i in range(n)]
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "ls": pa.array(vals_l, type=pa.list_(pa.int64())),
        "mp": pa.array(vals_m, type=pa.map_(pa.string(), pa.int64())),
    })
    p = str(tmp_path / "range_null_listmap.orc")
    write_orc(t, p, stripe_rows=30000)
    got = OrcReader(p).read(prune={"k": (12000, 12500)})
    for k, ls, mp in zip(
        got.column("k").to_pylist(),
        got.column("ls").to_pylist(),
        got.column("mp").to_pylist(),
    ):
        el = None if 10000 <= k < 20000 else list(range(k % 4))
        em = None if 10000 <= k < 20000 else [(f"k{j}", j) for j in range(k % 3)]
        assert ls == el, k
        assert (mp if mp is None else list(mp)) == em, k
