"""M6 conformance — decode the reference's own ORC corpus bit-identically.

Co-oracle: pyarrow.orc (Apache ORC C++). The reference crate's golden
output for alltypes is at /root/reference/src/lib.rs:194-206; the corpus
files are Spark-written ORC v0.12 SNAPPY (SURVEY.md §0).

Also F5-style stream oracles: files written by pyarrow's ORC writer
(real ORC C++ RLEv2 streams) must decode byte-exact via our kernels.
"""

import numpy as np
import pyarrow as pa
import pyarrow.orc
import pytest

from datafusion_orc_spark.format.orc_reader import OrcReader, read_orc

ALLTYPES = "/root/reference/tests/basic/data/alltypes.snappy.orc"
MAP_LIST = "/root/reference/tests/basic/data/map_list.snappy.orc"


def _assert_tables_equal(ours: pa.Table, oracle: pa.Table):
    assert ours.schema.names == oracle.schema.names
    for name in oracle.schema.names:
        a, b = ours.column(name).combine_chunks(), oracle.column(name).combine_chunks()
        if pa.types.is_timestamp(b.type):
            a = a.cast(b.type)
        assert a.equals(b), f"column {name}: {a} != {b}"


def test_alltypes_matches_pyarrow_oracle():
    ours = read_orc(ALLTYPES)
    oracle = pyarrow.orc.ORCFile(ALLTYPES).read()
    _assert_tables_equal(ours, oracle)


def test_alltypes_reference_golden():
    # /root/reference/src/lib.rs:188-206: `select int16, utf8 from table1
    # limit 5`, compared order-insensitively (assert_batches_sorted_eq).
    t = read_orc(ALLTYPES, columns=["int16", "utf8"])
    rows = list(zip(t.column("int16").to_pylist(), t.column("utf8").to_pylist()))[:5]
    assert set(rows) == {
        (None, None),
        (-1, " "),
        (0, ""),
        (1, "a"),
        (32767, "encode"),
    }


def test_map_list_matches_pyarrow_oracle():
    ours = read_orc(MAP_LIST)
    oracle = pyarrow.orc.ORCFile(MAP_LIST).read()
    # map comes back as list<struct<key,value>> either way; compare pylist
    assert ours.num_rows == oracle.num_rows == 1
    for name in oracle.schema.names:
        assert ours.column(name).to_pylist() == oracle.column(name).to_pylist(), name


def test_schema_inference_matches():
    ours = OrcReader(ALLTYPES).schema()
    oracle = pyarrow.orc.ORCFile(ALLTYPES).read().schema
    assert ours.names == oracle.names
    for f_ours, f_orc in zip(ours, oracle):
        if pa.types.is_timestamp(f_orc.type):
            continue
        assert f_ours.type == f_orc.type, f_ours.name


def test_projection_pushdown_reads_subset():
    # mirrors reference projection mask physical_exec.rs:69-78
    t = read_orc(ALLTYPES, columns=["int32", "date32"])
    assert t.schema.names == ["int32", "date32"]
    assert t.num_rows == 11


@pytest.mark.parametrize("compression", ["uncompressed", "snappy", "zlib", "zstd"])
def test_roundtrip_via_pyarrow_writer(tmp_path, compression):
    """Cross-implementation: ORC C++ writes (real RLEv2/dict streams),
    our reader decodes. Exercises every F2 codec-trigger shape."""
    n = 5000
    rng = np.random.default_rng(42)
    state = rng.integers(0, 2**63, n)
    tbl = pa.table({
        "c_const": pa.array(np.full(n, 7, dtype=np.int32)),
        "c_mono": pa.array((1000 + 3 * np.arange(n)).astype(np.int32)),
        "c_rand": pa.array(state.astype(np.int64)),
        "c_small": pa.array(np.where(np.arange(n) % 97 == 0, 10**9 + state % 1000, state % 100).astype(np.int64)),
        "c_for": pa.array((1_000_000 + state % 256).astype(np.int32)),
        "s_lowcard": pa.array([f"src_{i % 8}" for i in range(n)]),
        "s_highcard": pa.array([f"doc-{s:016x}-{i}" for i, s in enumerate(state)]),
        "b_flag": pa.array(((np.arange(n) // 100) % 2 == 0)),
        "f_double": pa.array(rng.random(n)),
        "nullable": pa.array([None if i % 7 == 0 else int(i) for i in range(n)], type=pa.int64()),
    })
    path = str(tmp_path / f"f2_{compression}.orc")
    pyarrow.orc.write_table(tbl, path, compression=compression)
    ours = read_orc(path)
    _assert_tables_equal(ours, pa.Table.from_batches(tbl.to_batches(), tbl.schema))


def test_timestamp_roundtrip_via_pyarrow_writer(tmp_path):
    """D16 — ORC timestamps: seconds-from-2015 + signed nanos with
    trailing-zero packing (negative sub-second instants included)."""
    vals = [1000, -1000, -1, 1, -1500000000, 1500000000, 0, -999999999,
            1420070400 * 10**9 + 5, -2208988799999999877, 1234567890123456789]
    tbl = pa.table({"t": pa.array(vals, type=pa.int64()).cast(pa.timestamp("ns"))})
    path = str(tmp_path / "ts.orc")
    pyarrow.orc.write_table(tbl, path)
    ours = read_orc(path).column("t").combine_chunks()
    oracle = pyarrow.orc.ORCFile(path).read().column("t").combine_chunks()
    assert ours.cast(oracle.type).equals(oracle)


def test_decimal128_big_precision(tmp_path):
    """D13 — decimal mantissas above 64 bits (precision > 18)."""
    from decimal import Decimal

    vals = [
        Decimal("12345678901234567890123456.7890123456"),
        Decimal("-9999999999999999999999999999.9999999999"),
        Decimal("0.0000000001"),
        None,
        Decimal("-1.5"),
    ]
    tbl = pa.table({
        "big": pa.array(vals, type=pa.decimal128(38, 10)),
        "small": pa.array(
            [Decimal("1.23"), Decimal("-4.56"), None, Decimal("0"), Decimal("99999999999999.99")],
            type=pa.decimal128(16, 2),
        ),
    })
    path = str(tmp_path / "dec.orc")
    pyarrow.orc.write_table(tbl, path)
    ours = read_orc(path)
    oracle = pyarrow.orc.ORCFile(path).read()
    for name in tbl.schema.names:
        assert ours.column(name).combine_chunks().equals(oracle.column(name).combine_chunks()), name


def test_nested_roundtrip_via_pyarrow_writer(tmp_path):
    tbl = pa.table({
        "id": pa.array([1, 2, None, 4], type=pa.int64()),
        "l": pa.array([[1, 2], None, [], [3, None, 5]], type=pa.list_(pa.int32())),
        "m": pa.array(
            [{"a": "x"}, {"b": "y", "c": None}, None, {}],
            type=pa.map_(pa.string(), pa.string()),
        ),
        "st": pa.array(
            [{"u": 1, "v": "p"}, None, {"u": None, "v": "q"}, {"u": 4, "v": None}],
            type=pa.struct([("u", pa.int64()), ("v", pa.string())]),
        ),
        "ls": pa.array([["aa", "bb"], ["cc"], None, []], type=pa.list_(pa.string())),
    })
    path = str(tmp_path / "nested.orc")
    pyarrow.orc.write_table(tbl, path, compression="snappy")
    ours = read_orc(path)
    for name in tbl.schema.names:
        assert ours.column(name).to_pylist() == tbl.column(name).to_pylist(), name


def _lineitem_shaped(rows: int, seed: int) -> pa.Table:
    """Run-heavy lineitem columns: sorted keys repeated 1-7x (SHORT_REPEAT
    and DIRECT runs) and 3- and 2-value strings (dictionary-index runs)."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=rows)
    ends = np.cumsum(lines)
    n_keys = int(np.searchsorted(ends, rows)) + 1
    keys = np.repeat(np.arange(n_keys, dtype=np.int64) * 32, lines[:n_keys])[:rows]
    linenumber = np.arange(rows) - np.repeat(ends[:n_keys] - lines[:n_keys], lines[:n_keys])[:rows] + 1
    day0 = np.datetime64("1995-01-02", "us")
    return pa.table({
        "l_orderkey": keys,
        "l_partkey": rng.integers(0, rows // 30, size=rows, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=rows).astype(np.float64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=rows)],
        "l_shipdate": pa.array(day0 + rng.integers(0, 2499, size=rows).astype("timedelta64[D]")),
    })


def test_engine_written_run_heavy_stripes_match_pyarrow(tmp_path):
    """Stripe-scale run-heavy streams (five 8192-row stripes, 1000-row
    index groups) through the full read and through the pruned read,
    whose surviving row groups are entered by positional seek, often in
    the middle of an RLEv2 run."""
    from datafusion_orc_spark.format.orc_writer import write_orc

    rows, stripe_rows, stride = 40_000, 8192, 1000
    path = str(tmp_path / "lineitem.orc")
    write_orc(_lineitem_shaped(rows, seed=7), path, stripe_rows=stripe_rows,
              compression="snappy", row_index_stride=stride)
    oracle = pyarrow.orc.ORCFile(path).read()
    reader = OrcReader(path)
    assert len(reader.footer.stripes) == 5
    _assert_tables_equal(reader.read(), oracle)

    keys = oracle.column("l_orderkey").to_numpy()
    lo, hi = int(keys[13_000]), int(keys[21_000])
    pruned = pa.Table.from_batches(list(reader.iter_stripes(prune={"l_orderkey": (lo, hi)})))
    # expected: every row group (within its stripe) whose key span meets [lo, hi]
    kept = []
    for s0 in range(0, rows, stripe_rows):
        for g0 in range(s0, min(s0 + stripe_rows, rows), stride):
            g1 = min(g0 + stride, s0 + stripe_rows, rows)
            if keys[g0] <= hi and keys[g1 - 1] >= lo:
                kept.append(oracle.slice(g0, g1 - g0))
    expected = pa.concat_tables(kept)
    assert 0 < pruned.num_rows < rows
    _assert_tables_equal(pruned, expected)
