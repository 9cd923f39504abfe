"""Property fuzz for the round-3 seek kernels: ranged runfor decode and
the byte-RLE control map must agree with their full-decode references on
arbitrary shapes."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_orc_spark.codecs.byterle import byte_rle_decode, byte_rle_encode
from datafusion_orc_spark.codecs.runfor import runfor_decode, runfor_encode


@st.composite
def runny_arrays(draw):
    segs = []
    for _ in range(draw(st.integers(1, 8))):
        kind = draw(st.integers(0, 2))
        if kind == 0:  # long run
            segs.append(
                np.full(draw(st.integers(32, 200)), draw(st.integers(-(2**40), 2**40)))
            )
        elif kind == 1:  # literals
            n = draw(st.integers(1, 120))
            lo = draw(st.integers(-(2**20), 2**20))
            segs.append(np.arange(lo, lo + n) * draw(st.integers(1, 9)))
        else:  # outliers
            segs.append(np.array([draw(st.integers(-(2**50), 2**50))]))
    return np.concatenate(segs).astype(np.int64)


@settings(max_examples=60, deadline=None)
@given(runny_arrays(), st.data())
def test_runfor_range_equals_full_slice(v, data):
    n = len(v)
    streams = runfor_encode(v)
    full = runfor_decode(streams, n)
    assert np.array_equal(full, v)
    s = data.draw(st.integers(0, n - 1))
    e = data.draw(st.integers(s + 1, n))
    assert np.array_equal(runfor_decode(streams, n, s, e), v[s:e])


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_runfor_many_runs_windows(data):
    """Above 4096 runs the decoder assembles through a coverage mask
    instead of per-run slice copies: the whole decode and any window
    over that branch must equal the input."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    runs = rng.integers(-(2**20), 2**20, 6000)
    lits = rng.integers(0, 1 << 12, (6000, 3))
    v = np.concatenate([np.append(np.full(40, r), lit) for r, lit in zip(runs, lits)])
    n = len(v)
    streams = runfor_encode(v)
    assert np.array_equal(runfor_decode(streams, n), v)
    assert np.array_equal(runfor_decode(streams, n, 17, n - 17), v[17 : n - 17])  # clips two runs
    for _ in range(5):
        s = data.draw(st.integers(0, n - 1))
        e = data.draw(st.integers(s + 1, n))
        assert np.array_equal(runfor_decode(streams, n, s, e), v[s:e])


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(1, 300)), min_size=1, max_size=20),
    st.data(),
)
def test_byte_rle_controls_locate_every_byte(runs, data):
    b = np.concatenate([np.full(ln, val, dtype=np.uint8) for val, ln in runs])
    enc, c_out, c_in = byte_rle_encode(b, return_controls=True)
    assert np.array_equal(byte_rle_decode(np.frombuffer(enc, dtype=np.uint8)), b)
    assert c_in[0] == 0 and np.all(np.diff(c_in) > 0) and np.all(np.diff(c_out) > 0)
    # decoding the stream FROM any control's output offset reproduces the
    # suffix starting at that control's input index — the seek contract
    k = data.draw(st.integers(0, len(c_out) - 1))
    suffix = byte_rle_decode(np.frombuffer(enc[int(c_out[k]) :], dtype=np.uint8))
    assert np.array_equal(suffix, b[int(c_in[k]) :])


@st.composite
def stripe_columns(draw):
    """A stripe whose row count is deliberately NOT 8192-aligned, with
    the column shapes the ranged decode specializes on."""
    import pyarrow as pa

    n = draw(st.integers(2 * 8192 + 1, 3 * 8192 + 517))
    seed = draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    kind = draw(st.integers(0, 2))
    if kind == 0:  # random ints -> int_for_bp
        vals = rng.integers(10**6, 10**6 + 30_000, n).astype(np.int64)
        arr = pa.array(vals)
    elif kind == 1:  # runny ints -> int_runfor / rle
        vals = np.where(rng.random(n) < 0.6, 7777, rng.integers(0, 1 << 14, n)).astype(np.int64)
        arr = pa.array(vals)
    else:  # token arrays -> arr_*
        lens = rng.integers(0, 6, n)
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        items = rng.integers(0, 50257, int(off[-1])).astype(np.int64)
        arr = pa.ListArray.from_arrays(
            pa.array(off, type=pa.int64()).cast(pa.int32()), pa.array(items)
        )
        vals = items
    return arr, vals, draw(st.integers(0, 2**31))


@settings(max_examples=25, deadline=None)
@given(stripe_columns())
def test_engine_prune_ranges_fuzz(case):
    """decode_column(row_ranges=prune_row_ranges(...)) must equal the
    full decode restricted to the same ranges for ANY stripe length
    (esp. partial last blocks — the r3 ADVICE clamp bug class) and any
    predicate window, and every row whose value matches the predicate
    must survive the pruning."""
    import pyarrow as pa

    from datafusion_orc_spark.format import stripe as stp

    arr, vals, pseed = case
    blob, stats = stp.encode_column(arr)
    rng = np.random.default_rng(pseed)
    vmin, vmax = (int(vals.min()), int(vals.max())) if len(vals) else (0, 0)
    lo = int(rng.integers(vmin - 5, vmax + 5))
    hi = int(rng.integers(lo, vmax + 10))
    ranges = stp.prune_row_ranges({"c": blob}, {"c": (lo, hi)})
    full = stp.decode_column(blob, arr.type)
    if ranges is None:
        got = full
    else:
        got = stp.decode_column(blob, arr.type, row_ranges=ranges)
        clamped = [(max(0, s), min(len(arr), e)) for s, e in ranges if s < len(arr)]
        expect = (
            pa.concat_arrays([full.slice(s, e - s) for s, e in clamped])
            if clamped
            else full.slice(0, 0)
        )
        assert got.equals(expect)
    # conservative pruning: every matching row survives
    if pa.types.is_list(arr.type):
        keep = [
            any(lo <= v <= hi for v in (row or []))
            for row in got.to_pylist()
        ]
        want = sum(
            any(lo <= v <= hi for v in (row or []))
            for row in full.to_pylist()
        )
        assert sum(keep) == want
    else:
        gv = got.to_numpy(zero_copy_only=False)
        fv = full.to_numpy(zero_copy_only=False)
        assert ((gv >= lo) & (gv <= hi)).sum() == ((fv >= lo) & (fv <= hi)).sum()


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**31), st.integers(0, 3))
def test_foreign_orc_positional_seek_fuzz(seed, shape):
    """Write (our writer) -> pruned read (positional seek) must agree
    with full read + window filter on every matching row, across the
    stream shapes the recursive seek covers (nullable ints, dict
    strings, lists, decimals, structs) and non-aligned row counts."""
    import tempfile
    from decimal import Decimal

    import pyarrow as pa

    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.format.orc_writer import write_orc

    rng = np.random.default_rng(seed)
    n = int(rng.integers(25_000, 40_000))
    k = np.arange(n, dtype=np.int64) * 3  # sorted key -> group stats prune
    cols = {"k": pa.array(k)}
    if shape == 0:
        cols["nullable"] = pa.array(
            [None if i % 7 == 0 else int(i) for i in range(n)], type=pa.int64()
        )
        cols["s_dict"] = pa.array([f"d{i % 23}" for i in range(n)])
    elif shape == 1:
        lens = rng.integers(0, 4, n)
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        cols["lst"] = pa.ListArray.from_arrays(
            pa.array(off, type=pa.int64()).cast(pa.int32()),
            pa.array(rng.integers(0, 1000, int(off[-1])).astype(np.int64)),
        )
    elif shape == 2:
        cols["dec"] = pa.array(
            [Decimal(int(v)).scaleb(-2) for v in rng.integers(-(10**7), 10**7, n)],
            type=pa.decimal128(12, 2),
        )
    else:
        cols["st"] = pa.StructArray.from_arrays(
            [pa.array(rng.integers(0, 99, n).astype(np.int64)),
             pa.array([f"x{i % 5}" for i in range(n)])],
            names=["a", "b"],
        )
    t = pa.table(cols)
    with tempfile.NamedTemporaryFile(suffix=".orc") as fh:
        write_orc(t, fh.name, stripe_rows=n, compression="snappy")
        lo = int(rng.integers(0, 3 * n))
        hi = int(rng.integers(lo, 3 * n + 10))
        got = OrcReader(fh.name).read(prune={"k": (lo, hi)})
        full = OrcReader(fh.name).read()
    gk = got.column("k").to_numpy()
    fk = full.column("k").to_numpy()
    m_got = (gk >= lo) & (gk <= hi)
    m_full = (fk >= lo) & (fk <= hi)
    assert m_got.sum() == m_full.sum()
    if m_got.sum():
        a = got.filter(pa.array(m_got))
        b = full.filter(pa.array(m_full))
        for name in t.schema.names:
            assert a.column(name).combine_chunks().equals(
                b.column(name).combine_chunks()
            ), name


_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


@st.composite
def int64_runs(draw):
    """An int64 column of 2-5 sub-blocks: runs, duplicates, random
    literals and the int64 extremes, in random order."""
    from datafusion_orc_spark.format.stripe import SUB_BLOCK_ROWS

    n = draw(st.integers(2 * SUB_BLOCK_ROWS, 5 * SUB_BLOCK_ROWS))
    value = st.one_of(
        st.sampled_from([_I64_MIN, _I64_MIN + 1, -1, 0, 1, _I64_MAX - 1, _I64_MAX]),
        st.integers(-1000, 1000),
        st.integers(_I64_MIN, _I64_MAX),
    )
    cuts = draw(st.lists(st.integers(1, n - 1), max_size=11))
    bounds = [0, *sorted(cuts), n]
    segs = []
    for start, stop in zip(bounds[:-1], bounds[1:]):
        if draw(st.booleans()):  # a run
            segs.append(np.full(stop - start, draw(value), dtype=np.int64))
        else:  # literals between two drawn values
            a, b = sorted((draw(value), draw(value)))
            rng = np.random.default_rng(draw(st.integers(0, 2**31)))
            segs.append(rng.integers(a, b, stop - start, dtype=np.int64, endpoint=True))
    return np.concatenate(segs)


def _bound(v):
    """A prune bound end: open (None or an int64 extreme), a small or
    random int, or one of the column's own values (a block's exact
    min or max, where an off-by-one in the rule shows)."""
    return st.one_of(
        st.none(),
        st.sampled_from([_I64_MIN, _I64_MAX, -1, 0, 1]),
        st.integers(-1000, 1000),
        st.integers(_I64_MIN, _I64_MAX),
        st.integers(0, len(v) - 1).map(lambda i: int(v[i])),
    )


@settings(max_examples=30, deadline=None)
@given(int64_runs(), st.data())
def test_blob_sub_blocks_and_orc_row_groups_prune_alike(v, data):
    """One prune rule for both formats: a blob column's sub-block ranges
    equal the row ranges an ORC reader keeps when the same values are one
    stripe with a SUB_BLOCK_ROWS row index stride, and every row whose
    value lies in [lo, hi] falls inside them."""
    import tempfile

    import pyarrow as pa

    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.format.stripe import SUB_BLOCK_ROWS, encode_column, prune_row_ranges

    n = len(v)
    lo, hi = data.draw(_bound(v)), data.draw(_bound(v))
    blob, _ = encode_column(pa.array(v))
    ranges = prune_row_ranges({"v": blob}, {"v": (lo, hi)})
    in_blob = np.full(n, ranges is None)
    for s, e in ranges or []:
        in_blob[s:e] = True
    with tempfile.NamedTemporaryFile(suffix=".orc") as fh:
        write_orc(pa.table({"v": v, "row": np.arange(n)}), fh.name, stripe_rows=n, row_index_stride=SUB_BLOCK_ROWS)
        got = OrcReader(fh.name).read(prune={"v": (lo, hi)})
    orc_rows = got.column("row").to_numpy()
    assert np.array_equal(orc_rows, np.flatnonzero(in_blob))
    assert np.array_equal(got.column("v").to_numpy(), v[orc_rows])
    match = np.ones(n, dtype=bool)
    if lo is not None:
        match &= v >= lo
    if hi is not None:
        match &= v <= hi
    assert np.isin(np.flatnonzero(match), orc_rows).all()
