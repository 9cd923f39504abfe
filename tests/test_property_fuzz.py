"""Property-based fuzzing of the codec kernels (hypothesis).

Kept to a bounded number of examples so `python -m pytest -x -q` stays
fast; run with HYPOTHESIS_PROFILE=long for a deeper sweep.
"""

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_orc_spark.codecs.bitpack import bit_pack, bit_unpack, closest_fixed_width, width_code
from datafusion_orc_spark.codecs.byterle import bool_rle_decode, bool_rle_encode
from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode, rle_v2_encode
from datafusion_orc_spark.codecs.varint import varint_encode_scalar, zigzag_scalar
from datafusion_orc_spark.operators.encode import (
    _encode_stream,
    _plan_row_splits,
    _stripe_batches,
    _stripe_groups,
    _stripes,
)
from datafusion_orc_spark.codecs.strings import fsst_decode, fsst_encode, fsst_train
from datafusion_orc_spark.format.stripe import decode_column, encode_column
from tests.rlev2_reference import rle_v2_decode_reference

settings.register_profile("default", max_examples=40, suppress_health_check=[HealthCheck.too_slow], deadline=None)
settings.register_profile("long", max_examples=500, suppress_health_check=[HealthCheck.too_slow], deadline=None)
settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "default"))

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


@pytest.mark.parametrize("width", range(1, 65))
def test_bit_unpack_any_width_at_any_bit_offset(width):
    """bit_unpack(bit_pack(v, w), w, n, offset_bits) == v for every width,
    with the packed values preceded by a random number of random bits."""
    rng = np.random.default_rng(width)
    for n in (1, 7, 8, 9, 512, 8192):
        v = rng.integers(0, 2**64 - 1, n, dtype=np.uint64, endpoint=True) >> np.uint64(64 - width)
        v[0] = (1 << width) - 1  # every bit of the width set
        bits = np.unpackbits(np.frombuffer(bit_pack(v, width), np.uint8))[: n * width]
        for off in (0, int(rng.integers(1, 8)), int(rng.integers(8, 200))):
            pre = rng.integers(0, 2, off, dtype=np.uint8)
            buf = np.packbits(np.concatenate([pre, bits])).tobytes()
            assert np.array_equal(bit_unpack(buf, width, n, off), v), (n, off)


@given(st.lists(i64, min_size=1, max_size=1500))
def test_rlev2_i64_any(vals):
    v = np.array(vals, dtype=np.int64)
    assert np.array_equal(rle_v2_decode(rle_v2_encode(v), len(v)), v)


@given(st.lists(i32, min_size=1, max_size=1500))
def test_rlev2_i32_any(vals):
    v = np.array(vals, dtype=np.int32)
    assert np.array_equal(rle_v2_decode(rle_v2_encode(v), len(v)), v)


@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=1500))
def test_rlev2_unsigned(vals):
    v = np.array(vals, dtype=np.int64)
    enc = rle_v2_encode(v, signed=False)
    assert np.array_equal(rle_v2_decode(enc, len(v), signed=False), v)


@given(st.lists(st.sampled_from([0, 1, 2, 5, -3, 2**40]), min_size=1, max_size=3000))
def test_rlev2_runny(vals):
    v = np.array(vals, dtype=np.int64)
    assert np.array_equal(rle_v2_decode(rle_v2_encode(v), len(v)), v)


@given(st.lists(st.booleans(), min_size=1, max_size=5000))
def test_bool_rle(vals):
    v = np.array(vals, dtype=bool)
    assert np.array_equal(bool_rle_decode(bool_rle_encode(v), len(v)), v)


@given(st.binary(min_size=0, max_size=4000))
def test_fsst_any_bytes(raw):
    table = fsst_train(raw)
    assert fsst_decode(fsst_encode(raw, table), table) == raw


@given(st.lists(st.one_of(st.none(), st.text(max_size=30)), min_size=1, max_size=400))
def test_stripe_string_column(vals):
    arr = pa.array(vals, type=pa.string())
    blob, stats = encode_column(arr)
    assert decode_column(blob, pa.string()).equals(arr)


@given(st.lists(st.one_of(st.none(), st.lists(i32, max_size=30)), min_size=1, max_size=300))
def test_stripe_token_column(vals):
    arr = pa.array(vals, type=pa.list_(pa.int32()))
    blob, stats = encode_column(arr)
    assert decode_column(blob, pa.list_(pa.int32())).equals(arr)


@given(st.lists(st.one_of(st.none(), i64), min_size=1, max_size=800))
def test_stripe_int_column(vals):
    arr = pa.array(vals, type=pa.int64())
    blob, stats = encode_column(arr)
    assert decode_column(blob, pa.int64()).equals(arr)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["sorted", "const", "rand", "desc"]),
            st.integers(min_value=1, max_value=900),
        ),
        min_size=1,
        max_size=8,
    ),
    st.randoms(use_true_random=False),
)
def test_rlev2_segment_shapes(segs, rnd):
    """Concatenations of sorted / constant / random / descending
    segments — the shapes that route through every planner path of the
    r5 one-pass literal planner (batched DIRECT runs, DELTA blob,
    direct-tail blob, SR chains, PATCHED_BASE) in one stream."""
    parts = []
    for kind, m in segs:
        base = rnd.randrange(-(10**6), 10**6)
        if kind == "sorted":
            parts.append(np.sort(np.array([rnd.randrange(0, 10**7) for _ in range(m)], dtype=np.int64)))
        elif kind == "desc":
            parts.append(-np.sort(np.array([rnd.randrange(0, 10**7) for _ in range(m)], dtype=np.int64)))
        elif kind == "const":
            parts.append(np.full(m, base, dtype=np.int64))
        else:
            a = np.array([rnd.randrange(0, 50257) for _ in range(m)], dtype=np.int64)
            a[::97] = 10**13  # outliers -> PATCHED_BASE candidates
            parts.append(a)
    v = np.concatenate(parts)
    for signed in (True, False):
        vv = np.abs(v) if not signed else v
        enc = rle_v2_encode(vv, signed=signed)
        assert np.array_equal(rle_v2_decode(enc, len(vv), signed=signed), vv)


# ---- batched RLEv2 decode == the per-run reference -------------------------

I64_EDGES = [-(2**63), -(2**63) + 1, -1, 0, 1, 2**62, 2**63 - 1]


def _buffers(buf: bytes) -> list:
    """The input types callers hand the decoder: bytes, a SIGNED
    memoryview (indexing it yields negative ints) and a uint8 ndarray."""
    return [buf, memoryview(buf).cast("b"), np.frombuffer(buf, dtype=np.uint8)]


def _assert_batched_matches(buf: bytes, n: int, signed: bool) -> None:
    expect = rle_v2_decode_reference(buf, n, signed)
    for b in _buffers(buf):
        got = rle_v2_decode(b, n, signed)
        assert got.dtype == np.int64
        assert np.array_equal(got, expect)


@given(
    st.one_of(
        st.lists(st.one_of(i64, st.sampled_from(I64_EDGES)), min_size=1, max_size=1500),
        st.lists(st.sampled_from(I64_EDGES + [5, 7, 2**40]), min_size=1, max_size=3000),
    ),
    st.booleans(),
    st.data(),
)
def test_rlev2_batched_matches_reference_on_encoder_output(vals, signed, data):
    """Signed and unsigned encoder streams, including int64 min/max and,
    unsigned, the bit patterns of negative values (u >= 2^63: the int64
    wrap); ``n`` may stop the decode inside a run."""
    v = np.array(vals, dtype=np.int64)
    enc = rle_v2_encode(v, signed=signed)
    assert np.array_equal(rle_v2_decode(enc, len(v), signed), v)
    _assert_batched_matches(enc, data.draw(st.integers(1, len(v))), signed)


def _sr_run(w: int, count: int, u: int) -> bytes:
    return bytes([((w - 1) << 3) | (count - 3)]) + u.to_bytes(w, "big")


def _direct_run(w: int, vals: list[int]) -> bytes:
    m = len(vals)
    head = bytes([(1 << 6) | (width_code(w) << 1) | ((m - 1) >> 8), (m - 1) & 0xFF])
    return head + bit_pack(np.array(vals, dtype=np.uint64), w)


def _delta_run(m: int, ubase: int, d0: int, w: int, mags: list[int]) -> bytes:
    head = bytes([(3 << 6) | ((width_code(w) if w else 0) << 1) | ((m - 1) >> 8), (m - 1) & 0xFF])
    body = varint_encode_scalar(ubase) + varint_encode_scalar(zigzag_scalar(d0))
    return head + body + (bit_pack(np.array(mags, dtype=np.uint64), w) if w else b"")


@st.composite
def _rlev2_run(draw) -> tuple[bytes, int]:
    """One hand-built run of any kind -> (bytes, value count)."""
    kind = draw(st.sampled_from(["sr", "direct", "delta_fixed", "delta_packed", "patched"]))
    if kind == "sr":
        w = draw(st.integers(1, 8))
        count = draw(st.integers(3, 10))
        return _sr_run(w, count, draw(st.integers(0, 2 ** (8 * w) - 1))), count
    if kind == "direct":
        w = draw(st.sampled_from([1, 24, 26, 56, 64, 3, 8, 16, 20, 32]))
        vals = draw(st.lists(st.integers(0, 2**w - 1), min_size=1, max_size=512))
        return _direct_run(w, vals), len(vals)
    ubase = draw(st.integers(0, 2**64 - 1))
    d0 = draw(st.one_of(i64, st.integers(-3, 3)))
    if kind == "delta_fixed":
        m = draw(st.integers(1, 512))
        return _delta_run(m, ubase, d0, 0, []), m
    if kind == "delta_packed":
        w = draw(st.sampled_from([2, 5, 24, 26, 56, 64]))
        mags = draw(st.lists(st.integers(0, 2**w - 1), min_size=1, max_size=510))
        return _delta_run(len(mags) + 2, ubase, d0, w, mags), len(mags) + 2
    m = draw(st.integers(64, 256))
    low = draw(st.lists(st.integers(0, 15), min_size=m, max_size=m))
    idx = sorted(draw(st.lists(st.integers(0, m - 1), min_size=1, max_size=4, unique=True)))
    return _pb_run(draw(st.integers(-(2**40), 2**40)), low, idx, [2**26 + j for j in range(len(idx))]), m


def _pb_run(base: int, low: list[int], idx: list[int], high: list[int]) -> bytes:
    """One PATCHED_BASE run: 4-bit ``low`` values over ``base``, the
    values at ``idx`` (ascending, gaps <= 255) widened by ``high`` bits."""
    m = len(low)
    pw = closest_fixed_width(max(h.bit_length() for h in high))
    gaps = [idx[0]] + [b - a for a, b in zip(idx, idx[1:])]
    pgw = max(1, max(g.bit_length() for g in gaps))
    mag = abs(base)
    bw = max(1, (mag.bit_length() + 8) // 8)
    head = bytes([
        (2 << 6) | (width_code(4) << 1) | ((m - 1) >> 8), (m - 1) & 0xFF,
        ((bw - 1) << 5) | width_code(pw), ((pgw - 1) << 5) | len(idx),
    ])
    base_field = mag | (1 << (8 * bw - 1)) if base < 0 else mag
    entries = np.array([(g << pw) | h for g, h in zip(gaps, high)], dtype=np.uint64)
    return (
        head + base_field.to_bytes(bw, "big") + bit_pack(np.array(low, dtype=np.uint64), 4)
        + bit_pack(entries, closest_fixed_width(pgw + pw))
    )


@given(st.lists(_rlev2_run(), min_size=1, max_size=12), st.booleans(), st.data())
def test_rlev2_batched_matches_reference_on_mixed_headers(runs, signed, data):
    """Hand-built streams mixing all four headers: SHORT_REPEAT widths
    1-8, DIRECT widths 1, 24, 26, 56 and 64, DELTA with a fixed delta and
    with a negative first delta, PATCHED_BASE. ``n`` may stop the decode
    mid-run."""
    buf = b"".join(r for r, _ in runs)
    total = sum(c for _, c in runs)
    _assert_batched_matches(buf, total, signed)
    _assert_batched_matches(buf, data.draw(st.integers(1, total)), signed)


def _assert_rlev2_round_trip(v: np.ndarray) -> None:
    """Both decoders return ``v`` from its signed and, for values an
    unsigned stream can carry, its unsigned encoding."""
    for signed in (True, False):
        if not signed and v.dtype == np.int32 and (v < 0).any():
            continue
        enc = rle_v2_encode(v, signed=signed)
        want = v.astype(np.int64)
        assert np.array_equal(rle_v2_decode(enc, len(v), signed), want)
        assert np.array_equal(rle_v2_decode_reference(enc, len(v), signed), want)


@st.composite
def _split_stream(draw) -> np.ndarray:
    """Equal runs of 3..31 values between short literal stretches, so the
    runs cover >=25% of the values and split the literals into regions."""
    parts = []
    for _ in range(draw(st.integers(1, 60))):
        parts += draw(st.lists(st.integers(-40, 40), max_size=6))
        parts += [draw(st.integers(-40, 40))] * draw(st.integers(3, 31))
    dtype = draw(st.sampled_from([np.int32, np.int64]))
    return np.array(parts, dtype=np.int64).astype(dtype) * draw(st.sampled_from([1, 1000, 2**20]))


@st.composite
def _patched_stream(draw) -> np.ndarray:
    """Small-value chunks with 1..31 wide outliers, each followed by an
    equal run, so patched-base candidates start and end at region
    boundaries and straddle 512-value chunks."""
    parts = []
    for _ in range(draw(st.integers(1, 4))):
        m = draw(st.integers(16, 700))
        base = draw(st.integers(-(2**30), 2**30))
        rnd = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        chunk = rnd.integers(0, 16, size=m) + base
        idx = rnd.choice(m, size=min(m, draw(st.integers(1, 31))), replace=False)
        chunk[idx] += draw(st.sampled_from([2**12, 2**20, 2**31]))
        parts.append(chunk)
        parts.append(np.full(draw(st.sampled_from([3, 10, 11, 32, 513])), draw(st.integers(-5, 5)) + base))
    v = np.concatenate(parts)
    return v.astype(np.int32) if draw(st.booleans()) and np.abs(v).max() < 2**31 else v


@given(_split_stream())
def test_rlev2_region_split_streams_round_trip(v):
    _assert_rlev2_round_trip(v)


@given(_patched_stream())
def test_rlev2_patched_base_between_repeats_round_trips(v):
    _assert_rlev2_round_trip(v)


@given(st.one_of(st.lists(i64, max_size=3), st.lists(i32, max_size=3)), st.sampled_from([np.int32, np.int64]))
def test_rlev2_lengths_0_to_3_round_trip(vals, dtype):
    if dtype == np.int32 and any(not -(2**31) <= x < 2**31 for x in vals):
        vals = [x % 2**31 for x in vals]
    _assert_rlev2_round_trip(np.array(vals, dtype=dtype))


# ---- roundtrip_files split planner -----------------------------------------


@given(
    st.lists(
        st.one_of(st.integers(1, 10), st.integers(1, 200_000), st.integers(1, 6_000_000)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 64),
    st.sampled_from([1000, 8192, 32768, 65536]),
)
def test_plan_row_splits_covers_rows_and_hits_budget(rows, target, stripe_rows):
    groups = [(f"f{i % 3}", i, n) for i, n in enumerate(rows)]
    splits = _plan_row_splits(groups, target, stripe_rows)
    total_stripes = sum(-(-n // stripe_rows) for n in rows)
    expect = len(groups) if len(groups) >= target else min(target, total_stripes)
    assert len(splits) == expect
    for p, rg, n in groups:
        ranges = [(s, e) for sp, srg, s, e in splits if (sp, srg) == (p, rg)]
        assert ranges[0][0] == 0 and ranges[-1][1] == n  # exact row coverage
        for (_, e0), (s1, _) in zip(ranges, ranges[1:]):
            assert e0 == s1 and s1 % stripe_rows == 0
        assert all(s < e for s, e in ranges)


def test_plan_row_splits_no_overshoot_on_skewed_groups():
    """Two 1-row groups plus one 6M-row group: the per-group floor of one
    split used to push the total to 33 for a target of 32."""
    groups = [("a", 0, 1), ("a", 1, 1), ("b", 0, 6_000_000)]
    assert len(_plan_row_splits(groups, 32, 32768)) == 32


# ---- shared stripe buffer and stripe_id packing ----------------------------


@st.composite
def _batched_rows(draw):
    """One record batch and a random split of it into consecutive
    batches; repeated cut points give empty batches."""
    n = draw(st.integers(0, 400))
    rb = pa.record_batch({
        "a": pa.array(range(n), pa.int64()),
        "s": pa.array([None if i % 5 == 0 else f"v{i % 7}" for i in range(n)], pa.string()),
    })
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=12)))
    bounds = [0, *cuts, n]
    return rb, [rb.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]


@given(_batched_rows(), st.integers(1, 150))
def test_stripes_are_exact_and_independent_of_batching(drawn, stripe_rows):
    rb, batches = drawn
    stripes = list(_stripes(iter(batches), stripe_rows))
    assert len(stripes) == -(-rb.num_rows // stripe_rows)
    assert all(s.num_rows == stripe_rows for s in stripes[:-1])
    assert all(s.num_rows > 0 for s in stripes)
    assert pa.Table.from_batches(stripes, schema=rb.schema).equals(pa.Table.from_batches([rb]))
    # multi-flush == single-flush: one batch gives the same stripes
    single = list(_stripes(iter([rb]), stripe_rows))
    assert len(single) == len(stripes) and all(a.equals(b) for a, b in zip(stripes, single))


@given(
    st.lists(st.integers(0, (1 << 15) - 1), min_size=1, max_size=4, unique=True),
    st.integers(1, 4),
    st.integers(0, 0xFFFF),
    st.integers(1, 0xFFFF),
)
def test_encode_stream_stripe_ids_distinct_and_positive(windows, per_split, part_id, job_token):
    """Splits of one task encode in their own ``k << 16`` seq windows,
    as encode_files runs them; every stripe_id unpacks to its token,
    partition and seq."""
    ids = []
    for k in windows:
        stripes = (pa.record_batch({"a": pa.array([k, i], pa.int64())}) for i in range(per_split))
        for bb in _encode_stream(stripes, part_id, job_token, k << 16, (k + 1) << 16):
            sids = set(bb.column("stripe_id").to_pylist())
            assert len(sids) == 1 and bb.num_rows == 1
            ids.append(sids.pop())
    assert len(ids) == len(set(ids)) == len(windows) * per_split
    assert all(0 < i < (1 << 63) for i in ids)
    assert all(i >> 47 == job_token and (i >> 31) & 0xFFFF == part_id for i in ids)
    assert sorted(i & ((1 << 31) - 1) for i in ids) == sorted(
        (k << 16) + s for k in windows for s in range(per_split)
    )


@given(st.integers(0, (1 << 15) - 2), st.integers(1, 3))
def test_encode_stream_raises_past_split_window(k, over):
    """A split that runs past its 65,536-stripe window would reuse the
    next split's stripe_ids: it raises instead. The window is entered two
    stripes before its end so the test encodes only a few stripes."""
    end = (k + 1) << 16
    stripes = (pa.record_batch({"a": pa.array([i], pa.int64())}) for i in range(2 + over))
    out = _encode_stream(stripes, 3, 7, end - 2, end)
    assert next(out).num_rows == 1 and next(out).num_rows == 1
    with pytest.raises(ValueError, match="window end"):
        next(out)


def test_encode_stream_raises_on_packing_overflow():
    one = [pa.record_batch({"a": pa.array([1], pa.int64())})] * 2
    out = _encode_stream(iter(one), 0, 1, (1 << 31) - 1)
    next(out)
    with pytest.raises(ValueError, match="packing overflow"):
        next(out)
    with pytest.raises(ValueError, match="part_id=65536"):
        next(_encode_stream(iter(one), 1 << 16, 1))


# ---- in-task stripe pruning -------------------------------------------------

_PRUNE_COLS = ["a", "b", "c", "d"]
_PRUNE_SCHEMA = pa.schema([(c, pa.int64()) for c in _PRUNE_COLS])


@st.composite
def _pruned_blob_table(draw):
    """Blob rows of 1-6 stripes x 4 columns in random order and random
    batches, as ``_decode_setup`` hands them to a task: each column is
    ``sid`` rows of ``10 * sid + column index``, with a random
    [vmin, vmax] that is sometimes NULL. A random projection in schema
    order and random bounds on projected and unprojected columns; an
    unprojected column's blob is empty, as the JVM projection leaves it."""
    projected = draw(st.sets(st.sampled_from(_PRUNE_COLS), min_size=1))
    names = [c for c in _PRUNE_COLS if c in projected]
    bound = st.tuples(st.integers(-25, 35), st.integers(-25, 35)).map(sorted).map(tuple)
    prune = draw(st.dictionaries(st.sampled_from(_PRUNE_COLS), bound, max_size=3))
    rows = []
    for sid in range(1, draw(st.integers(1, 6)) + 1):
        for ci, col in enumerate(_PRUNE_COLS):
            stat = draw(st.one_of(st.none(), st.tuples(st.integers(-20, 30), st.integers(0, 10))))
            vmin, vmax = (None, None) if stat is None else (stat[0], stat[0] + stat[1])
            blob = bytes(encode_column(pa.array([10 * sid + ci] * sid, pa.int64()))[0]) if col in names else b""
            rows.append((sid, col, vmin, vmax, blob))
    rows = [rows[i] for i in draw(st.permutations(range(len(rows))))]
    sids, cols, vmins, vmaxs, data = zip(*rows)
    rb = pa.record_batch({
        "stripe_id": pa.array(sids, pa.int64()),
        "column": pa.array(cols, pa.string()),
        "vmin": pa.array(vmins, pa.int64()),
        "vmax": pa.array(vmaxs, pa.int64()),
        "data": pa.array(data, pa.binary()),
    })
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), max_size=6)))
    edges = [0, *cuts, len(rows)]
    return [rb.slice(lo, hi - lo) for lo, hi in zip(edges, edges[1:])], rows, names, prune


@given(_pruned_blob_table())
def test_in_task_prune_keeps_exactly_the_stripes_that_meet_every_bound(drawn):
    """``_stripe_groups`` + ``_stripe_batches`` keep a stripe iff every
    bound column's [vmin, vmax] meets its bound (a NULL vmin keeps it),
    bound columns projected or not, and decode the projection only."""
    batches, rows, names, prune = drawn
    stats = {(sid, col): (vmin, vmax) for sid, col, vmin, vmax, _ in rows}
    kept = sorted(
        sid for sid in {r[0] for r in rows}
        if all(
            stats[sid, col][0] is None or (stats[sid, col][1] >= lo and stats[sid, col][0] <= hi)
            for col, (lo, hi) in prune.items()
        )
    )
    blob_of = {(sid, col): blob for sid, col, _, _, blob in rows}
    got = []
    for g in _stripe_groups(iter(batches), set(names) | set(prune), prune):
        assert set(g) == set(names) | set(prune)
        got += [s for s in {r[0] for r in rows} if all(bytes(g[c]) == blob_of[s, c] for c in g)]
    assert sorted(got) == kept
    decoded = list(_stripe_batches(iter(batches), _PRUNE_SCHEMA, names, prune))
    assert all(b.schema.names == names for b in decoded)
    assert sorted(b.column(0)[0].as_py() // 10 for b in decoded) == kept
    for b in decoded:
        sid = b.column(0)[0].as_py() // 10
        assert b.to_pydict() == {c: [10 * sid + _PRUNE_COLS.index(c)] * sid for c in names}
