"""r7 fused literal path: byte-identity vs the classic path, across
run/outlier/width shapes, both dtypes, and chunk/segment boundaries."""

import numpy as np
import pytest

from datafusion_orc_spark.codecs import runfor as RF


def _both(vals, vmin, vmax, monkeypatch):
    fused = RF.runfor_encode(vals, vmin=vmin, vmax=vmax)
    with monkeypatch.context() as mp:
        mp.setattr(RF, "_FUSED_MIN_LIT", 1 << 62)  # force the classic path
        classic = RF.runfor_encode(vals, vmin=vmin, vmax=vmax)
    return fused, classic


def _assert_identical(fused, classic):
    assert set(fused) == set(classic)
    for k in fused:
        assert bytes(fused[k]) == bytes(classic[k]), f"stream {k} differs"


@pytest.mark.parametrize("dtype", [np.int32, np.int64])
@pytest.mark.parametrize("shape", ["tokens", "no_runs", "run_heavy", "chunk_edge"])
def test_fused_byte_identical(dtype, shape, monkeypatch):
    rng = np.random.default_rng(hash((str(dtype), shape)) & 0xFFFF)
    if shape == "tokens":
        n = 400_000
        v = rng.integers(0, 50257, n).astype(dtype)
        for d in range(0, n, 9000):
            v[d:d + 900] = d % 50257  # long runs
        out = np.flatnonzero(rng.integers(0, 97, n) == 0)
        v[out] = rng.integers(1 << 20, 1 << 24, len(out)).astype(dtype)
        v[0] = 0
    elif shape == "no_runs":
        n = 300_000
        v = (np.arange(n) * 7919 % 65000).astype(dtype)
        v[123] = 1 << 22  # one exception
        v[0] = 0
    elif shape == "run_heavy":
        n = 200_000
        v = np.repeat(rng.integers(0, 1000, n // 100), 100).astype(dtype)
        v[0] = 0
    else:  # chunk_edge: segment lengths straddle _FUSED_CHUNK exactly
        n = RF._FUSED_CHUNK * 2 + 37
        v = rng.integers(0, 40000, n).astype(dtype)
        v[RF._FUSED_CHUNK - 5: RF._FUSED_CHUNK + 60] = 3  # run across a chunk edge
        v[-1] = 1 << 21
        v[0] = 0
    vmin, vmax = int(v.min()), int(v.max())
    fused, classic = _both(v, vmin, vmax, monkeypatch)
    _assert_identical(fused, classic)
    back = RF.runfor_decode(fused, n)
    np.testing.assert_array_equal(back, v.astype(np.int64))


def test_fused_skipped_when_base_nonzero(monkeypatch):
    """base != 0 must take the classic path (fused assumes base 0) and
    still round-trip."""
    rng = np.random.default_rng(3)
    v = rng.integers(1000, 50000, 200_000).astype(np.int32)
    enc = RF.runfor_encode(v, vmin=int(v.min()), vmax=int(v.max()))
    back = RF.runfor_decode(enc, len(v))
    np.testing.assert_array_equal(back, v.astype(np.int64))


def test_fused_ranged_decode_matches(monkeypatch):
    """A windowed runfor_decode over a fused-encoded stream: the D19 seek path
    reads the same bytes, so ranges must slice exactly."""
    rng = np.random.default_rng(8)
    n = 300_000
    v = rng.integers(0, 50257, n).astype(np.int32)
    v[5000:6000] = 42
    v[77] = 1 << 22
    v[0] = 0
    enc = RF.runfor_encode(v, vmin=0, vmax=int(v.max()))
    for a, b in [(0, n), (1, n - 1), (4990, 6010), (250_000, 300_000), (0, 1)]:
        got = RF.runfor_decode(enc, n, a, b)
        np.testing.assert_array_equal(got, v[a:b].astype(np.int64))
