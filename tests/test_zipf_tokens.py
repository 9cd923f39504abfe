"""Realistic token distributions: LLM training tokens are Zipf-skewed,
not uniform — the codec stack must exploit that (PATCHED_BASE / narrow
p90 widths), and the auto-selector must still round-trip exactly."""

import numpy as np
import pyarrow as pa

from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode, rle_v2_encode
from datafusion_orc_spark.format.stripe import decode_column, encode_column


def _zipf_tokens(n, vocab=50257, seed=42):
    rng = np.random.default_rng(seed)
    # Zipf(1.1) truncated to vocab — mimics BPE token frequency
    z = rng.zipf(1.1, size=n * 2)
    z = z[z <= vocab][:n] - 1
    assert len(z) == n
    return z.astype(np.int32)


def test_zipf_rlev2_roundtrip():
    v = _zipf_tokens(200_000)
    enc = rle_v2_encode(v, signed=False)
    dec = rle_v2_decode(enc, len(v), signed=False)
    assert np.array_equal(dec, v)
    # RLEv2 alone is capped by PATCHED_BASE's 31-patch limit on this
    # distribution (~15 bits/tok); runfor's PFOR literal path goes below
    assert len(enc) * 8 / len(v) < 16.5


def test_zipf_stripe_selects_runfor():
    """Zipf tokens pick RUN+FoR, whose literal path IS PFOR (unlimited
    exceptions) — it subsumes the earlier int_pfor codec and still beats
    ORC PATCHED_BASE's bits/token on this shape."""
    v = _zipf_tokens(100_000)
    blob, stats = encode_column(pa.array(v))
    assert stats["codec"] == "int_runfor", stats["codec"]
    assert decode_column(blob, pa.int32()).equals(pa.array(v))
    assert stats["enc_bytes"] * 8 / stats["n"] < 13


def test_zipf_token_column_roundtrip():
    rng = np.random.default_rng(7)
    flat = _zipf_tokens(100_000, seed=7)
    lens = rng.integers(32, 512, 300)
    lens[-1] = 100_000 - int(lens[:-1].sum() % 100_000)
    off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    off = np.clip(off, 0, len(flat))
    arr = pa.ListArray.from_arrays(pa.array(off, type=pa.int64()).cast(pa.int32()), pa.array(flat))
    blob, stats = encode_column(arr)
    assert stats["codec"].startswith("arr_int")
    out = decode_column(blob, arr.type)
    assert out.equals(arr)
    assert stats["enc_bytes"] < 0.45 * stats["raw_bytes"], stats
