"""Byte-identity goldens for the RLEv2 encoder and the ORC writer.

The sha256 digests below were recorded from the per-region RLEv2 encoder
that the batched one replaced; the batched encoder must reproduce every
byte. Each corpus family is seeded numpy, encoded signed and unsigned;
a family's digest covers every (length, signedness, encoding) triple of
it in order, so a mismatch names the family. The write_orc golden is a
seeded lineitem-shaped table written with snappy in 8192-row stripes.
"""

import hashlib
import io

import numpy as np
import pyarrow as pa
import pyarrow.orc

from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode, rle_v2_encode
from datafusion_orc_spark.format.orc_writer import write_orc

I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _lineitem(rows: int, seed: int) -> pa.Table:
    """TPC-H-shaped lineitem: clustered sparse order keys with 1-7 lines
    each, uniform part/supplier keys, 3- and 2-letter flag columns."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=rows // 2 + 7)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, rows)) + 1
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64) * 4, lines[:n_orders])[:rows]
    firsts = np.repeat(ends[:n_orders] - lines[:n_orders], lines[:n_orders])[:rows]
    day0 = np.datetime64("1995-01-02", "us")
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, max(200, rows // 30), size=rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(10, rows // 600), size=rows, dtype=np.int64),
        "l_linenumber": (np.arange(rows) - firsts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=rows).astype(np.float64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=rows)],
        "l_shipdate": pa.array(
            day0 + rng.integers(0, 2499, size=rows).astype("timedelta64[D]"), pa.timestamp("us")
        ),
    })


def _lineitem_streams() -> list[np.ndarray]:
    """The integer streams the ORC writer encodes for each 8192-row
    stripe of a 40k-row lineitem: the key columns, the dictionary
    indexes and LENGTH streams of the flag columns, shipdate seconds."""
    t = _lineitem(40_000, 1)
    out = []
    for s in range(0, t.num_rows, 8192):
        part = t.slice(s, 8192)
        for name in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
            out.append(part.column(name).to_numpy())
        for name in ("l_returnflag", "l_linestatus"):
            uniq, idx = np.unique(part.column(name).to_numpy(zero_copy_only=False), return_inverse=True)
            out += [idx.astype(np.int64), np.ones(len(uniq), dtype=np.int64)]
        out.append(part.column("l_shipdate").to_numpy().astype("int64") // 1_000_000 - 1_420_070_400)
    return out


def _run_stream(rng, n: int, values, lo: int, hi: int) -> np.ndarray:
    """``n`` values in equal runs of ``lo..hi`` drawn from ``values``."""
    lens = rng.integers(lo, hi + 1, size=n // lo + 1)
    return np.repeat(rng.choice(values, size=len(lens)), lens)[:n]


def _pb_chunks(rng, chunks: int) -> np.ndarray:
    """Small-value chunks (1-31 large outliers each) between repeat runs
    of 3..600 values, so patched-base candidates straddle regions."""
    parts = []
    for _ in range(chunks):
        m = int(rng.integers(16, 1100))
        c = rng.integers(0, 16, size=m).astype(np.int64) + int(rng.integers(-(2**40), 2**40))
        k = int(rng.integers(1, 32))
        c[rng.choice(m, size=min(k, m), replace=False)] += rng.integers(2**20, 2**34, size=min(k, m))
        parts.append(c)
        parts.append(np.full(int(rng.choice([3, 7, 10, 11, 31, 32, 513, 600])), int(c[0])))
    return np.concatenate(parts)


def _regions(rng, count: int, bits: int) -> np.ndarray:
    """``count`` literal regions of 65..400 ``bits``-bit values, each
    followed by an equal run of 32..60 values."""
    parts = []
    for _ in range(count):
        parts.append(rng.integers(0, 2**bits, size=int(rng.integers(65, 401))))
        parts.append(np.full(int(rng.integers(32, 61)), -1))
    return np.concatenate(parts)


def _corpus() -> dict[str, list[np.ndarray]]:
    rng = np.random.default_rng(20261019)
    zipf = np.minimum(rng.zipf(1.3, size=60_000), 50_000)
    mono = np.cumsum(rng.integers(0, 1000, size=5000))
    sizes = []
    for n in (0, 1, 2, 3, 511, 512, 513):
        sizes += [
            np.full(n, 7, dtype=np.int64),
            rng.integers(-50, 50, size=n),
            rng.integers(I64_MIN, I64_MAX, size=n, dtype=np.int64, endpoint=True),
            np.arange(n, dtype=np.int64) * 3 - 5,
            (np.arange(n) % 2).astype(np.int32),
        ]
    ext = np.array([I64_MIN, I64_MAX, 0, -1, 1, I64_MIN + 1, I64_MAX - 1], dtype=np.int64)
    return {
        "lineitem": _lineitem_streams(),
        "zipf": [zipf[:8192].astype(np.int32), zipf.astype(np.int32), zipf[:20_000].astype(np.int64)],
        "fragmented": [
            _run_stream(rng, 8192, [0, 1, 2], 1, 40),
            _run_stream(rng, 8192, [5, 9], 1, 12),
            _run_stream(rng, 65_536, [0, 1, 2], 1, 20).astype(np.int32),
            _run_stream(rng, 8192, [0, 3, 2**40], 3, 31),
            _run_stream(rng, 4000, [1, 2, 3], 1, 3),
            _run_stream(rng, 20_000, [-1, 0, 1], 2, 600),
        ],
        "patched_base": [_pb_chunks(rng, 12), _pb_chunks(rng, 40), _pb_chunks(rng, 5).astype(np.int32) % 2**30],
        "delta": [
            mono, mono[::-1].copy(), mono.astype(np.int32), np.arange(0, 3000, 7),
            np.repeat(mono[:700], rng.integers(1, 5, size=700)),
            np.arange(600) * (2**52) - 2**61,
            np.concatenate([mono[:800], np.full(40, 9), -mono[:600], mono[:2]]),
        ],
        "promote": [
            rng.integers(-(2**31), 2**31, size=3000).astype(np.int32),
            np.array([-(2**31), 2**31 - 1] * 300 + [5] * 40, dtype=np.int32),
        ],
        "extremes": [
            rng.choice(ext, size=3000),
            np.repeat(ext, [3, 40, 1, 11, 600, 2, 513]),
            np.full(1025, I64_MIN, dtype=np.int64),
            (rng.integers(0, 2**62, size=2000) | np.int64(I64_MIN)),
            np.concatenate([np.full(20, I64_MAX), rng.integers(0, 9, size=700)]),
            np.full(5, I64_MIN, dtype=np.int64),
            np.array([I64_MAX] * 4 + [-1] * 9 + [I64_MIN] * 3, dtype=np.int64),
        ],
        "sizes": sizes,
        # ~5.5M bits of 65..400-value literal regions between repeats:
        # more than one mixed-width packing pass
        "large": [_regions(rng, 1200, 20)],
    }


def _digest(arrays: list[np.ndarray]) -> str:
    h = hashlib.sha256()
    for v in arrays:
        for signed in (True, False):
            enc = rle_v2_encode(v, signed=signed)
            h.update(b"%d:%d:%d:" % (len(v), signed, len(enc)))
            h.update(enc)
    return h.hexdigest()


GOLDEN = {
    "lineitem": "c61a180ee4724d564469cf4170bc7c23e7f2d4b43ad59005a8e01ca089a407b1",
    "zipf": "36b7c383cb1919e3f4ec6c85c2412c2a1fd3d46cbc6797a8487db4b2caa0bf61",
    "fragmented": "1b8d51f8cfd90f4d5d1bc0843be660bdf127528917a47c2a4e54e44ffd5a0de1",
    "patched_base": "53f3ac2cdaffe8f2040e453dfdeca01b1d4febb8078f2f7abff312f37264299b",
    "delta": "0df0c7755484414a831877f812e97e098eb193839e252f768b42ba8ced7f6ced",
    "promote": "a505fe4330535b4c36cce0a8d404d728e47f7e1f0b12a260464ae18e0163c703",
    "extremes": "df3dd7bfdcec54b76166f1da15ec00e0099b1e1e6a26df4b8704b5cfbf9df596",
    "sizes": "4298598e77cbfdd31320c54203f41d9553924fd0a4c72b0441da32ed73d2d365",
    "large": "8f9064c4dc84010c07140dae14fa892c88dfce910dd5ebfba3dd11c807d37364",
}
GOLDEN_FILE = "7e639c0cd7f9c646b515df8c733883b02459ebfb9bd5237f3849bfc3bc305b84"


def test_rlev2_encode_matches_golden_digests():
    got = {name: _digest(arrays) for name, arrays in _corpus().items()}
    assert got == GOLDEN


def test_rlev2_golden_corpus_round_trips():
    for name, arrays in _corpus().items():
        for v in arrays:
            for signed in (True, False):
                if not signed and v.dtype == np.int32 and (v < 0).any():
                    continue  # unsigned int32 streams carry non-negative values
                dec = rle_v2_decode(rle_v2_encode(v, signed=signed), len(v), signed=signed)
                assert np.array_equal(dec, v.astype(np.int64)), (name, len(v), signed)


def test_write_orc_lineitem_matches_golden_digest():
    t = _lineitem(40_000, 7)
    buf = io.BytesIO()
    write_orc(t, buf, stripe_rows=8192, compression="snappy")
    assert hashlib.sha256(buf.getvalue()).hexdigest() == GOLDEN_FILE
    back = pyarrow.orc.ORCFile(io.BytesIO(buf.getvalue())).read()
    assert back.cast(t.schema).equals(t)  # ORC C++ reads timestamps as ns
