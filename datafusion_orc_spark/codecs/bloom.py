"""ORC v1 bloom filter kernels (BLOOM_FILTER_UTF8 stream, kind 8).

Vectorized numpy implementations of the two hash functions the ORC v1
spec prescribes for row-group bloom filters (spec "Bloom Filter Index";
the reference's scan machinery inherits these via orc-rust, cf.
physical_exec.rs:57-91 which opens index streams before data):

- strings / binary: Murmur3 64-bit (the single-lane x64 variant used by
  Apache ORC/Hive, seed 104729) over the raw UTF-8 bytes
- integers (and doubles via their IEEE-754 bit pattern): Thomas Wang's
  64-bit mix ("getLongHash" in ORC)

and the k-probe double-hashing scheme both share: split the 64-bit hash
into two SIGNED 32-bit halves h1/h2 and probe positions
``abs-ish(h1 + i*h2) % m`` for i in 1..k, where a negative combined
value is bit-flipped (~x), all in wrapping int32 arithmetic — the exact
arithmetic matters because files written here must be readable by ORC
C++/Java and vice versa.

Everything is vectorized across values: the Murmur body loop runs once
per 8-byte block INDEX (values are right-zero-padded into one uint64
matrix and masked per block), never per value. Zero padding is exact:
the tail block's shifted-OR construction ignores zero bytes, and a
zero-length tail contributes k1=0 which is a no-op by construction.
"""

from __future__ import annotations

import math

import numpy as np

from datafusion_orc_spark.codecs.varint import varint_encode_scalar

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_N1 = np.uint64(0x52DCE729)
_M5 = np.uint64(5)
_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)
DEFAULT_SEED = 104729  # ORC's Murmur3 default seed


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _FMIX1
    h ^= h >> np.uint64(33)
    h *= _FMIX2
    h ^= h >> np.uint64(33)
    return h


_LONG_VALUE_BLOCKS = 2048  # 16 KB — above this, the h-chain loop beats padding


def _murmur3_hash64_long(data: np.ndarray, seed: int) -> int:
    """Murmur3 64-bit of ONE long value. The k-transform of every body
    block is independent (vectorized numpy pass); only the h chain is
    sequential, and a python-int loop over precomputed k's is ~20x
    faster per block than 1-element numpy ops."""
    n = len(data)
    nblk = n >> 3
    ks = np.frombuffer(data[: nblk * 8].tobytes(), dtype="<u8").copy()
    with np.errstate(over="ignore"):
        ks *= _C1
        ks = _rotl64(ks, 31)
        ks *= _C2
    mask = (1 << 64) - 1
    m5, n1 = int(_M5), int(_N1)
    h = seed
    for k in ks.tolist():
        h ^= k
        h = ((h << 27) | (h >> 37)) & mask
        h = (h * m5 + n1) & mask
    k1 = int.from_bytes(data[nblk * 8:].tobytes().ljust(8, b"\0"), "little")
    k1 = (k1 * int(_C1)) & mask
    k1 = ((k1 << 31) | (k1 >> 33)) & mask
    k1 = (k1 * int(_C2)) & mask
    h ^= k1
    h ^= n
    h ^= h >> 33
    h = (h * int(_FMIX1)) & mask
    h ^= h >> 33
    h = (h * int(_FMIX2)) & mask
    h ^= h >> 33
    return h


def murmur3_hash64(data: bytes | np.ndarray, offsets: np.ndarray | None = None,
                   seed: int = DEFAULT_SEED) -> np.ndarray:
    """Murmur3 64-bit of N byte strings, vectorized across values.

    ``data``+``offsets`` follow the Arrow string layout: one flat uint8
    buffer and N+1 int offsets (value i = data[offsets[i]:offsets[i+1]]).
    Returns uint64[N]. The per-value body loop is over BLOCK INDEX
    (max blocks across the batch), each iteration a full-width masked
    numpy pass — cost is O(total bytes), not O(values * python).
    """
    if offsets is None:  # single value convenience
        buf = np.frombuffer(bytes(data), dtype=np.uint8)
        offsets = np.array([0, len(buf)], dtype=np.int64)
        data = buf
    else:
        data = np.asarray(data, dtype=np.uint8)
        offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    lengths = offsets[1:] - offsets[:-1]
    nblocks = (lengths >> 3).astype(np.int64)
    # Genuinely long values (>16 KB) peel off to the sequential fast
    # path first — both the padded matrix AND the per-block masked loop
    # are O(max_blk) and a single 10 MB value would cost ~20 s / tens of
    # GB either way (ADVICE r6).
    long_sel = nblocks > _LONG_VALUE_BLOCKS
    if long_sel.any():
        out = np.empty(n, dtype=np.uint64)
        for i in np.flatnonzero(long_sel):
            out[i] = _murmur3_hash64_long(data[offsets[i]:offsets[i + 1]], seed)
        rest = np.flatnonzero(~long_sel)
        if rest.size:
            r_len = lengths[rest]
            r_off = np.zeros(len(rest) + 1, dtype=np.int64)
            np.cumsum(r_len, out=r_off[1:])
            gather = np.repeat(offsets[:-1][rest], r_len) + (
                np.arange(int(r_len.sum()), dtype=np.int64)
                - np.repeat(r_off[:-1], r_len)
            )
            out[rest] = murmur3_hash64(data[gather], r_off, seed)
        return out
    max_blk = int(nblocks.max()) if n else 0
    width = (max_blk + 1) * 8
    # With outliers peeled, padding is bounded by 16 KB/row — but a
    # skewed batch (one 16 KB value among thousands of short ids) still
    # pads every row to the max. When the padded matrix would dwarf the
    # real payload, bucket values by power-of-two length class and hash
    # each class at its own width; results scatter back in input order.
    # Typical batches (uniform-ish lengths) never take this branch.
    payload = int(lengths.sum()) + 8 * n
    if n > 1 and n * width > max(4 * payload, 1 << 22):
        out = np.empty(n, dtype=np.uint64)
        cls = np.zeros(n, dtype=np.int64)
        nz = nblocks > 0
        cls[nz] = np.frexp(nblocks[nz].astype(np.float64))[1]  # ~log2+1
        for c in np.unique(cls):
            sel = np.flatnonzero(cls == c)
            sub_len = lengths[sel]
            sub_off = np.zeros(len(sel) + 1, dtype=np.int64)
            np.cumsum(sub_len, out=sub_off[1:])
            # gather this class's bytes into a contiguous buffer
            gather = np.repeat(offsets[:-1][sel], sub_len) + (
                np.arange(int(sub_len.sum()), dtype=np.int64)
                - np.repeat(sub_off[:-1], sub_len)
            )
            out[sel] = murmur3_hash64(data[gather], sub_off, seed)
        return out
    # pad every value into a row of (max_blk+1) uint64 little-endian
    # blocks: body blocks 0..nblocks-1, the (zero-padded) tail block at
    # index nblocks. One scatter builds the whole matrix.
    mat = np.zeros((n, width), dtype=np.uint8)
    # rows with byte range [off, off+len) -> mat[i, :len]
    idx_val = np.repeat(np.arange(n, dtype=np.int64), lengths)
    pos_in_val = np.arange(len(data), dtype=np.int64) - np.repeat(offsets[:-1], lengths)
    mat[idx_val, pos_in_val] = data
    blocks = mat.view("<u8").reshape(n, max_blk + 1)

    h = np.full(n, np.uint64(seed), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for bi in range(max_blk):
            live = nblocks > bi
            k = blocks[:, bi].copy()
            k *= _C1
            k = _rotl64(k, 31)
            k *= _C2
            nh = h ^ k
            nh = _rotl64(nh, 27) * _M5 + _N1
            h = np.where(live, nh, h)
        # tail: block at index nblocks (zero-padded). k1==0 (8-aligned
        # length) runs through *C1/rotl/*C2 to 0 and XORs as a no-op,
        # so no mask is needed.
        k1 = blocks[np.arange(n), nblocks].copy()
        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        h ^= k1
        h ^= lengths.astype(np.uint64)
        return _fmix64(h)


def wang_hash64(values: np.ndarray) -> np.ndarray:
    """Thomas Wang's 64-bit integer mix — ORC's getLongHash for
    LONG/DOUBLE bloom entries. uint64[N] -> uint64[N].

    ORC's variant (Java BloomFilter.getLongHash, same in C++) performs
    the right shifts on SIGNED int64 — arithmetic shifts, not Wang's
    original logical ones. Verified bit-exact against ORC C++ (pyarrow)
    single-value bloom files across signs and magnitudes; a logical-
    shift version diverges on any value whose intermediate goes
    negative (e.g. -1, or even positive 2**40-3)."""
    k = np.asarray(values).astype(np.uint64).view(np.int64)
    with np.errstate(over="ignore"):
        k = (~k) + (k << np.int64(21))
        k ^= k >> np.int64(24)  # int64 >> is arithmetic — intentional
        k = k + (k << np.int64(3)) + (k << np.int64(8))
        k ^= k >> np.int64(14)
        k = k + (k << np.int64(2)) + (k << np.int64(4))
        k ^= k >> np.int64(28)
        k = k + (k << np.int64(31))
    return k.view(np.uint64)


def optimal_params(expected_entries: int, fpp: float = 0.05) -> tuple[int, int]:
    """(m_bits, k) exactly as ORC computes them: m rounded UP to the
    next multiple of 64 (a full multiple still gains a word), k =
    round(m/n * ln2), floor 1."""
    n = max(1, expected_entries)
    nb = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = nb + (64 - (nb % 64))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _probe_positions(hash64: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """ORC double-hashing probe positions, shape [N, k] int64 in [0, m).

    Wrapping int32 arithmetic throughout; negative combined hashes are
    bit-flipped (Java's `if (combined < 0) combined = ~combined`)."""
    h = np.asarray(hash64, dtype=np.uint64)
    h1 = h.astype(np.uint32).astype(np.int32)
    h2 = (h >> np.uint64(32)).astype(np.uint32).astype(np.int32)
    i = np.arange(1, k + 1, dtype=np.int32)
    with np.errstate(over="ignore"):
        combined = h1[:, None] + i[None, :] * h2[:, None]
    combined = np.where(combined < 0, ~combined, combined)
    return combined.astype(np.int64) % m_bits


def bloom_build(hash64: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Set k probe bits per hash; returns the bitset as uint64[m/64]
    little-endian words (bit b lives at word b>>6, bit b&63)."""
    bits = np.zeros(m_bits, dtype=np.uint8)
    if len(hash64):
        pos = _probe_positions(hash64, k, m_bits)
        bits[pos.ravel()] = 1
    # pack LSB-first into 64-bit words (ORC bit order: 1L << (b % 64))
    words = np.packbits(bits.reshape(-1, 8), axis=1, bitorder="little")
    return words.reshape(-1, 8).view("<u8").ravel().astype(np.uint64)


def bloom_might_contain(bitset: np.ndarray, k: int, hash64: int | np.ndarray) -> bool:
    """True unless some probe bit is clear (definite miss)."""
    bitset = np.asarray(bitset, dtype=np.uint64)
    m_bits = len(bitset) * 64
    if m_bits == 0 or k <= 0:
        return True
    pos = _probe_positions(np.atleast_1d(np.uint64(hash64)), k, m_bits)[0]
    word = bitset[pos >> 6]
    return bool(((word >> (pos & 63).astype(np.uint64)) & np.uint64(1)).all())


def serialize_bloom_index(filters: list[tuple[np.ndarray, int]]) -> bytes:
    """[(bitset uint64 words, k)] -> BloomFilterIndex wire bytes
    (one BloomFilter per row group; utf8Bitset field = the words
    little-endian, the BLOOM_FILTER_UTF8 representation)."""
    body = b""
    for words, k in filters:
        bf = varint_encode_scalar((1 << 3) | 0) + varint_encode_scalar(k)
        bs = np.asarray(words, dtype="<u8").tobytes()
        bf += varint_encode_scalar((3 << 3) | 2) + varint_encode_scalar(len(bs)) + bs
        body += varint_encode_scalar((1 << 3) | 2) + varint_encode_scalar(len(bf)) + bf
    return body


def parse_bloom_index(buf: bytes) -> list[tuple[np.ndarray, int]]:
    """BloomFilterIndex wire bytes -> [(bitset uint64 words, k)];
    accepts both the utf8Bitset (field 3, kind-8 streams) and the
    legacy repeated-fixed64 bitset (field 2, kind-7 streams)."""
    from datafusion_orc_spark.format import orc_proto as proto

    out: list[tuple[np.ndarray, int]] = []
    for bf in proto.parse_message(buf).get(1, []):
        f = proto.parse_message(bf)
        k = f.get(1, [0])[0]
        if 3 in f:
            words = np.frombuffer(f[3][0], dtype="<u8").astype(np.uint64)
        else:
            words = np.array(f.get(2, []), dtype=np.uint64)
        out.append((words, k))
    return out


def hash_for_value(value, kind: str) -> int:
    """Hash one predicate literal the way the writer hashed the column:
    kind in {'bytes','int','float'}. Returns a python int (uint64)."""
    if kind == "bytes":
        v = value.encode() if isinstance(value, str) else bytes(value)
        return int(murmur3_hash64(v)[0])
    if kind == "float":
        value = np.float64(value).view(np.uint64)
        return int(wang_hash64(np.array([value]))[0])
    return int(wang_hash64(np.array([np.int64(value)]).view(np.uint64))[0])
