"""E8/D9 — LEB128 varints and zigzag, vectorized.

Semantics per ORC v1 spec (base-128 varints, little-endian groups of 7
bits, high bit = continuation; signed values zigzag-mapped first).
Verified against ORC-Java DELTA run headers in SURVEY.md §4.3.
"""

from __future__ import annotations

import numpy as np

from datafusion_orc_spark.codecs.bitpack import bit_widths


def zigzag_encode(vals: np.ndarray) -> np.ndarray:
    """Signed -> unsigned: (n << 1) ^ (n >> bits-1).

    dtype-preserving: int32 input stays in 32-bit registers/bandwidth
    (uint32 out), anything else promotes to int64 -> uint64.
    """
    if vals.dtype == np.int32:
        v = vals
        return ((v << 1) ^ (v >> 31)).view(np.uint32)
    v = vals.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def zigzag_decode(vals: np.ndarray) -> np.ndarray:
    """Unsigned -> signed: (n >> 1) ^ -(n & 1)."""
    u = vals.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)).view(np.int64)) ^ -((u & np.uint64(1)).view(np.int64))


def varint_encode(vals: np.ndarray) -> bytes:
    """Encode unsigned 64-bit values as concatenated LEB128 varints.

    Vectorized over the output bytes, no per-value loop: value i takes
    ceil(bit_length / 7) bytes (at least one), byte j of it holds bits
    7j..7j+6, and every byte but the value's last sets the continuation
    bit.
    """
    u = np.asarray(vals, dtype=np.uint64)
    if len(u) == 0:
        return b""
    nb = (bit_widths(u) + 6) // 7
    group = np.arange(int(nb.sum())) - (nb.cumsum() - nb).repeat(nb)
    low7 = ((u.repeat(nb) >> (7 * group).astype(np.uint64)) & np.uint64(0x7F)).astype(np.uint8)
    return (low7 | ((group < (nb - 1).repeat(nb)) << 7).astype(np.uint8)).tobytes()


def varint_decode(buf: np.ndarray | bytes, n: int, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode ``n`` unsigned varints starting at byte ``pos``.

    Returns (values: uint64[n], next_pos). Vectorized over values: finds
    the ``n`` terminator bytes (high bit clear), then accumulates 7-bit
    groups with a loop over byte *positions* (<=10), not over values.
    """
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if n == 0:
        return np.empty(0, dtype=np.uint64), pos
    window = raw[pos:]
    terms = np.flatnonzero((window & 0x80) == 0)
    if len(terms) < n:
        raise ValueError("varint stream truncated")
    ends = terms[:n]  # inclusive index of last byte of each varint
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    out = np.zeros(n, dtype=np.uint64)
    maxlen = int(lengths.max())
    for j in range(maxlen):
        mask = lengths > j
        b = window[starts[mask] + j].astype(np.uint64)
        out[mask] |= (b & np.uint64(0x7F)) << np.uint64(7 * j)
    return out, pos + int(ends[n - 1]) + 1


def varint_decode_big(buf, n: int, pos: int = 0) -> tuple[list[int], int]:
    """Decode ``n`` varints of UNBOUNDED size (python ints) — used for
    decimal mantissas above 64 bits (precision > 18). Zigzag applied by
    the caller."""
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    out: list[int] = []
    for _ in range(n):
        result = 0
        shift = 0
        while True:
            b = int(raw[pos])
            pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out.append(result)
    return out, pos


def varint_decode_scalar(raw, pos: int) -> tuple[int, int]:
    """Decode ONE varint at ``pos`` — reads only its own bytes (the
    vectorized decoder scans the whole remaining window to find
    terminators, which is O(buffer) per call and quadratic when used
    per-run)."""
    result = 0
    shift = 0
    while True:
        b = int(raw[pos])
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def zigzag_decode_scalar(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def varint_encode_scalar(x: int) -> bytes:
    """LEB128 of one unsigned int — pure-python fast path (the numpy
    matrix version costs ~50µs of dispatch per call; this is ~1µs)."""
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_scalar(x: int) -> int:
    """Zigzag of one int of any size (ORC decimal mantissas exceed int64)."""
    return x << 1 if x >= 0 else ((-x - 1) << 1) + 1


def varint_encode_signed(vals: np.ndarray) -> bytes:
    """Zigzag then LEB128."""
    return varint_encode(zigzag_encode(np.asarray(vals)))


def varint_decode_signed(buf, n: int, pos: int = 0) -> tuple[np.ndarray, int]:
    u, p = varint_decode(buf, n, pos)
    return zigzag_decode(u), p
