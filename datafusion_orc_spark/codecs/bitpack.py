"""E1/D6 — MSB-first bit packing with the ORC RLEv2 32-entry width table.

Semantics fixed by the ORC v1 spec and verified against ORC-Java-written
streams in SURVEY.md §4.3 (reference corpus: /root/reference/tests/basic/data;
the reference crate delegates decode to orc-rust, Cargo.toml:41).

All kernels are vectorized numpy — values are packed/unpacked via a
(n, width) bit matrix and ``np.packbits``/``np.unpackbits``; no per-value
Python loops.
"""

from __future__ import annotations

import numpy as np

# ORC FixedBitSizes: codes 0..23 -> widths 1..24, then 26,28,30,32,40,48,56,64.
WIDTH_TABLE: tuple[int, ...] = tuple(range(1, 25)) + (26, 28, 30, 32, 40, 48, 56, 64)

_CODE_OF_WIDTH = {w: c for c, w in enumerate(WIDTH_TABLE)}

# closest_fixed_width lookup for 0..64 (0 maps to 1 except delta uses 0 specially)
_CLOSEST = np.zeros(65, dtype=np.int8)
for _w in range(1, 65):
    for _tw in WIDTH_TABLE:
        if _tw >= _w:
            _CLOSEST[_w] = _tw
            break
_CLOSEST[0] = 1


CLOSEST_TABLE = _CLOSEST  # vectorized lookup: CLOSEST_TABLE[raw_width]

# vectorized width -> 5-bit header code (valid only at table widths)
CODE_TABLE = np.full(65, -1, dtype=np.int64)
for _c, _w in enumerate(WIDTH_TABLE):
    CODE_TABLE[_w] = _c


def closest_fixed_width(width: int) -> int:
    """Round a bit width up to the nearest entry in the RLEv2 width table."""
    return int(_CLOSEST[width])


def width_code(width: int) -> int:
    """5-bit header code for an (already table-aligned) width."""
    return _CODE_OF_WIDTH[width]


def decode_width(code: int) -> int:
    """Inverse of :func:`width_code`."""
    return WIDTH_TABLE[code]


# 2^(e-1) - 1 for each float64 frexp exponent e in 0..65: a uint64 at or
# below it had rounded up to the next power of two in float64
_BELOW_POW2 = np.array([0] + [(1 << (e - 1)) - 1 for e in range(1, 66)], dtype=np.uint64)


def bit_widths(vals: np.ndarray) -> np.ndarray:
    """Per-value bit widths (unsigned), vectorized. 0-valued entries -> 1.

    The frexp exponent of float64(x) is bit_length(x) for x > 0: exact
    for every uint32 (uint32 input stays 32-bit up to the float pass); a
    uint64 above 2^53 may round up to the next power of two, which one
    table compare takes back.
    """
    if vals.dtype == np.uint32:
        e = np.frexp(vals.astype(np.float64))[1]
        return np.maximum(e.astype(np.int64), 1)
    x = vals if vals.dtype == np.uint64 else vals.astype(np.uint64)
    e = np.frexp(x.astype(np.float64))[1].astype(np.int64)
    e -= x <= _BELOW_POW2[e]
    return np.maximum(e, 1)


def bit_pack(vals: np.ndarray, width: int) -> bytes:
    """Pack unsigned values MSB-first at ``width`` bits each.

    Mirrors ORC writeInts/bit-packing (D6 evidence: DIRECT runs in the
    §4.3 dumps are byte-exact under this layout).

    Implementation: big-endian byte view -> np.unpackbits -> take the
    low ``width`` bit columns -> np.packbits. Measured against a 40-bit
    OR-scatter window kernel and a per-phase strided kernel on this
    hardware: packbits wins or ties at every width (it is SIMD inside),
    so the bit-matrix stays. (A window gather DOES win for unpack — see
    bit_unpack.)
    """
    n = len(vals)
    if n == 0:
        return b""
    if vals.dtype == np.uint32 and width <= 32:
        u = np.ascontiguousarray(vals)
        isz = 4
    else:
        u = np.ascontiguousarray(vals, dtype=np.uint64)
        isz = 8
    wb = (width + 7) // 8  # only touch the low ceil(w/8) bytes per value
    # little-endian byte view reversed = big-endian low bytes, no byteswap pass
    if width % 8 == 0:  # byte-aligned width: the bytes ARE the packing
        if width in (8, 16, 32, 64):
            # vectorized byteswap astype + contiguous tobytes: ~4x over
            # the strided-view tobytes (this path carries token streams)
            be = {8: np.uint8, 16: ">u2", 32: ">u4", 64: ">u8"}[width]
            return u.astype(be).tobytes()
        # tobytes() on the strided view copies once (ascontiguousarray +
        # tobytes would copy twice)
        return u.view(np.uint8).reshape(n, isz)[:, wb - 1 :: -1].tobytes()
    be = np.ascontiguousarray(u.view(np.uint8).reshape(n, isz)[:, wb - 1 :: -1])
    bits = np.unpackbits(be.reshape(-1)).reshape(n, wb * 8)
    bits = np.ascontiguousarray(bits[:, wb * 8 - width :])
    return np.packbits(bits.reshape(-1)).tobytes()


def bit_pack_view(vals: np.ndarray, width: int) -> bytes | memoryview:
    """bit_pack that may return a memoryview instead of bytes.

    For byte-aligned power-of-two widths (the token-stream hot path) the
    big-endian ``astype`` array IS the packed stream — returning its
    buffer skips the ``tobytes()`` copy (one full read+write of the
    packed stream per stripe). Only for callers that treat the result as
    an opaque buffer (len / join / slice); callers that concatenate with
    ``bytes +`` need bit_pack."""
    n = len(vals)
    if n and width in (8, 16, 32, 64):
        if vals.dtype == np.uint32 and width <= 32:
            u = np.ascontiguousarray(vals)
        else:
            u = np.ascontiguousarray(vals, dtype=np.uint64)
        be = {8: np.uint8, 16: ">u2", 32: ">u4", 64: ">u8"}[width]
        # uint8 view first so len(memoryview) == byte count (a '>u2'
        # view would report element count and corrupt stream headers)
        return u.astype(be).view(np.uint8).data
    return bit_pack(vals, width)


def bit_unpack(buf: bytes | np.ndarray, width: int, n: int, offset_bits: int = 0) -> np.ndarray:
    """Unpack ``n`` unsigned values of ``width`` bits, MSB-first.

    ``offset_bits`` allows reading from a mid-byte position (used by the
    PATCHED_BASE patch-list parser).
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    wb = (width + 7) // 8
    if width % 8 == 0 and offset_bits % 8 == 0:  # byte-aligned fast path
        o = offset_bits // 8
        if width in (8, 16, 32, 64):
            # one big-endian view + astype (vectorized byteswap) instead
            # of wb strided column gathers — ~10x on the w=16 token path
            be = {8: np.uint8, 16: ">u2", 32: ">u4", 64: ">u8"}[width]
            return raw[o : o + n * wb].view(be).astype(np.uint64)
        packed = raw[o : o + n * wb].reshape(n, wb)
    elif 9 <= width < 32:
        # one MSB-first gather: a value's width plus its bit phase (<= 38
        # bits) fits the 8-byte window at its first byte
        bitpos = np.arange(offset_bits, offset_bits + n * width, width)
        win = byte_windows(raw, (offset_bits + n * width + 7) >> 3)
        return _gather(win, bitpos, np.uint64(64 - width))
    else:
        total_bits = offset_bits + n * width
        nbytes = (total_bits + 7) // 8
        bits = np.unpackbits(raw[:nbytes])[offset_bits : offset_bits + n * width]
        padded = np.zeros((n, wb * 8), dtype=np.uint8)
        padded[:, wb * 8 - width :] = bits.reshape(n, width)
        packed = np.packbits(padded.reshape(-1)).reshape(n, wb)
    out = np.zeros(n, dtype=np.uint64)
    for j in range(wb):  # <=8 cheap vector passes
        out = (out << np.uint64(8)) | packed[:, j].astype(np.uint64)
    return out


def byte_windows(raw: np.ndarray, stop: int) -> np.ndarray:
    """The 8-byte big-endian window at every byte offset up to ``stop``,
    for :func:`bit_unpack_runs` (a strided view; zero-padded when ``raw``
    ends within 8 bytes of ``stop``)."""
    if len(raw) < stop + 8:
        pad = np.zeros(stop + 8, dtype=np.uint8)
        pad[:stop] = raw[:stop]
        raw = pad
    return np.ndarray((stop + 1,), dtype=">u8", buffer=raw, strides=(1,))


def bit_unpack_runs(win: np.ndarray, byte0, width, cnt) -> np.ndarray:
    """MSB-first values of many bit-packed runs in one gather -> uint64,
    run-major (one vector pass however many runs; RLEv2 decode).

    Run ``r`` holds ``cnt[r]`` MSB-first values of ``width[r]`` bits from
    byte ``byte0[r]``. A value at bit ``b`` is the window ``win[b >> 3]``
    shifted left by ``b & 7`` and right by ``64 - width``: a table width
    up to 56 plus a 7-bit phase fits the window, and width-64 runs are
    byte-aligned, so their phase is 0."""
    if len(cnt) == 1:  # one run: plain arithmetic, no per-run repeats
        w = int(width[0])
        b0 = int(byte0[0]) * 8
        bitpos = np.arange(b0, b0 + int(cnt[0]) * w, w)
        shr: np.ndarray | np.uint64 = np.uint64(64 - w)
    else:
        wv = np.repeat(width, cnt)
        first = np.cumsum(cnt) - cnt
        bitpos = np.repeat(byte0 * 8 - first * width, cnt) + np.arange(len(wv)) * wv
        shr = (64 - wv).astype(np.uint64)
    return _gather(win, bitpos, shr)


def _gather(win: np.ndarray, bitpos: np.ndarray, shr) -> np.ndarray:
    """The MSB-first value at each bit position: its byte's window,
    shifted left by the bit phase and right by ``shr`` (64 - width)."""
    # the fancy index already copies: byteswap that copy in place
    # rather than a second n-sized ``astype`` copy
    vals = win[bitpos >> 3].byteswap(inplace=True).view(np.uint64)
    vals <<= (bitpos & 7).astype(np.uint64)
    vals >>= shr
    return vals
