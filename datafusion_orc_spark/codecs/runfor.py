"""RUN+FoR — long-run extraction + frame-of-reference literals with an
optional PFOR exception list. Part of OUR stripe format (not ORC).

Why it exists: RLEv2 pays a 2-byte header per 512-value chunk and its
writer fragments into per-segment work at every embedded run; on token
streams where ~15-20% of values sit in long boilerplate runs this codec
is both SMALLER (runs cost ~0 bits/value, literals pay exact FoR width,
no chunk headers) and ~5x faster to encode, because every step is one
whole-array numpy pass:

  runs >= MIN_RUN values  ->  (positions, lengths, values) side lists,
                              each RLEv2-compressed (tiny)
  all other values        ->  FoR base-subtracted, bit-packed at width
                              w chosen from the width histogram; values
                              wider than w become PFOR exceptions
                              (positions RLEv2, high bits bit-packed)

Decode seeks: literals are fixed-width, so any row window [start, stop)
is one ranged bit_unpack of its literals plus the run side lists clipped
to the window, and a whole column is the window [0, n).
"""

from __future__ import annotations

import numpy as np

from datafusion_orc_spark.codecs.bitpack import (
    bit_pack,
    bit_pack_view,
    bit_unpack,
    bit_widths,
    closest_fixed_width,
)
from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode, rle_v2_encode
from datafusion_orc_spark.codecs.varint import (
    varint_decode_scalar,
    varint_encode_scalar,
    zigzag_decode_scalar,
    zigzag_scalar,
)

MIN_RUN = 32

_POS_COST_BITS = 5  # amortized bits per exception position (RLEv2 of the
# ascending position list measures ~4.6 bits/exception at 10-40% density)

# stream keys within the returned dict
META, LIT, RUN_POS, RUN_LEN, RUN_VAL, EXC_POS, EXC_HIGH = range(7)


def _coverage_mask(n: int, r_pos: np.ndarray, r_len: np.ndarray) -> np.ndarray:
    # int8 end-to-end: runs are disjoint so nesting never exceeds 1, and
    # cumsum(dtype=int8) + view(bool) keeps this at ~3n bytes of traffic
    # (the int32+astype version moved ~12n and dominated the encode's
    # memory-bus footprint — the 2->8 scaling bottleneck)
    delta = np.zeros(n + 1, dtype=np.int8)
    np.add.at(delta, r_pos, 1)
    np.add.at(delta, r_pos + r_len, -1)
    return np.cumsum(delta[:n], dtype=np.int8).view(bool)


def choose_pfor_width(widths: np.ndarray, wm: int) -> tuple[int, int]:
    """-> (w, estimated total bits): the literal width minimizing
    n*w + n_exc*((wm - w) + pos_cost). widths = per-value bit widths of
    the base-subtracted values; wm = closest_fixed(max width)."""
    n = len(widths)
    hist = np.bincount(widths, minlength=wm + 1)
    cum = np.cumsum(hist)
    best_w, best_bits = wm, n * wm
    for w in range(1, wm):
        n_exc = n - int(cum[w])
        bits = n * w + n_exc * ((wm - w) + _POS_COST_BITS)
        if bits < best_bits:
            best_w, best_bits = w, bits
    return best_w, best_bits


def sorted_pos_encode(pos: np.ndarray) -> bytes:
    """Strictly-increasing int64 positions -> varint(first) + u8 width +
    bit-packed gaps. One vector pass — replaces the RLEv2 side-list
    encoding whose per-512-window python loop dominated run/exception
    heavy stripes."""
    if len(pos) == 0:
        return b""
    first = int(pos[0])
    gaps = np.diff(pos).view(np.uint64)
    w = closest_fixed_width(max(1, int(gaps.max()).bit_length())) if len(gaps) else 1
    return varint_encode_scalar(first) + bytes([w]) + bit_pack(gaps, w)


def sorted_pos_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    first, p = varint_decode_scalar(raw, 0)
    w = int(raw[p])
    gaps = bit_unpack(raw[p + 1 :], w, n - 1)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    np.cumsum(gaps.view(np.int64), out=out[1:])
    out[1:] += first
    return out


# per-process literal scratch (one per dtype): reused across stripes so
# the gap-slice concatenate writes into already-faulted pages. Safe:
# Spark python workers run one task at a time, and the literal view is
# fully consumed (bit-packed) before runfor_encode returns.
_LIT_SCRATCH: dict[str, np.ndarray] = {}


def _lit_scratch(dtype: np.dtype, n: int) -> np.ndarray:
    buf = _LIT_SCRATCH.get(dtype.char)
    if buf is None or len(buf) < n:
        buf = np.empty(max(n, int(n * 1.25)), dtype=dtype)
        _LIT_SCRATCH[dtype.char] = buf
    return buf[:n]


_FUSED_BE = {8: np.uint8, 16: ">u2", 32: ">u4", 64: ">u8"}
_FUSED_CHUNK = 1 << 18  # values per chunk: keeps convert+scan in cache
_FUSED_MIN_LIT = 65536  # below this the classic path costs nothing anyway


def _gap_sample(v: np.ndarray, u_dt, seg_bounds: list[tuple[int, int]]) -> np.ndarray:
    """Every 16th LITERAL value (global literal-coordinate stride, so the
    result equals concatenated_literals[::16] exactly — width choice, and
    therefore every output byte, matches the unfused path)."""
    parts = []
    lit_pos = 0
    for a, b in seg_bounds:
        skip = (-lit_pos) % 16
        if a + skip < b:
            parts.append(v[a + skip:b:16].view(u_dt))
        lit_pos += b - a
    return np.concatenate(parts) if parts else v[:0].view(u_dt)


def _fused_gap_pack(
    v: np.ndarray,
    u_dt,
    seg_bounds: list[tuple[int, int]],
    n_lit: int,
    w: int,
    scan_exc: bool = True,
) -> tuple[memoryview, np.ndarray, np.ndarray]:
    """One cache-resident pass per ~1 MB chunk of each literal segment:
    truncating big-endian convert-copy straight into the final packed
    buffer (byte-aligned widths only) + exception scan on the still-warm
    chunk. -> (LIT stream view, exc positions in literal coords int64,
    exc high bits uint64)."""
    out = np.empty(n_lit, dtype=_FUSED_BE[w])
    lim = u_dt(1) << u_dt(w) if (scan_exc and w < 8 * u_dt(0).itemsize) else None
    exc_pos_parts: list[np.ndarray] = []
    exc_high_parts: list[np.ndarray] = []
    a_out = 0
    for s0, s1 in seg_bounds:
        for c0 in range(s0, s1, _FUSED_CHUNK):
            c1 = min(c0 + _FUSED_CHUNK, s1)
            seg = v[c0:c1].view(u_dt)
            m = c1 - c0
            np.copyto(out[a_out:a_out + m], seg, casting="unsafe")
            if lim is not None:
                e = np.flatnonzero(seg >= lim)
                if len(e):
                    exc_pos_parts.append(e.astype(np.int64) + a_out)
                    exc_high_parts.append((seg[e] >> u_dt(w)).astype(np.uint64))
            a_out += m
    exc_idx = (
        np.concatenate(exc_pos_parts) if exc_pos_parts else np.empty(0, np.int64)
    )
    exc_high = (
        np.concatenate(exc_high_parts) if exc_high_parts else np.empty(0, np.uint64)
    )
    return out.view(np.uint8).data, exc_idx, exc_high


def runfor_encode(
    vals: np.ndarray, vmin: int | None = None, vmax: int | None = None
) -> dict[int, bytes]:
    """int array -> stream dict (keys above; absent = empty).

    ``vmin``/``vmax``: optional precomputed column min/max (the stripe
    stats pass already has them) — saves two full-array reductions; any
    vmin <= min(vals) / vmax >= max(vals) is correct (FoR base need only
    be a lower bound; width only an upper bound)."""
    n = len(vals)
    v = np.ascontiguousarray(vals)
    if n == 0:
        return {META: varint_encode_scalar(0) + varint_encode_scalar(0)}

    # maximal equal-value runs >= MIN_RUN, found WITHOUT materializing all
    # run boundaries: cand[i] = (v[i] == v[i+MIN_RUN-1]) is true on exactly
    # [s, s+L-MIN_RUN] for a maximal run [s, s+L) of length L >= MIN_RUN
    # (maximality makes the positions just outside false), so contiguous
    # cand blocks ARE the long runs — one vector compare instead of a
    # full segmentation pass, and run-free data bails immediately.
    # Periodic data can create accidental blocks; a constancy check over
    # just the covered values drops those (correctness never depends on
    # run extraction — uncaptured equal values simply stay literals).
    m = MIN_RUN - 1
    r_pos = r_len = np.empty(0, dtype=np.int64)
    if n >= MIN_RUN:
        cand = v[m:] == v[:-m]
        z = np.flatnonzero(cand)
        if len(z):
            brk = np.flatnonzero(np.diff(z) > 1)
            blk_s = np.concatenate(([0], brk + 1))
            blk_e = np.append(brk, len(z) - 1)
            # chance matches (v[i] == v[i+31] without a run) are common on
            # skewed data and would make the verification gather O(n);
            # require >=3 contiguous cand positions (true runs >= MIN_RUN+2)
            keep = (blk_e - blk_s) >= 2
            blk_s, blk_e = blk_s[keep], blk_e[keep]
            r_pos = z[blk_s].astype(np.int64)
            r_len = (z[blk_e] + m + 1 - r_pos).astype(np.int64)
            # verify constancy of each block (vectorized gather + reduceat)
            offs = np.zeros(len(r_pos), dtype=np.int64)
            np.cumsum(r_len[:-1], out=offs[1:])
            gather = np.repeat(r_pos - offs, r_len) + np.arange(int(r_len.sum()))
            eq = v[gather] == np.repeat(v[r_pos], r_len)
            ok = np.minimum.reduceat(eq, offs) if len(offs) else np.empty(0, bool)
            r_pos, r_len = r_pos[ok], r_len[ok]

    # literal SEGMENT BOUNDS (the gaps between runs); materialization is
    # deferred — the fused path below never builds the concatenated
    # literal array at all
    n_lit = n - int(r_len.sum())
    if len(r_pos) == 0:
        seg_bounds: list[tuple[int, int]] | None = [(0, n)]
    elif len(r_pos) <= 4096:
        seg_bounds = []
        pos = 0
        for p, ln in zip(r_pos.tolist(), r_len.tolist()):
            if p > pos:
                seg_bounds.append((pos, p))
            pos = p + ln
        if pos < n:
            seg_bounds.append((pos, n))
    else:
        seg_bounds = None  # many-runs shape: coverage-mask fallback

    def _materialize_lit() -> np.ndarray:
        if seg_bounds is None:
            return v[~_coverage_mask(n, r_pos, r_len)]
        if len(seg_bounds) == 1 and seg_bounds[0] == (0, n):
            return v
        if not seg_bounds:
            return v[:0]
        # few long runs (the token-stream shape): gap-slice concatenate
        # into a REUSED per-process scratch buffer — one memcpy instead
        # of a coverage mask + invert + boolean fancy-select (3 full
        # passes), and no fresh ~100 MB first-touch allocation per stripe
        return np.concatenate(
            [v[a:b] for a, b in seg_bounds], out=_lit_scratch(v.dtype, n_lit)
        )

    streams: dict[int, bytes] = {}
    if len(r_pos):
        streams[RUN_POS] = sorted_pos_encode(r_pos)
        streams[RUN_LEN] = rle_v2_encode(r_len, signed=False)
        streams[RUN_VAL] = rle_v2_encode(v[r_pos].astype(np.int64), signed=True)

    base = int(vmin) if vmin is not None else None
    w = wm = 1
    n_exc = 0
    if n_lit:
        u_dt = np.uint32 if v.dtype == np.int32 else np.uint64
        # FUSED cache-resident path (r7, the 2->8 scaling fix): when
        # base==0 with known bounds, big literal counts, gap segments,
        # and a byte-aligned width, each ~1 MB chunk is convert-copied
        # straight into the final big-endian buffer (bit_pack's astype
        # truncation IS the masking) and exception-scanned while still
        # cache-warm. DRAM traffic for extract+pack+exc-scan drops from
        # ~18 bytes/token to ~6 (read v once, write the packed stream
        # once); output bytes are IDENTICAL to the unfused path (the
        # width sample below reproduces lit[::16] exactly, stride
        # aligned across segment boundaries).
        fused_done = False
        if (
            base == 0
            and vmax is not None
            and seg_bounds is not None
            and n_lit > _FUSED_MIN_LIT
        ):
            wm = closest_fixed_width(max(1, int(vmax).bit_length()))
            sample = _gap_sample(v, u_dt, seg_bounds)
            w, _bits = choose_pfor_width(bit_widths(sample), wm)
            if w < wm and w in (8, 16, 32):
                lit_view, exc_idx, exc_high = _fused_gap_pack(
                    v, u_dt, seg_bounds, n_lit, w
                )
                n_exc = len(exc_idx)
                if n_exc:
                    streams[LIT] = lit_view
                    streams[EXC_POS] = sorted_pos_encode(exc_idx)
                    streams[EXC_HIGH] = bit_pack(exc_high, wm - w)
                    fused_done = True
                # n_exc == 0 means vmax was an over-bound (the sample saw
                # outliers the data lacks): fall through to the classic
                # path, which packs at wm
            elif w >= wm and wm in (8, 16, 32, 64):
                w = wm
                lit_view, _ei, _eh = _fused_gap_pack(
                    v, u_dt, seg_bounds, n_lit, wm, scan_exc=False
                )
                streams[LIT] = lit_view
                fused_done = True
        if not fused_done:
            lit = _materialize_lit()
            if base is None:
                base = int(lit.min())
            if base == 0:
                # all-non-negative with base 0: the unsigned view IS the
                # reduced array — skips a full subtract+write pass
                reduced = lit.view(u_dt)
            else:
                with np.errstate(over="ignore"):
                    reduced = (lit - lit.dtype.type(base)).view(u_dt)
            # width choice from a 1-in-16 SAMPLE histogram (a slightly
            # off-optimal w only costs size, never correctness —
            # exceptions absorb every value >= 2^w); wm comes from the
            # exact max (or the caller's column max, an upper bound)
            if vmax is not None and vmin is not None:
                wm = closest_fixed_width(max(1, (int(vmax) - base).bit_length()))
            else:
                wm = closest_fixed_width(max(1, int(reduced.max()).bit_length()))
            sample = reduced[::16] if n_lit > 65536 else reduced
            widths = bit_widths(sample)
            w, _bits = choose_pfor_width(widths, wm)
            if w < wm:
                # one pass: flatnonzero(compare) replaces the old
                # mask-then-sum-then-flatnonzero-then-boolean-gather
                # chain; bit_pack itself truncates to ``w`` bits in
                # every layout path, so no pre-masking copy
                exc_idx = (
                    np.flatnonzero(reduced >= u_dt(1 << w))
                    if w < 8 * reduced.dtype.itemsize
                    else np.empty(0, dtype=np.int64)
                )
                n_exc = len(exc_idx)
                if not n_exc:
                    w = wm  # sample saw outliers the full data lacks
                streams[LIT] = bit_pack_view(reduced, w)
                if n_exc:
                    streams[EXC_POS] = sorted_pos_encode(exc_idx.astype(np.int64))
                    streams[EXC_HIGH] = bit_pack((reduced[exc_idx] >> u_dt(w)).astype(np.uint64), wm - w)
            else:
                w = wm
                streams[LIT] = bit_pack_view(reduced, w)
    if base is None:
        base = 0

    streams[META] = (
        varint_encode_scalar(len(r_pos))
        + varint_encode_scalar(n_lit)
        + varint_encode_scalar(zigzag_scalar(base))
        + varint_encode_scalar(w)
        + varint_encode_scalar(wm)
        + varint_encode_scalar(n_exc)
    )
    return streams


def runfor_size(streams: dict[int, bytes]) -> int:
    return sum(len(b) for b in streams.values())


def runfor_decode(
    streams: dict[int, bytes], n: int, start: int = 0, stop: int | None = None
) -> np.ndarray:
    """Values ``start..stop`` (default: all ``n``) of a runfor stream.

    Fixed-width literals are seekable by bit arithmetic: the literal
    index of row r is r minus the run coverage before r, so a window's
    literals are one ranged ``bit_unpack`` at offset_bits = la*w. Run side
    lists are tiny and decoded whole, then clipped to the window.
    """
    start, stop = max(0, int(start)), int(n) if stop is None else min(int(n), int(stop))
    m = stop - start
    if m <= 0:
        return np.empty(0, dtype=np.int64)
    meta = np.frombuffer(streams[META], dtype=np.uint8)
    n_runs, p = varint_decode_scalar(meta, 0)
    _n_lit, p = varint_decode_scalar(meta, p)
    zz, p = varint_decode_scalar(meta, p)
    base = zigzag_decode_scalar(zz)
    w, p = varint_decode_scalar(meta, p)
    wm, p = varint_decode_scalar(meta, p)
    n_exc, p = varint_decode_scalar(meta, p)

    la, lb = start, stop  # the window's literal index range
    if n_runs:
        r_pos = sorted_pos_decode(streams[RUN_POS], n_runs)
        r_len = rle_v2_decode(streams[RUN_LEN], n_runs, signed=False)
        r_val = rle_v2_decode(streams[RUN_VAL], n_runs, signed=True)
        # run coverage before a row r: sum over runs of overlap with [0, r)
        la -= int(np.minimum(np.maximum(start - r_pos, 0), r_len).sum())
        lb -= int(np.minimum(np.maximum(stop - r_pos, 0), r_len).sum())
        # the runs overlapping the window, clipped to it
        r_end = r_pos + r_len
        sel = (r_pos < stop) & (r_end > start)
        r_pos, r_end, r_val = r_pos[sel], r_end[sel], r_val[sel]
        r_pos = np.maximum(r_pos, start) - start
        r_len = np.minimum(r_end, stop) - start - r_pos

    if lb > la:
        lit = bit_unpack(streams[LIT], w, lb - la, offset_bits=la * w)
        if n_exc:
            epos = sorted_pos_decode(streams[EXC_POS], n_exc)
            e0, e1 = np.searchsorted(epos, la), np.searchsorted(epos, lb)
            if e1 > e0:
                high = bit_unpack(streams[EXC_HIGH], wm - w, e1 - e0, offset_bits=e0 * (wm - w))
                lit[epos[e0:e1] - la] |= high << np.uint64(w)
        lit = lit.view(np.int64)
        if base:
            lit += base
    else:
        lit = np.empty(0, dtype=np.int64)

    if not n_runs:
        return lit
    out = np.empty(m, dtype=np.int64)
    if len(r_pos) <= 4096:
        # few runs (the token-stream shape: runs are LONG, so there are
        # not many): literal gaps are contiguous in BOTH lit and out, so
        # assembly is 2 slice memcpys per run — ~6x faster than the
        # coverage-mask + two masked-scatter passes over all m values
        pos = lo = 0
        for p, ln, v in zip(r_pos.tolist(), r_len.tolist(), r_val.tolist()):
            gap = p - pos
            if gap:
                out[pos:p] = lit[lo : lo + gap]
                lo += gap
            out[p : p + ln] = v
            pos = p + ln
        if pos < m:
            out[pos:] = lit[lo:]
        return out
    covered = _coverage_mask(m, r_pos, r_len)
    out[covered] = np.repeat(r_val, r_len)
    out[~covered] = lit
    return out
