"""E2/D5-D8 — ORC RLEv2 integer encoding: SHORT_REPEAT, DIRECT, DELTA,
PATCHED_BASE, with zigzag for signed streams.

Semantics fixed by the ORC v1 spec; run-header layouts and mode-choice
outcomes verified against ORC-Java-written streams in SURVEY.md §4.3
(e.g. constant column -> DELTA width 0; random int64 -> DIRECT @64-bit;
1%-outlier column -> PATCHED_BASE 512-value runs). The reference crate
(/root/reference) consumes these streams via orc-rust (Cargo.toml:41).

Encoder strategy (the E9-adjacent run chooser, SURVEY.md §4.3 heuristic):
  1. segment the input into equal-value runs; runs of 32+ values are
     repeats, and so are runs of 3..31 when those cover >=25% of the
     values;
  2. repeats of 3..10 -> SHORT_REPEAT; longer ones -> fixed-delta-0 DELTA
     runs of <=512 values (never leaving a 1-value run);
  3. the gaps between repeats are literal regions, each cut into
     512-value chunks from its start: a region of <=64 values is one
     DIRECT run; otherwise monotone -> DELTA, p90 width below the max
     width with 1..31 outliers (a 1-in-4 sample gate, then an exact
     check that must beat DIRECT) -> PATCHED_BASE, else DIRECT.
Every step is a vector pass over all runs of a kind at once, never a
loop over regions or chunks: each kind builds the bytes of all its runs
(headers, varints and one bit-packing pass over the runs of mixed
widths) as keyed pieces, and one sort by stream position and one gather
assemble the stream. So the Python work per call is fixed, whatever the
number of regions.

Decode returns int64 in two passes. Pass 1 walks the run headers in one
scalar loop and records each run's kind, value count and payload
position; pass 2 decodes each run kind for all of its runs in one vector
pass (SHORT_REPEAT: one np.repeat; DIRECT and the bit-packed DELTA tails:
one MSB-first gather; DELTA: one segmented cumsum). So the Python work per
run is a few scalar steps, not a round of numpy calls. Invariants: the
final run is clamped to the requested count, DIRECT payloads are
MSB-first, the int64 wrap (unsigned values >= 2^63, DELTA sums) is exact,
and a run whose bytes pass the end of the buffer raises ValueError.
"""

from __future__ import annotations

import numpy as np

from datafusion_orc_spark.codecs.bitpack import (
    CLOSEST_TABLE,
    CODE_TABLE,
    WIDTH_TABLE,
    bit_pack,
    bit_unpack_runs,
    bit_widths,
    byte_windows,
    closest_fixed_width,
    decode_width,
)
from datafusion_orc_spark.codecs.varint import (
    varint_decode_scalar,
    varint_encode,
    zigzag_decode,
    zigzag_encode,
)

_MAX_RUN = 512
_MIN_REPEAT = 3
# Writer-side literal-split gate: only break a literal segment for equal
# runs of at least this length — UNLESS short runs cover a substantial
# fraction of the values (then SR/DELTA runs pay for themselves). The
# format happily bit-packs shorter runs as ordinary literal values;
# splitting at every 3-run fragments Zipf-like token streams into tens of
# thousands of tiny segments whose per-segment numpy overhead dominates
# encode time (measured: 16.4s -> 0.6s on 7.9M Zipf tokens for +0.01%
# size). Decoder semantics are unaffected either way.
_MIN_REPEAT_SPLIT = 32
_SHORT_RUN_COVERAGE = 0.25  # >=25% of values in runs of 3..31 -> split at 3
_MAX_SHORT_REPEAT = 10
_MAX_PATCHES = 31

# header tags (top 2 bits)
_SHORT_REPEAT = 0
_DIRECT = 1
_PATCHED_BASE = 2
_DELTA = 3
_KIND_NAMES = ("SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA")
_U64 = 1 << 64
_BYTE_WIDTHS = {8: np.uint8, 16: ">u2", 32: ">u4", 64: ">u8"}
_UNSIGNED = {np.int32: np.uint32, np.int64: np.uint64}
_I64_MIN = -(1 << 63)
# stream assembly joins byte slices when pieces average at least this many
# bytes (a slice costs about as much as gathering 64 bytes one by one)
_MIN_SLICE_BYTES = 64


def _gather(base: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Index array concatenating the spans [base[i], base[i] + counts[i])."""
    ends = counts.cumsum()
    return (base - (ends - counts)).repeat(counts) + np.arange(int(ends[-1]) if len(ends) else 0)


def _starts(counts: np.ndarray) -> np.ndarray:
    """Where each of consecutive spans of ``counts`` starts."""
    return counts.cumsum() - counts


def _unsigned64(vals: np.ndarray, signed: bool) -> np.ndarray:
    """The uint64 a run header carries for each value: zigzag when
    signed, else the int64 bit pattern."""
    sv = vals.astype(np.int64)
    return ((sv << 1) ^ (sv >> 63)).view(np.uint64) if signed else sv.view(np.uint64)


def _put_msb(blob: np.ndarray, at: np.ndarray, u: np.ndarray, nb: np.ndarray) -> None:
    """Write the low ``nb[i]`` bytes of each uint64 ``u[i]``, most
    significant first, into ``blob`` from byte ``at[i]``: one pass per
    byte position, so at most 8."""
    for k in range(int(nb.max())):
        m = nb > k
        blob[at[m] + k] = (u[m] >> (8 * (nb[m] - 1 - k)).astype(np.uint64)) & np.uint64(0xFF)


def _segment_max(vals: np.ndarray, seg: np.ndarray, k: int) -> np.ndarray:
    """Per-segment max of non-negative ``vals`` (0 for an empty segment)."""
    out = np.zeros(k, dtype=np.int64)
    np.maximum.at(out, seg, vals)
    return out


def _packed_pieces(
    key: np.ndarray, vals: np.ndarray, widths: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bit-pack piece i's ``counts[i]`` values (``vals`` is piece-major)
    MSB-first at ``widths[i]`` bits, each piece zero-padded to a byte, as
    pieces (keys, byte counts, bytes back to back). One :func:`bit_pack`
    when the pieces share a width and no pad falls inside; else pieces
    of up to 64 bits pack as words (:func:`_pack_words`), full 512-value
    pieces (which end on a byte) one width at a time, and the rest in
    mixed-width passes of up to ~2^22 bits each, which bounds the bit
    index of :func:`_pack_mixed`."""
    mbits = counts * widths
    nb = (mbits + 7) >> 3
    w = int(widths[0])
    if (widths == w).all() and not (mbits[:-1] & 7).any():
        return key, nb, np.frombuffer(bit_pack(vals, w), np.uint8)
    # group 0: pieces of one word; w > 0: full 512-value pieces of width
    # w; < 0: the rest, one group per ~2^22 bits (2^19 bytes)
    rest = (counts < _MAX_RUN) & (mbits > 64)
    block = _starts(np.where(rest, nb, 0)) >> 19
    group = np.where(mbits <= 64, 0, np.where(rest, -1 - block, widths))
    if (group[1:] < group[:-1]).any():
        order = np.argsort(group, kind="stable")
        vals = vals[_gather(_starts(counts)[order], counts[order])]
        key, nb, widths, counts, group = key[order], nb[order], widths[order], counts[order], group[order]
    cuts = [0, *(np.flatnonzero(group[1:] != group[:-1]) + 1).tolist(), len(group)]
    vcut = np.concatenate(([0], counts.cumsum()))[cuts].tolist()
    parts = []
    for a, b, va, vb in zip(cuts[:-1], cuts[1:], vcut[:-1], vcut[1:]):
        if group[a] > 0:
            parts.append(np.frombuffer(bit_pack(vals[va:vb], int(group[a])), np.uint8))
        elif group[a] == 0:
            parts.append(_pack_words(vals[va:vb], widths[a:b], counts[a:b], nb[a:b]))
        else:
            parts.append(_pack_mixed(vals[va:vb], widths[a:b], counts[a:b], nb[a:b]))
    return key, nb, parts[0] if len(parts) == 1 else np.concatenate(parts)


def _pack_words(
    vals: np.ndarray, widths: np.ndarray, counts: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """:func:`_packed_pieces` bytes for pieces of up to 64 bits: each
    piece is one uint64 word, its values shifted into place from the
    most significant bit, and its bytes are the word's first ``nb``."""
    pid = np.arange(len(counts)).repeat(counts)
    shift = 64 - (np.arange(1, len(vals) + 1) - _starts(counts)[pid]) * widths[pid]
    word = np.add.reduceat(vals.astype(np.uint64) << shift.astype(np.uint64), _starts(counts))
    return word.astype(">u8").view(np.uint8)[_gather(8 * np.arange(len(counts)), nb)]


def _pack_mixed(
    vals: np.ndarray, widths: np.ndarray, counts: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """:func:`_packed_pieces` bytes for pieces of any widths and sizes:
    each piece's values, then a zero row as wide as its pad, as rows of
    a bit matrix; one gather keeps each row's own low bits."""
    k = len(counts)
    rows = len(vals) + k
    x = np.zeros(rows, dtype=np.uint64)
    w = np.empty(rows, dtype=np.int64)
    at = np.arange(len(vals)) + np.arange(k).repeat(counts)
    x[at] = vals
    w[at] = widths.repeat(counts)
    w[counts.cumsum() + np.arange(k)] = (nb << 3) - counts * widths
    wb = (int(widths.max()) + 7) >> 3
    # the low wb bytes of each row, most significant first
    bits = np.unpackbits(np.ascontiguousarray(x.view(np.uint8).reshape(rows, 8)[:, wb - 1 :: -1]))
    return np.packbits(bits[_gather(8 * wb * np.arange(1, rows + 1) - w, w)])


def _repeat_pieces(v: np.ndarray, starts: np.ndarray, lens: np.ndarray, signed: bool) -> list[tuple]:
    """The runs of every repeat, one piece each: SHORT_REPEAT for 3..10
    values, else fixed-delta-0 DELTA runs of up to 512 values. No run of
    1 value is left (DELTA needs 2): 513 left over split 511 + 2."""
    u = _unsigned64(v[starts], signed)
    cnt, pos = lens, starts
    if (lens > _MAX_RUN).any():  # long runs: 512-value pieces, then the rest
        full = (lens - 2) // _MAX_RUN
        rem = lens - _MAX_RUN * full  # 2..513
        npc = full + 1 + (rem > _MAX_RUN)
        rid = np.arange(len(lens)).repeat(npc)
        k = np.arange(len(rid)) - _starts(npc).repeat(npc)
        fr, rem = full[rid], rem[rid]
        cnt = np.where(k < fr, _MAX_RUN, np.where(k > fr, 2, rem - 2 * (rem > _MAX_RUN)))
        pos = starts[rid] + _MAX_RUN * np.minimum(k, fr) + (_MAX_RUN - 1) * (k > fr)
        u = u[rid]
    bits = bit_widths(u)
    sr = (cnt >= _MIN_REPEAT) & (cnt <= _MAX_SHORT_REPEAT)
    wb = (bits + 7) >> 3  # SHORT_REPEAT value bytes
    vlen = (bits + 6) // 7  # DELTA base varint bytes
    nb = np.where(sr, 1 + wb, 3 + vlen)
    off = _starts(nb)
    blob = np.zeros(int(nb.sum()), dtype=np.uint8)
    blob[off] = np.where(
        sr, (_SHORT_REPEAT << 6) | ((wb - 1) << 3) | (cnt - 3), (_DELTA << 6) | ((cnt - 1) >> 8)
    )
    if sr.any():
        _put_msb(blob, off[sr] + 1, u[sr], wb[sr])
    cd = ~sr
    if cd.any():
        blob[off[cd] + 1] = (cnt[cd] - 1) & 0xFF
        blob[_gather(off[cd] + 2, vlen[cd])] = np.frombuffer(varint_encode(u[cd]), np.uint8)
        # the last byte stays 0: varint(zigzag(0)), the fixed delta
    return [(4 * pos, nb, blob)]


def _p90_widths(seg: np.ndarray, widths: np.ndarray, sizes: np.ndarray) -> tuple:
    """Per segment of ``sizes`` values, from their bit ``widths``: the
    cumulative width histogram, the p90 width (the smallest table width
    covering >=90% of the values) and the max table width."""
    k = len(sizes)
    hist = np.bincount(seg * 65 + widths, minlength=k * 65).reshape(k, 65)
    cum = hist.cumsum(axis=1)
    w90 = CLOSEST_TABLE[np.argmax(cum >= (-(-9 * sizes // 10))[:, None], axis=1)]
    wmax = CLOSEST_TABLE[np.max(np.where(hist > 0, np.arange(65), 0), axis=1)]
    return cum, w90, wmax


def _pb_sample_gate(vl: np.ndarray, cs: np.ndarray, m: np.ndarray, mn: np.ndarray) -> np.ndarray:
    """Advisory PATCHED_BASE gate on every 4th value of each candidate
    chunk: the sampled p90 width is below the sampled max width, and the
    sample scaled up has 1..62 patches. The exact check decides."""
    ns = (m + 3) >> 2
    sid = np.arange(len(cs)).repeat(ns)
    soff = 4 * (np.arange(len(sid)) - _starts(ns).repeat(ns))
    red = (vl[cs.repeat(ns) + soff] - mn[sid]).view(_UNSIGNED[vl.dtype.type])
    cum, w90, wmax = _p90_widths(sid, bit_widths(red), ns)
    patches = (ns - cum[np.arange(len(cs)), w90]) * 4
    return (w90 < wmax) & (patches >= 1) & (patches <= 2 * _MAX_PATCHES)


def _patched_base_pieces(
    vl: np.ndarray, cs: np.ndarray, m: np.ndarray, mn: np.ndarray, wd: np.ndarray, pos: np.ndarray
) -> tuple[np.ndarray, list[tuple]]:
    """The exact PATCHED_BASE check of every candidate chunk, and the
    pieces of the runs that pass (no zigzag: the chunk minimum is the
    base).

    A chunk passes when its p90 width is below its max width, 1..31
    values are wider, no gap between patches exceeds 255, a patch entry
    fits 64 bits, and the run is smaller than DIRECT at width ``wd``.
    Returns the pass mask and the pieces."""
    k = len(cs)
    cid = np.arange(k).repeat(m)
    red = (vl[_gather(cs, m)] - mn[cid]).view(_UNSIGNED[vl.dtype.type])
    widths = bit_widths(red)
    _, w90, wmax = _p90_widths(cid, widths, m)
    w90 = w90.astype(np.int64)
    pidx = np.flatnonzero(widths > w90[cid])
    pc = cid[pidx]
    npatch = np.bincount(pc, minlength=k)
    gaps = pidx - _starts(m)[pc]
    same = np.flatnonzero(pc[1:] == pc[:-1]) + 1
    gaps[same] = pidx[same] - pidx[same - 1]
    pv = red[pidx].astype(np.uint64) >> w90[pc].astype(np.uint64)
    pw = CLOSEST_TABLE[_segment_max(bit_widths(pv), pc, k)].astype(np.int64)
    pgw = np.maximum(_segment_max(bit_widths(gaps.astype(np.uint64)), pc, k), 1)
    comb = CLOSEST_TABLE[np.minimum(pgw + pw, 64)].astype(np.int64)
    mag = np.abs(mn.astype(np.int64)).view(np.uint64)
    bw = (bit_widths(mag) + 8) >> 3  # base bytes, with a sign bit
    ok = (
        (w90 < wmax) & (npatch >= 1) & (npatch <= _MAX_PATCHES)
        & (_segment_max(gaps, pc, k) <= 255) & (pgw + pw <= 64)
        & (4 + bw + (m * w90 + 7 >> 3) + (npatch * comb + 7 >> 3) < 2 + (m * wd + 7 >> 3))
    )
    if not ok.any():
        return ok, []
    sign = np.where(mn[ok] < 0, np.uint64(1) << (8 * bw[ok] - 1).astype(np.uint64), np.uint64(0))
    m, w90, pw, pgw, comb, bw, npatch, pos = (a[ok] for a in (m, w90, pw, pgw, comb, bw, npatch, pos))
    off = _starts(4 + bw)
    head = np.zeros(int(off[-1] + 4 + bw[-1]), dtype=np.uint8)
    head[off] = (_PATCHED_BASE << 6) | (CODE_TABLE[w90] << 1) | ((m - 1) >> 8)
    head[off + 1] = (m - 1) & 0xFF
    head[off + 2] = ((bw - 1) << 5) | CODE_TABLE[pw]
    head[off + 3] = ((pgw - 1) << 5) | npatch
    _put_msb(head, off + 4, mag[ok] | sign, bw)
    data = red[ok[cid]] & ((np.uint64(1) << w90.astype(np.uint64)) - np.uint64(1)).repeat(m)
    pid = np.arange(len(m)).repeat(npatch)
    entries = (gaps[ok[pc]].astype(np.uint64) << pw[pid].astype(np.uint64)) | pv[ok[pc]]
    return ok, [
        (4 * pos, 4 + bw, head),
        _packed_pieces(4 * pos + 1, data, w90, m),
        _packed_pieces(4 * pos + 2, entries, comb, npatch),
    ]


def _delta_pieces(
    vl: np.ndarray, d: np.ndarray, cs: np.ndarray, m: np.ndarray, signed: bool, pos: np.ndarray
) -> list[tuple]:
    """The pieces of the DELTA runs of monotone chunks: base, first
    delta, then the magnitudes of the other deltas bit-packed (none when
    every delta is equal). Width 1 is the header's "fixed" mark, so 1-bit
    magnitudes pack at 2."""
    dm = m - 1
    dd = d[_gather(cs, dm)]  # every chunk's deltas, chunk-major
    loc = _starts(dm)
    fixed = np.maximum.reduceat(dd, loc) == np.minimum.reduceat(dd, loc)
    ubase = _unsigned64(vl[cs], signed)
    ud0 = _unsigned64(dd[loc], True)
    nb_base = (bit_widths(ubase) + 6) // 7  # varint byte counts
    nb_d0 = (bit_widths(ud0) + 6) // 7
    tail = np.ones(len(dd), dtype=bool)
    tail[loc] = False
    mags = np.abs(dd[tail]).astype(np.uint64)
    mcnt = dm - 1
    mloc = _starts(mcnt)
    wch = CLOSEST_TABLE[bit_widths(np.maximum.reduceat(mags, mloc))].astype(np.int64)
    wch[wch == 1] = 2
    nb = 2 + nb_base + nb_d0
    off = _starts(nb)
    head = np.zeros(int(nb.sum()), dtype=np.uint8)
    head[off] = (_DELTA << 6) | (np.where(fixed, 0, CODE_TABLE[wch]) << 1) | ((m - 1) >> 8)
    head[off + 1] = (m - 1) & 0xFF
    head[_gather(off + 2, nb_base)] = np.frombuffer(varint_encode(ubase), np.uint8)
    head[_gather(off + 2 + nb_base, nb_d0)] = np.frombuffer(varint_encode(ud0), np.uint8)
    pieces = [(4 * pos, nb, head)]
    packed = ~fixed
    if packed.any():
        if not packed.all():
            mags = mags[_gather(mloc[packed], mcnt[packed])]
        pieces.append(_packed_pieces(4 * pos[packed] + 1, mags, wch[packed], mcnt[packed]))
    return pieces


def _literal_pieces(v: np.ndarray, lo: np.ndarray, hi: np.ndarray, signed: bool) -> list[tuple]:
    """The pieces of the runs of every literal region [lo[r], hi[r]),
    each region cut into 512-value chunks from its start. A chunk of a region over 64 values
    whose span is below 2^62 is DELTA when it is monotone (in the
    direction of its first delta), else PATCHED_BASE when the sample gate
    and the exact check pass; every other chunk is DIRECT."""
    rlen = hi - lo
    # the literal values, region after region: every chunk is a slice
    vl = v if rlen[0] == len(v) else v[_gather(lo, rlen)]
    cs, pos, m = _starts(rlen), lo, rlen  # chunk starts in vl and in v, sizes
    big = rlen > 64  # a region of <=64 values is one DIRECT run
    if (rlen > _MAX_RUN).any():
        nch = (rlen + _MAX_RUN - 1) // _MAX_RUN
        rid = np.arange(len(lo)).repeat(nch)
        k = _MAX_RUN * (np.arange(len(rid)) - _starts(nch).repeat(nch))
        cs, pos, big = cs[rid] + k, pos[rid] + k, big[rid]
        m = np.minimum(rlen[rid] - k, _MAX_RUN)
    cmin = np.minimum.reduceat(vl, cs)
    cmax = np.maximum.reduceat(vl, cs)
    ul = zigzag_encode(vl) if signed else vl.view(_UNSIGNED[vl.dtype.type])
    if signed:  # the max zigzag value of a chunk is at its min or its max
        umax = np.maximum(_unsigned64(cmin, True), _unsigned64(cmax, True))
    else:
        umax = np.maximum.reduceat(ul, cs)
    wd = CLOSEST_TABLE[bit_widths(umax)].astype(np.int64)
    direct = np.ones(len(cs), dtype=bool)
    pieces = []
    if big.any():
        span = cmax.astype(np.int64) - cmin.astype(np.int64)  # wraps past 2^63
        fits = big & (span >= 0) & (span < (1 << 62))
        d = vl[1:] - vl[:-1]
        # a chunk is monotone when no delta inside it has the wrong sign;
        # the delta across each chunk boundary is masked out
        down = np.zeros(len(vl), dtype=bool)
        up = np.zeros(len(vl), dtype=bool)
        np.less(d, 0, out=down[:-1])
        np.greater(d, 0, out=up[:-1])
        down[cs[1:] - 1] = up[cs[1:] - 1] = False
        d0 = d[np.minimum(cs, len(d) - 1)]
        mono = ~np.logical_or.reduceat(down, cs) | (~np.logical_or.reduceat(up, cs) & (d0 < 0))
        delta = fits & (m >= 3) & mono
        if delta.any():
            pieces += _delta_pieces(vl, d, cs[delta], m[delta], signed, pos[delta])
            direct &= ~delta
        cand = np.flatnonzero(fits & ~delta & (m >= 16) & (cmin != _I64_MIN))
        if len(cand):
            cand = cand[_pb_sample_gate(vl, cs[cand], m[cand], cmin[cand])]
        if len(cand):
            ok, pb = _patched_base_pieces(vl, cs[cand], m[cand], cmin[cand], wd[cand], pos[cand])
            pieces += pb
            direct[cand[ok]] = False
    if direct.any():
        if not direct.all():
            cs, m, wd, pos = cs[direct], m[direct], wd[direct], pos[direct]
            ul = ul[_gather(cs, m)]
        head = np.empty((len(m), 2), dtype=np.uint8)
        head[:, 0] = (_DIRECT << 6) | (CODE_TABLE[wd] << 1) | ((m - 1) >> 8)
        head[:, 1] = (m - 1) & 0xFF
        pieces.append((4 * pos, np.full(len(m), 2), head.reshape(-1)))
        pieces.append(_packed_pieces(4 * pos + 1, ul, wd, m))
    return pieces


def rle_v2_encode(vals: np.ndarray, signed: bool = True) -> bytes:
    """Encode an int array as a concatenation of RLEv2 runs.

    int32 input runs the whole pipeline in 32-bit (half the memory
    traffic — tokens are array<int32>); it promotes to int64 only when
    the value span could overflow 32-bit delta arithmetic.

    Each run kind builds the bytes of all its runs at once, as pieces
    (sort keys, byte counts, the bytes back to back): a run's header and
    then its packed sections, keyed 4 x its first value's stream
    position + 0, 1, 2. One sort by key and one copy (a byte gather, or a
    slice join when pieces are long) assemble the stream.

    Unsigned, a negative value is written as its uint64 bit pattern, so
    it decodes back to itself. The 32-bit pipeline would write DIRECT
    runs with its 32-bit pattern instead (-1 decoded as 2**32 - 1 there
    and as -1 in a SHORT_REPEAT run), so unsigned int32 input holding a
    negative value is promoted too.
    """
    if vals.dtype == np.int32 and len(vals):
        v = np.ascontiguousarray(vals)
        vmin = int(v.min())
        if int(v.max()) - vmin >= (1 << 31) or (vmin < 0 and not signed):
            v = v.astype(np.int64)  # diffs would wrap in int32
    else:
        v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return b""
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(v[1:], v[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    lens = np.empty(len(starts), dtype=np.int64)
    lens[:-1] = starts[1:] - starts[:-1]
    lens[-1] = n - starts[-1]
    rep = lens >= _MIN_REPEAT_SPLIT
    if not rep.all():
        short = (lens >= _MIN_REPEAT) & ~rep
        if int(lens[short].sum()) >= _SHORT_RUN_COVERAGE * n:
            rep |= short  # run-dominated data: SR runs pay off
    pieces = []
    if rep.any():
        starts, lens = starts[rep], lens[rep]
        pieces += _repeat_pieces(v, starts, lens, signed)
        lo = np.concatenate(([0], starts + lens))
        hi = np.append(starts, n)
        lo, hi = lo[hi > lo], hi[hi > lo]
    else:
        lo, hi = np.zeros(1, dtype=np.int64), np.full(1, n)
    if len(lo):
        pieces += _literal_pieces(v, lo, hi, signed)
    if len(pieces) == 1:
        return pieces[0][2].tobytes()
    key, nb, src = (np.concatenate(p) for p in zip(*pieces))
    order = np.argsort(key, kind="stable")  # merges the kinds' sorted keys
    at, nb = _starts(nb)[order], nb[order]
    if len(nb) * _MIN_SLICE_BYTES > len(src):  # short pieces: one byte gather
        return src[_gather(at, nb)].tobytes()
    # long pieces (the bulk of a wide stream): join slices, no byte index
    view = memoryview(src)
    return b"".join(map(view.__getitem__, map(slice, at.tolist(), (at + nb).tolist())))


def _truncated(kind: str, pos: int, size: int) -> ValueError:
    return ValueError(
        f"truncated RLEv2 stream: {kind} run at byte {pos} runs past the end of the {size}-byte buffer"
    )


def _unpack_one(raw: np.ndarray, stop: int, byte0: int, width: int, cnt: int) -> np.ndarray:
    """:func:`bit_unpack_runs` for a single run; a byte-aligned one is a
    direct slice of ``raw``."""
    if width in _BYTE_WIDTHS:
        return raw[byte0 : byte0 + cnt * (width >> 3)].view(_BYTE_WIDTHS[width]).astype(np.uint64)
    return bit_unpack_runs(byte_windows(raw, stop), (byte0,), (width,), (cnt,))


def _patched_base_run(raw: np.ndarray, win: np.ndarray, pos: int, take: int) -> np.ndarray:
    """The first ``take`` values of the PATCHED_BASE run at byte ``pos``
    (rare: decoded one run at a time)."""
    header = int(raw[pos])
    w = decode_width((header >> 1) & 0x1F)
    length = (((header & 1) << 8) | int(raw[pos + 1])) + 1
    b3 = int(raw[pos + 2])
    bw = (b3 >> 5) + 1
    pw = decode_width(b3 & 0x1F)
    b4 = int(raw[pos + 3])
    pgw = (b4 >> 5) + 1
    pl = b4 & 0x1F
    p = pos + 4
    base_field = int.from_bytes(raw[p : p + bw].tobytes(), "big")
    sign_mask = 1 << (bw * 8 - 1)
    base = -(base_field & ~sign_mask) if base_field & sign_mask else base_field
    p += bw
    data = bit_unpack_runs(win, (p,), (w,), (length,))
    p += (length * w + 7) // 8
    entries = bit_unpack_runs(win, (p,), (closest_fixed_width(pgw + pw),), (pl,))
    gaps = (entries >> np.uint64(pw)).astype(np.int64)
    patch_vals = entries & ((np.uint64(1) << np.uint64(pw)) - np.uint64(1))
    data[np.cumsum(gaps)] |= patch_vals << np.uint64(w)
    return (data.view(np.int64) + base)[:take]


def _delta_runs(
    base: list[int], d0: list[int], take, tail, mags: np.ndarray | None
) -> np.ndarray:
    """The first ``take[r]`` values of each DELTA run, run-major: a
    segmented ``cumsum`` of the steps [base, d0, d0 or +-magnitude, ...],
    whose int64 wrap is exact. ``tail`` indexes the runs with a
    bit-packed tail; ``mags`` holds those magnitudes run-major, each run
    taking the sign of its ``d0``."""
    if len(base) == 1:
        steps = np.full(int(take[0]), d0[0], dtype=np.int64)
        steps[0] = base[0]
        if mags is not None:
            m = mags.view(np.int64)
            steps[2:] = -m if d0[0] < 0 else m
        return np.cumsum(steps)
    base_a = np.array(base, dtype=np.int64)
    d0_a = np.array(d0, dtype=np.int64)
    first = np.cumsum(take) - take
    steps = np.repeat(d0_a, take)
    steps[first] = base_a
    if mags is not None:
        cnt = take[tail] - 2
        m = mags.view(np.int64)
        steps[_gather(first[tail] + 2, cnt)] = np.where(np.repeat(d0_a[tail] < 0, cnt), -m, m)
    sums = np.cumsum(steps)
    return sums - np.repeat(sums[first] - base_a, take)


def rle_v2_decode(buf: bytes | memoryview | np.ndarray, n: int | None, signed: bool = True) -> np.ndarray:
    """Decode ``n`` values from a concatenation of RLEv2 runs -> int64;
    ``n=None`` decodes every run in ``buf``.

    Two passes. Pass 1 walks the run headers in one scalar loop over the
    bytes and records, per run, its kind and ``take`` plus the
    SHORT_REPEAT value, the DIRECT payload's byte offset and width, or
    the DELTA base, first delta and packed-tail offset and width; it
    does no numpy work. Pass 2 decodes each run kind for all its runs at
    once: SHORT_REPEAT is one ``np.repeat``; DIRECT values and DELTA tail
    magnitudes are one MSB-first gather (:func:`bit_unpack_runs`); DELTA is
    a segmented ``cumsum``; PATCHED_BASE, rare, decodes run by run. A
    one-run stream (short ORC-Java streams, row-group seeks) decodes
    straight from its run, so the fixed cost per call stays small.

    Invariants:
      - the final run is CLAMPED to ``n``: a bounded decode that starts
        mid-stream (ROW_INDEX positional seek) may stop inside a run;
      - DIRECT payloads are MSB-first, each run starting on a byte;
      - the int64 wrap is exact: unsigned values >= 2^63 come back as
        their int64 bit pattern, and DELTA sums wrap modulo 2^64 exactly
        as a per-run ``cumsum`` does;
      - every run's bytes must lie inside ``buf``: a truncated stream
        raises ``ValueError`` naming the run's kind and byte offset.
    """
    if n is not None and n <= 0:
        return np.empty(n, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)  # signed memoryviews read as uint8
    data = memoryview(raw)
    size = len(raw)
    widths = WIDTH_TABLE
    kinds: list[int] = []
    takes: list[int] = []
    sr_vals: list[int] = []
    d_byte: list[int] = []
    d_w: list[int] = []
    dl_base: list[int] = []
    dl_d0: list[int] = []
    dl_byte: list[int] = []
    dl_w: list[int] = []  # 0: fixed delta, no packed tail
    pb_pos: list[int] = []
    pos = filled = 0
    limit = n if n is not None else 1 << 62  # n=None: the loop ends at the end of buf
    try:
        while filled < limit:
            h = data[pos]
            tag = h >> 6
            if tag == _SHORT_REPEAT:
                end = pos + 2 + ((h >> 3) & 7)
                if end > size:
                    raise _truncated(_KIND_NAMES[tag], pos, size)
                u = data[pos + 1] if end == pos + 2 else int.from_bytes(data[pos + 1 : end], "big")
                if signed:
                    sr_vals.append((u >> 1) ^ -(u & 1))
                else:
                    sr_vals.append(u - _U64 if u >> 63 else u)  # int64 wrap
                length = (h & 7) + 3
            else:
                length = (((h & 1) << 8) | data[pos + 1]) + 1
                wc = (h >> 1) & 0x1F
                w = widths[wc]
                p = pos + 2
                if tag == _DIRECT:
                    end = p + (length * w + 7) // 8
                    d_byte.append(p)
                    d_w.append(w)
                elif tag == _DELTA:
                    u, p = varint_decode_scalar(data, p)
                    if signed:
                        dl_base.append((u >> 1) ^ -(u & 1))
                    else:
                        dl_base.append(u - _U64 if u >> 63 else u)  # int64 wrap
                    u, p = varint_decode_scalar(data, p)
                    dl_d0.append((u >> 1) ^ -(u & 1))
                    dl_byte.append(p)
                    if wc and length > 2:
                        dl_w.append(w)
                        end = p + ((length - 2) * w + 7) // 8
                    else:
                        dl_w.append(0)
                        end = p
                else:  # PATCHED_BASE: size the run here, decode it in pass 2
                    b3 = data[p]
                    b4 = data[p + 1]
                    pgw_pw = (b4 >> 5) + 1 + widths[b3 & 0x1F]
                    if pgw_pw > 64:
                        raise ValueError(
                            f"corrupt RLEv2 stream: PATCHED_BASE run at byte {pos} has "
                            f"{pgw_pw}-bit patch entries"
                        )
                    end = (
                        p + 2 + (b3 >> 5) + 1 + (length * w + 7) // 8
                        + ((b4 & 0x1F) * closest_fixed_width(pgw_pw) + 7) // 8
                    )
                    pb_pos.append(pos)
                if end > size:
                    raise _truncated(_KIND_NAMES[tag], pos, size)
            kinds.append(tag)
            takes.append(length)
            filled += length
            pos = end
    except IndexError:  # a header or varint byte lies past the end
        if n is not None or pos < size:
            raise _truncated(_KIND_NAMES[data[pos] >> 6] if pos < size else "header of a", pos, size) from None
        if not filled:  # n=None: a header read at the end of buf is the normal end
            return np.empty(0, dtype=np.int64)
        n = filled
    takes[-1] -= filled - n  # clamp the final run to n

    # ---- pass 2: one vector pass per run kind ----
    if len(takes) == 1:  # one run (short ORC-Java streams, row-group seeks)
        if sr_vals:
            out = np.empty(takes[0], dtype=np.int64)
            out.fill(sr_vals[0])
            return out
        if d_byte:
            u = _unpack_one(raw, pos, d_byte[0], d_w[0], takes[0])
            return zigzag_decode(u) if signed else u.view(np.int64)
        if dl_base:
            tail = [0] if dl_w[0] and takes[0] > 2 else []
            mags = _unpack_one(raw, pos, dl_byte[0], dl_w[0], takes[0] - 2) if tail else None
            return _delta_runs(dl_base, dl_d0, takes, tail, mags)
        return _patched_base_run(raw, byte_windows(raw, pos), pb_pos[0], takes[0])
    takes_a = np.array(takes, dtype=np.int64)
    n_kinds = bool(sr_vals) + bool(d_byte) + bool(dl_base) + bool(pb_pos)
    kinds_a = np.array(kinds, dtype=np.int8) if n_kinds > 1 else None

    def kind_takes(k: int) -> np.ndarray:
        return takes_a if kinds_a is None else takes_a[kinds_a == k]

    parts: list[tuple[int, np.ndarray]] = []
    if sr_vals:
        sr = np.array(sr_vals, dtype=np.int64)
        parts.append((_SHORT_REPEAT, np.repeat(sr, kind_takes(_SHORT_REPEAT))))

    # DIRECT values and DELTA tail magnitudes share one gather
    segs = []
    if d_byte:
        d_take = kind_takes(_DIRECT)
        segs.append((np.array(d_byte, dtype=np.int64), np.array(d_w, dtype=np.int64), d_take))
    if dl_base:
        dl_take = kind_takes(_DELTA)
        dl_w_a = np.array(dl_w, dtype=np.int64)
        tail = np.flatnonzero((dl_w_a > 0) & (dl_take > 2))
        if len(tail):
            segs.append((np.array(dl_byte, dtype=np.int64)[tail], dl_w_a[tail], dl_take[tail] - 2))
    win = byte_windows(raw, pos) if segs or pb_pos else None
    if segs:
        cols = segs[0] if len(segs) == 1 else map(np.concatenate, zip(*segs))
        packed = bit_unpack_runs(win, *cols)
    nd = 0
    if d_byte:
        nd = int(d_take.sum())
        u = packed[:nd]
        parts.append((_DIRECT, zigzag_decode(u) if signed else u.view(np.int64)))
    if dl_base:
        mags = packed[nd:] if len(tail) else None
        parts.append((_DELTA, _delta_runs(dl_base, dl_d0, dl_take, tail, mags)))
    if pb_pos:
        pb_take = kind_takes(_PATCHED_BASE).tolist()
        runs = [_patched_base_run(raw, win, p, t) for p, t in zip(pb_pos, pb_take)]
        parts.append((_PATCHED_BASE, np.concatenate(runs)))

    if kinds_a is None:
        return parts[0][1]
    out = np.empty(n, dtype=np.int64)
    at = np.repeat(kinds_a, takes_a)
    for k, vals in parts:
        out[at == k] = vals
    return out
