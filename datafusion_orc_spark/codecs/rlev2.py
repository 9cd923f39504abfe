"""E2/D5-D8 — ORC RLEv2 integer encoding: SHORT_REPEAT, DIRECT, DELTA,
PATCHED_BASE, with zigzag for signed streams.

Semantics fixed by the ORC v1 spec; run-header layouts and mode-choice
outcomes verified against ORC-Java-written streams in SURVEY.md §4.3
(e.g. constant column -> DELTA width 0; random int64 -> DIRECT @64-bit;
1%-outlier column -> PATCHED_BASE 512-value runs). The reference crate
(/root/reference) consumes these streams via orc-rust (Cargo.toml:41).

Encoder strategy (the E9-adjacent run chooser, SURVEY.md §4.3 heuristic):
  1. segment the input into equal-value runs (vectorized);
  2. runs of 3..10 -> SHORT_REPEAT; runs >10 -> DELTA with fixed delta 0;
  3. everything else forms literal segments, chunked to <=512 values:
     monotonic -> DELTA; p90-width << max-width with <=31 outliers ->
     PATCHED_BASE; else DIRECT.

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
    WIDTH_TABLE,
    bit_pack,
    bit_unpack_runs,
    bit_widths,
    byte_windows,
    closest_fixed_width,
    decode_width,
    width_code,
)
from datafusion_orc_spark.codecs.varint import (
    varint_decode_scalar,
    varint_encode,
    varint_encode_scalar,
    zigzag_decode,
    zigzag_encode,
    zigzag_scalar,
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


def _msb_bytes(value: int, nbytes: int) -> bytes:
    return int(value).to_bytes(nbytes, "big")


def _encode_short_repeat(out: bytearray, value: int, count: int, signed: bool) -> None:
    # unsigned streams may carry int64 bit patterns of negative values
    # (ORC timestamp SECONDARY with signed nanos): emit the uint64 pattern
    u = zigzag_scalar(value) if signed else (int(value) & 0xFFFFFFFFFFFFFFFF)
    w = max(1, (u.bit_length() + 7) // 8)
    out.append((_SHORT_REPEAT << 6) | ((w - 1) << 3) | (count - 3))
    out.extend(_msb_bytes(u, w))


def _encode_direct(out: bytearray, vals: np.ndarray, signed: bool, u: np.ndarray | None = None) -> None:
    if u is None:
        if signed:
            u = zigzag_encode(vals)
        else:
            u = vals.view(np.uint32 if vals.dtype == np.int32 else np.uint64)
    w = closest_fixed_width(max(1, int(u.max()).bit_length()))
    n = len(vals)
    out.append((_DIRECT << 6) | (width_code(w) << 1) | ((n - 1) >> 8))
    out.append((n - 1) & 0xFF)
    out.extend(bit_pack(u, w))


def _try_encode_patched_base(
    out: bytearray, vals: np.ndarray, signed: bool, wd: int | None = None
) -> bool:
    """PATCHED_BASE (no zigzag; min-subtraction makes values non-negative).

    Returns False when the shape doesn't profit (caller falls back to
    DIRECT). Mirrors ORC-Java's p90 width heuristic (SURVEY.md §4.3).
    ``wd``: precomputed DIRECT width of the chunk (skips the zigzag +
    width re-scan for the size comparison).
    """
    n = len(vals)
    mn = int(vals.min())
    if mn == -(1 << 63):  # |base| unrepresentable with sign-bit layout
        return False
    u_dt = np.uint32 if vals.dtype == np.int32 else np.uint64
    with np.errstate(over="ignore"):
        reduced = (vals - vals.dtype.type(mn)).view(u_dt)
    widths = bit_widths(reduced)
    wmax = closest_fixed_width(int(widths.max()))
    # p90 width = smallest w covering >=90% of values (bincount, no interpolation)
    cum = np.cumsum(np.bincount(widths, minlength=65))
    w90 = closest_fixed_width(int(np.argmax(cum >= -(-9 * n // 10))))
    if w90 >= wmax:
        return False
    patch_idx = np.flatnonzero(widths > w90)
    if not (0 < len(patch_idx) <= _MAX_PATCHES):
        return False
    gaps = np.diff(patch_idx, prepend=0)
    gaps[0] = patch_idx[0]
    if int(gaps.max()) > 255:
        return False  # would need dummy patches; DIRECT instead
    patch_vals = reduced[patch_idx] >> np.uint64(w90)
    pw = closest_fixed_width(int(bit_widths(patch_vals).max()))
    pgw = max(1, int(bit_widths(gaps.astype(np.uint64)).max()))
    if pgw + pw > 64:
        return False
    combined = closest_fixed_width(pgw + pw)
    mag = -mn if mn < 0 else mn
    bw = max(1, (mag.bit_length() + 1 + 7) // 8)
    if bw > 8:
        return False
    # size check vs DIRECT
    pb_size = 4 + bw + (n * w90 + 7) // 8 + (len(patch_idx) * combined + 7) // 8
    if wd is None:
        u_direct = zigzag_encode(vals) if signed else vals.astype(np.uint64)
        wd = closest_fixed_width(int(bit_widths(u_direct).max()))
    if pb_size >= 2 + (n * wd + 7) // 8:
        return False

    data = reduced & ((np.uint64(1) << np.uint64(w90)) - np.uint64(1)) if w90 < 64 else reduced
    entries = (gaps.astype(np.uint64) << np.uint64(pw)) | patch_vals
    out.append((_PATCHED_BASE << 6) | (width_code(w90) << 1) | ((n - 1) >> 8))
    out.append((n - 1) & 0xFF)
    out.append(((bw - 1) << 5) | width_code(pw))
    out.append(((pgw - 1) << 5) | len(patch_idx))
    base_field = mag | (1 << (bw * 8 - 1)) if mn < 0 else mag
    out.extend(_msb_bytes(base_field, bw))
    out.extend(bit_pack(data, w90))
    out.extend(bit_pack(entries, combined))
    return True


def _group_bitpack(
    vals: np.ndarray, counts: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray]:
    """Pack ``counts[i]`` consecutive values per chunk at ``width`` bits,
    each chunk zero-padded to a byte boundary — byte-identical to
    per-chunk :func:`bit_pack` but one vectorized pass for the whole
    group. Returns (bytes array chunk-major, per-chunk byte counts)."""
    bcount = (counts * width + 7) // 8
    tot = int(counts.sum())
    if width % 8 == 0 and width in (8, 16, 32, 64):
        be = {8: np.uint8, 16: ">u2", 32: ">u4", 64: ">u8"}[width]
        return vals.astype(be).view(np.uint8), bcount
    wb = (width + 7) // 8
    isz = vals.dtype.itemsize
    bemat = np.ascontiguousarray(vals.view(np.uint8).reshape(tot, isz)[:, wb - 1 :: -1])
    flat = np.ascontiguousarray(
        np.unpackbits(bemat.reshape(-1)).reshape(tot, wb * 8)[:, wb * 8 - width :]
    ).reshape(-1)
    # values are chunk-major, so each chunk's bits are a CONTIGUOUS span
    # of the flat matrix; per-chunk packbits zero-pads the final partial
    # byte exactly like per-chunk bit_pack. (A bit-level fancy-index
    # scatter into padded blocks was ~100x slower at group scale —
    # latency-bound, plus GB-sized index temporaries.)
    mbits = counts * width
    if not (mbits % 8).any():
        return np.packbits(flat), bcount  # no per-chunk pad: one call
    bit_off = np.cumsum(mbits) - mbits
    parts = [
        np.packbits(flat[o : o + c])
        for o, c in zip(bit_off.tolist(), mbits.tolist())
    ]
    return np.concatenate(parts), bcount


def _gather(base: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Index array concatenating [base[i], base[i]+counts[i]) spans."""
    tot = int(counts.sum())
    return np.repeat(base, counts) + (
        np.arange(tot) - np.repeat(np.cumsum(counts) - counts, counts)
    )


def _plan_literals(
    v: np.ndarray, u: np.ndarray, d: np.ndarray, regions: np.ndarray, signed: bool
) -> dict:
    """Chunk + mode planning for ALL literal regions of one stream in ONE
    vectorized pass.

    r4 measured the per-region planning setup (~20 vector ops per
    `_encode_literal_segment` call) as the dominant writer cost on
    run-fragmented token streams (~1k regions/stripe): python-level work
    now scales with the number of DIRECT width-runs plus DELTA/PB
    chunks, never with the number of regions. Byte-for-byte identical
    output to the per-region planner: chunking restarts at each region
    boundary, regions of <=64 values stay single DIRECT runs, and the
    PATCHED_BASE advisory sample keeps its region-relative 1-in-4
    phase.

    ``regions`` is an (R, 2) array of [lo, hi) literal spans in stream
    order (gaps are the repeat runs emitted by the caller). Returns
    global per-chunk arrays plus the DIRECT-batch run grouping; chunk
    stats come from ``np.*.reduceat`` over a segment list that
    interleaves chunk starts with "garbage" segments covering the
    repeat-run gaps (discarded after the reduction).
    """
    from datafusion_orc_spark.codecs.bitpack import CLOSEST_TABLE, CODE_TABLE

    n = len(v)
    lo, hi = regions[:, 0], regions[:, 1]
    rlen = hi - lo
    nch = -(-rlen // _MAX_RUN)
    fc = np.zeros(len(lo) + 1, dtype=np.int64)
    np.cumsum(nch, out=fc[1:])
    K = int(fc[-1])
    rid = np.repeat(np.arange(len(lo)), nch)
    cs = lo[rid] + (np.arange(K) - fc[rid]) * _MAX_RUN
    ce = np.minimum(cs + _MAX_RUN, hi[rid])
    sizes = ce - cs
    tiny = (rlen <= 64)[rid]  # <=64-value regions: one plain DIRECT run

    # reduceat segment list = chunk starts + garbage starts at region
    # ends (so the last chunk of a region never absorbs repeat values)
    g_starts = hi[hi < n]
    seg = np.concatenate([cs, g_starts])
    is_chunk = np.zeros(len(seg), dtype=bool)
    is_chunk[:K] = True
    order = np.argsort(seg, kind="stable")
    seg = seg[order]
    is_chunk = is_chunk[order]

    cmin = np.minimum.reduceat(v, seg)[is_chunk]
    cmax = np.maximum.reduceat(v, seg)[is_chunk]
    if signed:
        # zigzag is monotone up for v>=0 and monotone up toward -inf for
        # v<0, so the chunk's max zigzag value is attained at cmin or
        # cmax — no reduceat over the 8M-value zigzag stream needed
        c0 = cmin.astype(np.int64)
        c1 = cmax.astype(np.int64)
        with np.errstate(over="ignore"):
            umax = np.maximum(
                ((c0 << 1) ^ (c0 >> 63)).view(np.uint64),
                ((c1 << 1) ^ (c1 >> 63)).view(np.uint64),
            )
    else:
        umax = np.maximum.reduceat(u, seg)[is_chunk]
    w_dir = bit_widths(umax)
    with np.errstate(over="ignore"):
        span = cmax.astype(np.int64) - cmin.astype(np.int64)
    range_ok = (span >= 0) & (span < (1 << 62))

    # delta eligibility: monotonic within the chunk, direction matching
    # the first delta's sign (the decoder applies every packed magnitude
    # with the first delta's sign, so [2, 2, 1] must not pick DELTA). Chunk-boundary and
    # region-end deltas are neutralized before the segmented min.
    if n > 1 and K:
        nonneg = d >= 0
        nonpos = d <= 0
        cross = ce - 1
        cross = cross[cross < n - 1]
        nonneg[cross] = True
        nonpos[cross] = True
        red = np.minimum(seg, n - 2)
        inc = np.minimum.reduceat(nonneg, red)[is_chunk]
        dec = np.minimum.reduceat(nonpos, red)[is_chunk]
        d0 = d[np.minimum(cs, n - 2)]
        delta_ok = (sizes >= 3) & range_ok & ~tiny & (inc | (dec & (d0 < 0)))
    else:
        delta_ok = np.zeros(K, dtype=bool)

    # PATCHED_BASE eligibility — advisory gate on a 1-in-4 SAMPLE of
    # each chunk (p90 width via per-chunk width histograms); the
    # per-chunk encoder re-validates exactly and falls back to DIRECT
    # when the gate was optimistic, so sampling never affects
    # correctness. Sample offsets are region-relative (same phase as the
    # old per-region planner).
    pb_ok = np.zeros(K, dtype=bool)
    eligible = (~delta_ok) & (sizes >= 16) & (cmin != -(1 << 63)) & range_ok & ~tiny
    if eligible.any():
        stride = 4
        ns_reg = -(-rlen // stride)
        fs = np.zeros(len(lo) + 1, dtype=np.int64)
        np.cumsum(ns_reg, out=fs[1:])
        S = int(fs[-1])
        srid = np.repeat(np.arange(len(lo)), ns_reg)
        soff = (np.arange(S) - fs[srid]) * stride
        spos = lo[srid] + soff
        schunk = fc[srid] + soff // _MAX_RUN
        u_dt = np.uint32 if v.dtype == np.int32 else np.uint64
        with np.errstate(over="ignore"):
            reduced_s = (v[spos] - cmin[schunk]).view(u_dt)
        rw = bit_widths(reduced_s)
        hist = np.bincount(schunk * 65 + rw, minlength=K * 65).reshape(K, 65)
        cum = np.cumsum(hist, axis=1)
        n_s = np.bincount(schunk, minlength=K)
        thresh = np.maximum(-(-9 * n_s // 10), 1)  # ceil(0.9 * sample size)
        w90 = CLOSEST_TABLE[np.argmax(cum >= thresh[:, None], axis=1)]
        wmax_red = CLOSEST_TABLE[np.max(np.where(hist > 0, np.arange(65)[None, :], 0), axis=1)]
        covered = np.take_along_axis(cum, np.minimum(w90, 64)[:, None].astype(np.int64), 1)[:, 0]
        patches_scaled = (n_s - covered) * stride  # extrapolate sample->chunk
        pb_ok = eligible & (w90 < wmax_red) & (patches_scaled >= 1) & (patches_scaled <= _MAX_PATCHES * 2)

    # DIRECT-batch run grouping: maximal runs of consecutive full DIRECT
    # chunks with equal fixed width WITHIN one region (a region change
    # always breaks the run — repeat bytes interleave between regions)
    wfix = CLOSEST_TABLE[np.maximum(w_dir, 1)]
    special = delta_ok | pb_ok
    batch = (~special) & (sizes == _MAX_RUN)
    grp = np.where(batch, wfix.astype(np.int64), -1)
    change = np.ones(K, dtype=bool)
    if K > 1:
        change[1:] = (grp[1:] != grp[:-1]) | (rid[1:] != rid[:-1])
    run_starts = np.flatnonzero(change)

    # ---- pre-encoded chunk blob (DIRECT tails + tiny regions + DELTA) --
    #
    # Every non-batched DIRECT chunk and every DELTA chunk is encoded
    # here in grouped vectorized passes (values gathered once per width
    # group, one packbits per group, headers/varints scattered into a
    # single blob); emission becomes one slice per chunk. PATCHED_BASE
    # chunks stay per-chunk (their exact re-validation can fall back to
    # DIRECT). All bytes are identical to the per-chunk encoders.
    dpos = np.full(K, -1, dtype=np.int64)
    pieces: list[tuple[np.ndarray, np.ndarray]] = []  # (chunk ids, per-chunk bytes)

    dmask = (~special) & ~batch
    if dmask.any():
        dsel = np.flatnonzero(dmask)
        m = sizes[dsel]
        w = wfix[dsel].astype(np.int64)
        nb = 2 + (m * w + 7) // 8
        off = np.zeros(len(dsel) + 1, dtype=np.int64)
        np.cumsum(nb, out=off[1:])
        blob = np.zeros(int(off[-1]), dtype=np.uint8)
        blob[off[:-1]] = (_DIRECT << 6) | (CODE_TABLE[w] << 1) | ((m - 1) >> 8)
        blob[off[:-1] + 1] = (m - 1) & 0xFF
        for wv in np.unique(w):
            wv = int(wv)
            g = w == wv
            msz = sizes[dsel[g]]
            gbytes, bcount = _group_bitpack(u[_gather(cs[dsel[g]], msz)], msz, wv)
            blob[_gather(off[:-1][g] + 2, bcount)] = gbytes
        pieces.append((dsel, np.diff(off)))
        d_blob_direct = blob
    else:
        d_blob_direct = None

    d_blob_delta = None
    if delta_ok.any():
        dl = np.flatnonzero(delta_ok)
        msz = sizes[dl]
        dm = msz - 1  # deltas per chunk (>= 2: delta needs sizes >= 3)
        dd = d[_gather(cs[dl], dm)]  # all chunk deltas, chunk-major
        loc = np.cumsum(dm) - dm
        fixedc = np.maximum.reduceat(dd, loc) == np.minimum.reduceat(dd, loc)
        base = v[cs[dl]].astype(np.int64)
        d0v = dd[loc].astype(np.int64)
        ubase = zigzag_encode(base) if signed else base.view(np.uint64)
        ud0 = zigzag_encode(d0v)
        nb_base = (bit_widths(ubase) + 6) // 7  # varint byte counts
        nb_d0 = (bit_widths(ud0) + 6) // 7
        # packed-mag widths (deltas[1:] magnitudes; width 1 is reserved
        # for "fixed", so it bumps to 2: delta encoding cannot express it)
        keep = np.ones(len(dd), dtype=bool)
        keep[loc] = False
        mags_all = np.abs(dd[keep]).astype(np.uint64)
        mcnt = dm - 1
        mloc = np.cumsum(mcnt) - mcnt
        wch = CLOSEST_TABLE[bit_widths(np.maximum.reduceat(mags_all, mloc))].astype(np.int64)
        wch[wch == 1] = 2
        pack_bytes = np.where(fixedc, 0, (mcnt * wch + 7) // 8)
        nb = 2 + nb_base + nb_d0 + pack_bytes
        off = np.zeros(len(dl) + 1, dtype=np.int64)
        np.cumsum(nb, out=off[1:])
        blob = np.zeros(int(off[-1]), dtype=np.uint8)
        blob[off[:-1]] = (
            (_DELTA << 6) | (np.where(fixedc, 0, CODE_TABLE[wch]) << 1) | ((msz - 1) >> 8)
        )
        blob[off[:-1] + 1] = (msz - 1) & 0xFF
        blob[_gather(off[:-1] + 2, nb_base)] = np.frombuffer(varint_encode(ubase), np.uint8)
        blob[_gather(off[:-1] + 2 + nb_base, nb_d0)] = np.frombuffer(varint_encode(ud0), np.uint8)
        data_off = off[:-1] + 2 + nb_base + nb_d0
        nf = ~fixedc
        for wv in np.unique(wch[nf]):
            g = nf & (wch == wv)
            gbytes, bcount = _group_bitpack(
                mags_all[_gather(mloc[g], mcnt[g])], mcnt[g], int(wv)
            )
            blob[_gather(data_off[g], bcount)] = gbytes
        pieces.append((dl, np.diff(off)))
        d_blob_delta = blob

    d_off: list[int] = []
    dview: memoryview | None = None
    if pieces:
        all_ids = np.concatenate([p[0] for p in pieces])
        all_nb = np.concatenate([p[1] for p in pieces])
        blobs = [b for b in (d_blob_direct, d_blob_delta) if b is not None]
        comb = np.concatenate(blobs) if len(blobs) > 1 else blobs[0]
        st = np.zeros(len(all_nb) + 1, dtype=np.int64)
        np.cumsum(all_nb, out=st[1:])
        dpos[all_ids] = np.arange(len(all_ids))
        d_off = st.tolist()
        dview = memoryview(comb.tobytes())

    return {
        "cs": cs,
        "ce": ce,
        "pb_ok": pb_ok,
        "wfix": wfix,
        "run_starts": run_starts.tolist(),
        "run_ends": np.append(run_starts[1:], K).tolist(),
        "run_region": rid[run_starts].tolist(),
        "run_grp": grp[run_starts].tolist(),
        "dpos": dpos.tolist(),
        "d_off": d_off,
        "dview": dview,
    }


def _emit_region_runs(
    out: bytearray,
    v: np.ndarray,
    u: np.ndarray,
    plan: dict,
    region: int,
    rc: int,
    signed: bool,
) -> int:
    """Emit every planned run of ``region`` (plan cursor ``rc`` ->
    new cursor). Batched DIRECT runs pack their whole span in one
    bit_pack and tile the 2-byte headers with one strided write;
    DIRECT tail and DELTA chunks are slices of the planned blob;
    PATCHED_BASE chunks encode individually (DIRECT when the exact
    check rejects them)."""
    run_starts = plan["run_starts"]
    run_region = plan["run_region"]
    cs, ce = plan["cs"], plan["ce"]
    pb_ok = plan["pb_ok"]
    dpos, d_off, dview = plan["dpos"], plan["d_off"], plan["dview"]
    while rc < len(run_starts) and run_region[rc] == region:
        a, b = run_starts[rc], plan["run_ends"][rc]
        w = plan["run_grp"][rc]
        if w >= 0:
            nrun = b - a
            packed = bit_pack(u[cs[a] : ce[b - 1]], w)
            block = (_MAX_RUN * w) // 8
            arr = np.empty((nrun, block + 2), dtype=np.uint8)
            arr[:, 0] = (_DIRECT << 6) | (width_code(w) << 1) | ((_MAX_RUN - 1) >> 8)
            arr[:, 1] = (_MAX_RUN - 1) & 0xFF
            arr[:, 2:] = np.frombuffer(packed, dtype=np.uint8).reshape(nrun, block)
            out += arr.tobytes()
        else:
            for c in range(a, b):
                dp = dpos[c]
                if dp >= 0:  # pre-encoded DIRECT or DELTA chunk: one blob slice
                    out += dview[d_off[dp] : d_off[dp + 1]]
                    continue
                s, e = int(cs[c]), int(ce[c])
                if pb_ok[c] and _try_encode_patched_base(
                    out, v[s:e], signed, wd=int(plan["wfix"][c])
                ):
                    pass
                else:
                    _encode_direct(out, v[s:e], signed, u=u[s:e])
        rc += 1
    return rc


def rle_v2_encode(vals: np.ndarray, signed: bool = True) -> bytes:
    """Encode an int array as a concatenation of RLEv2 runs.

    int32 input runs the whole pipeline in 32-bit (half the memory
    traffic — tokens are array<int32>); it promotes to int64 only when
    the value span could overflow 32-bit delta arithmetic.
    """
    if vals.dtype == np.int32 and len(vals):
        v = np.ascontiguousarray(vals)
        if int(v.max()) - int(v.min()) >= (1 << 31):
            v = v.astype(np.int64)  # diffs would wrap in int32
    else:
        v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return b""
    out = bytearray()
    # equal-run segmentation (vectorized)
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(v[1:], v[:-1], out=change[1:])
    run_starts = np.flatnonzero(change)
    run_lens = np.empty(len(run_starts), dtype=np.int64)
    run_lens[:-1] = run_starts[1:] - run_starts[:-1]
    run_lens[-1] = n - run_starts[-1]
    rep_mask = run_lens >= _MIN_REPEAT_SPLIT
    if not rep_mask.all():
        short = (run_lens >= _MIN_REPEAT) & ~rep_mask
        if int(run_lens[short].sum()) >= _SHORT_RUN_COVERAGE * n:
            rep_mask |= short  # run-dominated data: SR runs pay off
    rep_starts = run_starts[rep_mask]
    rep_lens = run_lens[rep_mask]

    def constant_delta(val: int, take: int) -> bytes:
        # fixed-delta-0 DELTA run of ``take`` copies of ``val``, built from
        # scalars (one long run emits one of these per 512-chunk tail;
        # token stripes carry hundreds)
        b = bytearray()
        b.append((_DELTA << 6) | ((take - 1) >> 8))
        b.append((take - 1) & 0xFF)
        b += varint_encode_scalar(
            zigzag_scalar(val) if signed else (val & 0xFFFFFFFFFFFFFFFF)
        )
        b.append(0)  # varint(zigzag(0)): fixed delta 0
        return bytes(b)

    def emit_repeat(start: int, length: int) -> None:
        # runs of 3-10 values never reach here: they are all in the
        # ``sr`` blob below
        val = int(v[start])
        pos = 0
        full_chunk: bytes | None = None  # all full 512-chunks are identical
        while pos < length:
            take = min(_MAX_RUN, length - pos)
            if length - pos - take == 1:
                take -= 1  # avoid a trailing 1-length chunk (delta needs >=2)
            if take <= _MAX_SHORT_REPEAT and 3 <= take:
                _encode_short_repeat(out, val, take, signed)
            elif take == _MAX_RUN:
                if full_chunk is None:
                    full_chunk = constant_delta(val, take)
                out.extend(full_chunk)  # extend, not +=: += would rebind the closure var
            else:
                out.extend(constant_delta(val, take))
            pos += take

    # batch SHORT_REPEAT emission: runs of 3..10 values encode as
    # header + 1-8 value bytes; build ALL of them in one vectorized pass
    # and collapse maximal chains of ADJACENT short runs into single
    # byte-slice appends — run-dominated data (skewed dictionary
    # indices) was paying ~75% of the encode wall in per-run python
    # (zigzag/bit_length/to_bytes x 700k calls on a 4M-value stream)
    n_rep = len(rep_starts)
    pure_sr = rep_lens <= _MAX_SHORT_REPEAT
    sr_view = None
    if pure_sr.any():
        sv = v[rep_starts[pure_sr]].astype(np.int64)
        with np.errstate(over="ignore"):
            u = ((sv << 1) ^ (sv >> 63)).view(np.uint64) if signed else sv.view(np.uint64)
        wb = ((bit_widths(u) + 7) // 8).astype(np.int64)  # 1..8 value bytes
        srl = rep_lens[pure_sr]
        sr_off = np.zeros(len(wb) + 1, dtype=np.int64)
        np.cumsum(1 + wb, out=sr_off[1:])
        blob = np.zeros(int(sr_off[-1]), dtype=np.uint8)
        blob[sr_off[:-1]] = (_SHORT_REPEAT << 6) | ((wb - 1) << 3) | (srl - 3)
        for k in range(int(wb.max())):  # MSB-first value bytes, <=8 passes
            m_ = wb > k
            blob[sr_off[:-1][m_] + 1 + k] = (
                u[m_] >> ((wb[m_] - 1 - k).astype(np.uint64) * np.uint64(8))
            ) & np.uint64(0xFF)
        sr_view = memoryview(blob.tobytes())
        sr_pos = np.full(n_rep, -1, dtype=np.int64)
        sr_pos[pure_sr] = np.arange(int(pure_sr.sum()))
        sr_off_l = sr_off.tolist()
        sr_pos_l = sr_pos.tolist()
    # emission units: a unit is either one non-SR run or a maximal chain
    # of gap-free short runs (their precomputed bytes are contiguous)
    adj = np.zeros(n_rep, dtype=bool)
    if n_rep > 1:
        adj[1:] = (
            pure_sr[1:] & pure_sr[:-1] & (rep_starts[1:] == rep_starts[:-1] + rep_lens[:-1])
        )
    heads = np.flatnonzero(~adj).tolist()
    starts_l, lens_l = rep_starts.tolist(), rep_lens.tolist()

    # Two passes over the emission schedule: first collect the literal
    # regions (the gaps between repeat units), plan ALL their chunks in
    # one vectorized pass (_plan_literals — python work no longer scales
    # with region count), then walk the schedule emitting repeat bytes
    # and planned literal runs in stream order.
    items: list[tuple] = []  # ("lit", region#) | ("sr", lo, hi) | ("rep", s, len)
    region_spans: list[tuple[int, int]] = []
    cursor = 0
    for ui, i in enumerate(heads):
        j = (heads[ui + 1] - 1) if ui + 1 < len(heads) else n_rep - 1
        s = starts_l[i]
        if s > cursor:
            items.append(("lit", len(region_spans)))
            region_spans.append((cursor, s))
        if sr_view is not None and sr_pos_l[i] >= 0:
            items.append(("sr", sr_off_l[sr_pos_l[i]], sr_off_l[sr_pos_l[j] + 1]))
            cursor = starts_l[j] + lens_l[j]
        else:
            items.append(("rep", s, lens_l[i]))
            cursor = s + lens_l[i]
    if cursor < n:
        items.append(("lit", len(region_spans)))
        region_spans.append((cursor, n))

    u = plan = None
    if region_spans:
        u = zigzag_encode(v) if signed else v.view(np.uint32 if v.dtype == np.int32 else np.uint64)
        d = np.diff(v) if n > 1 else np.empty(0, dtype=v.dtype)
        plan = _plan_literals(v, u, d, np.asarray(region_spans, dtype=np.int64), signed)

    rc = 0
    for item in items:
        kind = item[0]
        if kind == "lit":
            rc = _emit_region_runs(out, v, u, plan, item[1], rc, signed)
        elif kind == "sr":
            out += sr_view[item[1] : item[2]]
        else:
            emit_repeat(item[1], item[2])
    return bytes(out)


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
