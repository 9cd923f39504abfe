"""Per-run RLEv2 decoder kept as the reference for the batched one.

``datafusion_orc_spark.codecs.rlev2.rle_v2_decode`` walks the run
headers once and then decodes each run kind in one vector pass; this is
the straightforward run-at-a-time loop it replaced. Tests assert that
both give bit-identical output. It does not check for truncated
streams.
"""

from __future__ import annotations

import numpy as np

from datafusion_orc_spark.codecs.bitpack import bit_unpack, closest_fixed_width, decode_width
from datafusion_orc_spark.codecs.varint import varint_decode_scalar, zigzag_decode, zigzag_decode_scalar

_SHORT_REPEAT, _DIRECT, _PATCHED_BASE, _DELTA = 0, 1, 2, 3


def rle_v2_decode_reference(buf: bytes | np.ndarray, n: int, signed: bool = True) -> np.ndarray:
    """Decode ``n`` values, one run per loop iteration -> int64. The final
    run is clamped to ``n``."""
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    out = np.empty(n, dtype=np.int64)
    filled = 0
    pos = 0
    while filled < n:
        header = int(raw[pos])
        tag = header >> 6
        if tag == _SHORT_REPEAT:
            w = ((header >> 3) & 0x7) + 1
            count = (header & 0x7) + 3
            u = int.from_bytes(raw[pos + 1 : pos + 1 + w].tobytes(), "big")
            if signed:
                val = zigzag_decode_scalar(u)
            else:
                val = u - (1 << 64) if u >= (1 << 63) else u  # int64 wrap
            take = min(count, n - filled)
            out[filled : filled + take] = val
            filled += take
            pos += 1 + w
        elif tag == _DIRECT:
            w = decode_width((header >> 1) & 0x1F)
            length = (((header & 1) << 8) | int(raw[pos + 1])) + 1
            nbytes = (length * w + 7) // 8
            u = bit_unpack(raw[pos + 2 : pos + 2 + nbytes], w, length)
            take = min(length, n - filled)
            dec = zigzag_decode(u) if signed else u.view(np.int64)
            out[filled : filled + take] = dec[:take]
            filled += take
            pos += 2 + nbytes
        elif tag == _PATCHED_BASE:
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
            data_bytes = (length * w + 7) // 8
            data = bit_unpack(raw[p : p + data_bytes], w, length)
            p += data_bytes
            combined = closest_fixed_width(pgw + pw)
            patch_bytes = (pl * combined + 7) // 8
            entries = bit_unpack(raw[p : p + patch_bytes], combined, pl)
            p += patch_bytes
            gaps = (entries >> np.uint64(pw)).astype(np.int64)
            patch_vals = entries & ((np.uint64(1) << np.uint64(pw)) - np.uint64(1))
            idx = np.cumsum(gaps)
            data[idx] |= patch_vals << np.uint64(w)
            take = min(length, n - filled)
            out[filled : filled + take] = (data.view(np.int64) + base)[:take]
            filled += take
            pos = p
        else:  # DELTA
            wc = (header >> 1) & 0x1F
            length = (((header & 1) << 8) | int(raw[pos + 1])) + 1
            p = pos + 2
            ub, p = varint_decode_scalar(raw, p)
            if signed:
                base = zigzag_decode_scalar(ub)
            else:
                base = ub - (1 << 64) if ub >= (1 << 63) else ub  # int64 wrap
            ud, p = varint_decode_scalar(raw, p)
            d0 = zigzag_decode_scalar(ud)
            steps = np.empty(length, dtype=np.int64)
            steps[0] = base
            if length > 1:
                steps[1] = d0
            if wc == 0:
                if length > 2:
                    steps[2:] = d0
            else:
                w = decode_width(wc)
                nbytes = ((length - 2) * w + 7) // 8
                mags = bit_unpack(raw[p : p + nbytes], w, length - 2).view(np.int64)
                steps[2:] = -mags if d0 < 0 else mags
                p += nbytes
            take = min(length, n - filled)
            out[filled : filled + take] = np.cumsum(steps)[:take]
            filled += take
            pos = p
    return out
