"""E10 — the engine's stripe-blob container format (encode side; the
reference crate is read-only, SURVEY.md §2.1 last row — the writer is the
north-rule build target).

A *stripe* is one Arrow batch of rows; each column encodes independently
into a self-describing blob mirroring ORC's stripe layout (§1.4: streams
concatenated, offsets = prefix sums, per-column encoding kind):

    u8  format version (2)
    u8  codec id
    u32 n_rows          (LE)
    u32 n_nulls
    u8  n_streams
    n_streams × (u8 stream kind, u64 stream length)
    stream bytes, concatenated in header order

Stream kinds mirror ORC's (PRESENT/DATA/LENGTH/DICTIONARY_DATA/...,
§2.3 D10-D12) plus FSST_TABLE and META. Column pruning = skipping blob
rows (the Spark-side analogue of the reference's projection mask,
physical_exec.rs:69-78).
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from datafusion_orc_spark.codecs.bitpack import bit_pack, bit_pack_view, bit_unpack, closest_fixed_width
from datafusion_orc_spark.codecs.byterle import bool_rle_decode, bool_rle_encode
from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode, rle_v2_encode
from datafusion_orc_spark.codecs.runfor import runfor_decode, runfor_encode, runfor_size
from datafusion_orc_spark.codecs.selector import choose_int_codec, choose_string_codec
from datafusion_orc_spark.codecs.strings import (
    dict_decode,
    dict_encode,
    fsst_compress_column,
    fsst_decompress_column,
)
from datafusion_orc_spark.codecs.varint import (
    varint_decode_signed,
    varint_encode_signed,
)
from datafusion_orc_spark.format.orc_index import group_ranges, may_match, surviving_groups
from datafusion_orc_spark.format.orc_reader import _validity_buffer

FORMAT_VERSION = 2  # v2: runfor RUN_POS/EXC_POS switched to delta+bitpack

# codec ids
CODECS = {
    "int_rle2": 1,
    "int_for_bp": 2,
    "bool_rle": 3,
    "float_raw": 4,
    "str_direct": 5,
    "str_dict": 6,
    "str_fsst": 7,
    "arr_int_rle2": 8,
    "arr_int_for_bp": 9,
    "arr_float_raw": 10,
    "raw_ipc": 11,
    # unsigned RLEv2 (no zigzag) for all-non-negative columns: one less
    # bit per value on full-width data (tokens: 17 -> 16 bits) and one
    # less vector pass
    "int_rle2u": 12,
    "arr_int_rle2u": 13,
    # 14, 15: retired (int_pfor / arr_int_pfor, now runfor's literal path)
    # RUN+FoR (codecs/runfor.py): long runs as side lists + FoR/PFOR
    # literals — smaller AND ~5x faster than RLEv2 on token streams
    "int_runfor": 16,
    "arr_int_runfor": 17,
}
CODEC_NAMES = {v: k for k, v in CODECS.items()}

# stream kinds (mirror ORC where applicable)
(
    K_PRESENT, K_DATA, K_LENGTH, K_DICT_DATA, K_DICT_LENGTH,
    K_FSST_TABLE, K_META, K_EXC_POS, K_EXC_HIGH,
    K_RUN_POS, K_RUN_LEN, K_RUN_VAL, K_ROWIDX,
) = range(13)

# D19 (full): per-SUB_BLOCK_ROWS min/max inside each int column blob —
# the engine's ROW_INDEX stride (the reference corpus declares
# row_index_stride 10000; ORC keeps one index entry per stride). Stripes
# that survive [vmin, vmax] pruning can then skip the sub-blocks whose
# local range still cannot match (decode_table prune= / where=).
SUB_BLOCK_ROWS = 8192


def _rowidx_stream(
    vals: np.ndarray, row_bounds: np.ndarray | None = None
) -> tuple[bytes, int, int] | None:
    """-> (stream bytes, global min, global max), or None for small columns.

    The global min/max fall out of the per-block reduceat (min-of-mins),
    so emitting the index REPLACES the column's two full-array min/max
    passes instead of adding to them — zero extra memory traffic.

    ``row_bounds``: for array columns, the flat-value offset of each row
    (len n_rows+1) — blocks are ROW-aligned, stats cover the rows' values.
    """
    if row_bounds is None:
        n_rows = len(vals)
        if n_rows < 2 * SUB_BLOCK_ROWS:
            return None
        starts = np.arange(0, n_rows, SUB_BLOCK_ROWS)
        vstarts = starts
    else:
        n_rows = len(row_bounds) - 1
        if n_rows < 2 * SUB_BLOCK_ROWS or len(vals) == 0:
            return None
        starts = np.arange(0, n_rows, SUB_BLOCK_ROWS)
        vstarts = row_bounds[starts]
    # reduceat needs every index < len(vals). Blocks whose first value
    # offset == len(vals) hold only empty rows: give them sentinel
    # min>max stats (they can never satisfy a value predicate) instead of
    # clamping — a clamp would end the PREVIOUS block's segment one value
    # early, silently dropping the column's final value from its stats.
    n_real = int(np.searchsorted(vstarts, len(vals), side="left"))
    mins = np.full(len(starts), np.int64(1) << 62, dtype=np.int64)
    maxs = np.full(len(starts), -(np.int64(1) << 62), dtype=np.int64)
    mins[:n_real] = np.minimum.reduceat(vals, vstarts[:n_real])
    maxs[:n_real] = np.maximum.reduceat(vals, vstarts[:n_real])
    inter = np.empty(2 * len(starts), dtype=np.int64)
    inter[0::2] = mins
    inter[1::2] = maxs
    stream = (
        varint_encode_signed(np.array([SUB_BLOCK_ROWS, len(starts)], dtype=np.int64))
        + varint_encode_signed(inter)
    )
    return stream, int(mins.min()), int(maxs.max())


def read_block_stats(blob: bytes) -> tuple[int, np.ndarray, np.ndarray] | None:
    """Parse ONLY the K_ROWIDX stream of a blob -> (block_rows, mins,
    maxs), without decoding any data. None when the blob carries no
    sub-block index."""
    _codec, _n, _nulls, streams = _parse(blob)
    raw = streams.get(K_ROWIDX)
    if raw is None:
        return None
    hdr, pos = varint_decode_signed(raw, 2)
    block_rows, n_blocks = int(hdr[0]), int(hdr[1])
    inter, _ = varint_decode_signed(raw[pos:], 2 * n_blocks)
    return block_rows, inter[0::2], inter[1::2]


def _assemble(codec: str, n_rows: int, n_nulls: int, streams: list[tuple[int, bytes]]) -> bytes:
    hdr = bytearray()
    hdr.append(FORMAT_VERSION)
    hdr.append(CODECS[codec])
    hdr += int(n_rows).to_bytes(4, "little")
    hdr += int(n_nulls).to_bytes(4, "little")
    hdr.append(len(streams))
    for kind, data in streams:
        hdr.append(kind)
        hdr += len(data).to_bytes(8, "little")
    # single-copy join (bytearray += data, then bytes(out) copied the
    # multi-MB token stream twice per stripe)
    return b"".join([bytes(hdr), *(data for _, data in streams)])


def _parse(blob: bytes) -> tuple[str, int, int, dict[int, bytes]]:
    if len(blob) < 11 or len(blob) < 11 + 9 * blob[10]:
        raise ValueError(f"malformed stripe blob: {len(blob)} bytes is shorter than its header")
    if blob[0] != FORMAT_VERSION:
        raise ValueError(f"bad stripe blob version {blob[0]} (expected {FORMAT_VERSION})")
    codec = CODEC_NAMES.get(blob[1])
    if codec is None:
        raise ValueError(f"unknown stripe blob codec id {blob[1]}")
    n_rows = int.from_bytes(blob[2:6], "little")
    n_nulls = int.from_bytes(blob[6:10], "little")
    n_streams = blob[10]
    pos = 11
    kinds, lens = [], []
    for _ in range(n_streams):
        kinds.append(blob[pos])
        lens.append(int.from_bytes(blob[pos + 1 : pos + 9], "little"))
        pos += 9
    if pos + sum(lens) != len(blob):
        raise ValueError(
            f"malformed stripe blob: header and streams take {pos + sum(lens)} bytes, blob has {len(blob)}"
        )
    streams = {}
    for kind, ln in zip(kinds, lens):
        streams[kind] = blob[pos : pos + ln]
        pos += ln
    return codec, n_rows, n_nulls, streams


# ------------------------------------------------------------- helpers

_INT_TYPES = {
    pa.int8(): np.int8, pa.int16(): np.int16, pa.int32(): np.int32, pa.int64(): np.int64,
}


def _binary_parts(arr: pa.Array) -> tuple[bytes, np.ndarray]:
    """Dense (no-null) string/binary array -> (blob, lengths), zero-copy."""
    lb = arr.cast(pa.large_binary())
    bufs = lb.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int64, count=len(lb) + 1, offset=lb.offset * 8)
    lengths = np.diff(off)
    # slice the Arrow buffer (zero-copy view) BEFORE materializing bytes —
    # to_pybytes()-then-slice copied the whole blob twice on sliced arrays
    blob = bufs[2].slice(int(off[0]), int(off[-1] - off[0])).to_pybytes() if len(lb) else b""
    return blob, lengths.astype(np.int64)


def _encode_for_bp(vals: np.ndarray, vmin: int | None = None, vmax: int | None = None) -> bytes:
    mn = int(vmin) if vmin is not None else (int(vals.min()) if len(vals) else 0)
    mx = int(vmax) if vmax is not None else (int(vals.max()) if len(vals) else 0)
    u_dt = np.uint32 if vals.dtype == np.int32 else np.uint64
    if mn == 0:
        reduced = vals.view(u_dt)  # non-negative: skip the subtract pass
    else:
        with np.errstate(over="ignore"):
            reduced = (vals - vals.dtype.type(mn)).view(u_dt)
    width = closest_fixed_width(max(1, (mx - mn).bit_length())) if len(vals) else 1
    meta = varint_encode_signed(np.array([mn], dtype=np.int64)) + bytes([width])
    return meta, bit_pack_view(reduced, width)


# runfor stream-key -> stripe stream-kind mapping
_RUNFOR_KINDS = {
    0: K_META, 1: K_DATA, 2: K_RUN_POS, 3: K_RUN_LEN, 4: K_RUN_VAL,
    5: K_EXC_POS, 6: K_EXC_HIGH,
}
_RUNFOR_KEYS = {v: k for k, v in _RUNFOR_KINDS.items()}


def _runfor_streams(streams: dict[int, bytes]) -> dict[int, bytes]:
    """A column's stripe streams keyed the way ``codecs.runfor`` expects."""
    return {_RUNFOR_KEYS[k]: b for k, b in streams.items() if k in _RUNFOR_KEYS}


def _int_data_streams(
    vals: np.ndarray,
    codec_prefix: str = "",
    vmin: int | None = None,
    vmax: int | None = None,
) -> tuple[str, list[tuple[int, bytes]]]:
    codec, stats = choose_int_codec(vals, vmin=vmin, vmax=vmax)
    if codec == "int_for_bp":
        meta, data = _encode_for_bp(vals, stats["min"], stats["max"])
        return codec_prefix + "int_for_bp", [(K_META, meta), (K_DATA, data)]
    unsigned = bool(stats["n"]) and stats["min"] >= 0
    if stats["monotonic"]:
        # globally monotonic: RLEv2 DELTA runs are unbeatable
        rle_bytes = rle_v2_encode(vals, signed=not unsigned)
        name = "int_rle2u" if unsigned else "int_rle2"
        return codec_prefix + name, [(K_DATA, rle_bytes)]
    rf = runfor_encode(vals, vmin=stats["min"], vmax=stats["max"])
    rf_streams = [(_RUNFOR_KINDS[k], b) for k, b in sorted(rf.items())]
    if stats["n"] > (1 << 20):
        # big arrays (token streams): runfor is both smaller (runs cost
        # ~0 bits, literals pay exact FoR width + PFOR exceptions, no
        # per-512 chunk headers) and one whole-array pass — skip the
        # O(n) RLEv2 trial encode entirely
        return codec_prefix + "int_runfor", rf_streams
    rle_bytes = rle_v2_encode(vals, signed=not unsigned)
    if runfor_size(rf) < 0.95 * len(rle_bytes):
        return codec_prefix + "int_runfor", rf_streams
    if unsigned:
        return codec_prefix + "int_rle2u", [(K_DATA, rle_bytes)]
    return codec_prefix + "int_rle2", [(K_DATA, rle_bytes)]


def _cat(parts: list[np.ndarray], dtype=np.int64) -> np.ndarray:
    """Concatenate window parts; one part comes back as is (a view)."""
    if len(parts) == 1:
        return parts[0]
    return np.concatenate(parts) if parts else np.empty(0, dtype=dtype)


def _int_values(
    codec: str, streams: dict[int, bytes], n: int, windows: list[tuple[int, int]]
) -> np.ndarray:
    """int64 values of the ``windows`` ([start, stop) value slices) of an
    ``n``-value int stream, concatenated. FoR and runfor seek to each
    window (value i sits at bit i*w); RLEv2 decodes whole and slices."""
    if codec.endswith("int_for_bp"):
        base, pos = varint_decode_signed(streams[K_META], 1)
        w, base = streams[K_META][pos], int(base[0])
        return _cat([
            bit_unpack(streams[K_DATA], w, e - s, offset_bits=s * w).view(np.int64) + base
            for s, e in windows
        ])
    if codec.endswith("int_runfor"):
        rf = _runfor_streams(streams)
        return _cat([runfor_decode(rf, n, s, e) for s, e in windows])
    vals = rle_v2_decode(streams[K_DATA], n, signed=not codec.endswith("int_rle2u"))
    return _cat([vals[s:e] for s, e in windows])


# ------------------------------------------------------------- encode

def encode_column(arr: pa.Array | pa.ChunkedArray) -> tuple[bytes, dict]:
    """Encode one column of a stripe -> (blob, stats).

    Codec choice is E9 (codecs/selector.py); kernels are all vectorized.
    Unsupported types fall back to Arrow IPC (raw_ipc) so every schema
    round-trips. The blob depends on ``arr`` alone: an FSST column trains
    its own table from this stripe's values.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    typ = arr.type
    n_nulls = arr.null_count
    valid = pc.is_valid(arr).to_numpy(zero_copy_only=False) if n_nulls else np.ones(n, dtype=bool)
    dense = arr.drop_null() if n_nulls else arr
    present = [(K_PRESENT, bool_rle_encode(valid))] if n_nulls else []
    stats: dict = {"n": n, "nulls": int(n_nulls), "raw_bytes": int(arr.nbytes)}

    def fin(codec: str, streams: list[tuple[int, bytes]], *crc_payload) -> tuple[bytes, dict]:
        # crc over the raw payload buffers incrementally — numpy arrays go
        # through the buffer protocol zero-copy (tobytes()+concat copied
        # the whole token column twice per stripe just to checksum it)
        crc = 0
        for part in crc_payload:
            crc = zlib.crc32(part, crc)
        blob = _assemble(codec, n, n_nulls, present + streams)
        stats.update(codec=codec, enc_bytes=len(blob), crc32=crc & 0xFFFFFFFF)
        return blob, stats

    # integer-like (ints, date, timestamp)
    if typ in _INT_TYPES or pa.types.is_date32(typ) or pa.types.is_timestamp(typ):
        if pa.types.is_date32(typ):
            vals = dense.cast(pa.int32()).to_numpy(zero_copy_only=False)
        elif pa.types.is_timestamp(typ):
            vals = dense.cast(pa.int64()).to_numpy(zero_copy_only=False)
        else:
            vals = dense.to_numpy(zero_copy_only=False)
            if vals.dtype not in (np.int32, np.int64):
                vals = vals.astype(np.int32 if vals.dtype.itemsize <= 4 else np.int64)
        ridx = _rowidx_stream(vals) if not n_nulls else None
        if ridx is not None:
            stats["min"], stats["max"] = ridx[1], ridx[2]
        elif len(vals):
            stats["min"], stats["max"] = int(vals.min()), int(vals.max())
        codec, streams = _int_data_streams(vals, vmin=stats.get("min"), vmax=stats.get("max"))
        if ridx is not None:
            streams = [(K_ROWIDX, ridx[0])] + streams
        return fin(codec, streams, np.ascontiguousarray(vals))

    if pa.types.is_boolean(typ):
        flags = dense.to_numpy(zero_copy_only=False).astype(bool)
        return fin("bool_rle", [(K_DATA, bool_rle_encode(flags))], np.packbits(flags))

    if pa.types.is_floating(typ):
        vals = dense.to_numpy(zero_copy_only=False)
        raw = np.ascontiguousarray(vals)
        return fin("float_raw", [(K_DATA, raw.view(np.uint8).data)], raw)

    if pa.types.is_string(typ) or pa.types.is_large_string(typ) or pa.types.is_binary(typ):
        blob, lengths = _binary_parts(dense)
        codec, sstats = choose_string_codec(dense)
        stats.update({f"s_{k}": v for k, v in sstats.items()})
        if codec == "str_dict":
            dblob, dlens, idx = dict_encode(blob, lengths)
            stats["dict_size"] = len(dlens)
            return fin("str_dict", [
                (K_DICT_DATA, dblob),
                (K_DICT_LENGTH, rle_v2_encode(dlens, signed=False)),
                (K_DATA, rle_v2_encode(idx, signed=False)),
            ], blob)
        if codec == "str_fsst":
            res = fsst_compress_column(blob, lengths)
            if res is not None:
                tbl, data = res
                return fin("str_fsst", [
                    (K_FSST_TABLE, tbl),
                    (K_LENGTH, rle_v2_encode(lengths, signed=False)),
                    (K_DATA, data),
                ], blob)
        return fin("str_direct", [
            (K_LENGTH, rle_v2_encode(lengths, signed=False)),
            (K_DATA, blob),
        ], blob)

    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        child = typ.value_type
        lengths = pc.list_value_length(dense).to_numpy(zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(dense)
        if flat.null_count == 0 and (child in _INT_TYPES):
            # int32 stays 32-bit end-to-end (half the memory traffic for
            # token arrays); smaller ints widen to int32
            vals = flat.to_numpy(zero_copy_only=False)
            if vals.dtype not in (np.int32, np.int64):
                vals = vals.astype(np.int32 if vals.dtype.itemsize <= 4 else np.int64)
            ridx = None
            if not n_nulls and len(lengths) >= 2 * SUB_BLOCK_ROWS:
                bounds = np.zeros(len(lengths) + 1, dtype=np.int64)
                np.cumsum(lengths, out=bounds[1:])
                ridx = _rowidx_stream(vals, row_bounds=bounds)
            if ridx is not None:
                stats["min"], stats["max"] = ridx[1], ridx[2]
            elif len(vals):
                stats["min"], stats["max"] = int(vals.min()), int(vals.max())
            codec, streams = _int_data_streams(
                vals, codec_prefix="arr_", vmin=stats.get("min"), vmax=stats.get("max")
            )
            streams = [(K_LENGTH, rle_v2_encode(lengths, signed=False))] + streams
            if ridx is not None:
                streams = [(K_ROWIDX, ridx[0])] + streams
            return fin(codec, streams, np.ascontiguousarray(vals), lengths)
        if flat.null_count == 0 and pa.types.is_floating(child):
            fvals = np.ascontiguousarray(flat.to_numpy(zero_copy_only=False))
            return fin("arr_float_raw", [
                (K_LENGTH, rle_v2_encode(lengths, signed=False)),
                (K_DATA, fvals.view(np.uint8).data),
            ], fvals, lengths)

    # fallback: Arrow IPC round-trip for any type (incl. struct/map/decimal)
    sink = pa.BufferOutputStream()
    batch = pa.record_batch([arr], ["c"])
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    data = sink.getvalue().to_pybytes()
    blob = _assemble("raw_ipc", n, 0, [(K_DATA, data)])
    stats.update(codec="raw_ipc", enc_bytes=len(blob), crc32=zlib.crc32(data) & 0xFFFFFFFF)
    return blob, stats


# ------------------------------------------------------------- decode

# codecs that decode whole and are then sliced to the row windows (as is
# any column with nulls: the dense<->row mapping needs PRESENT prefix sums)
_WHOLE_CODECS = ("raw_ipc", "bool_rle", "str_direct", "str_dict", "str_fsst")


def _offsets(lens: np.ndarray) -> pa.Buffer:
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return pa.py_buffer(offsets.astype(np.int32).tobytes())


def decode_column(
    blob: bytes, typ: pa.DataType, row_ranges: list[tuple[int, int]] | None = None
) -> pa.Array:
    """Inverse of :func:`encode_column` — bit-identical values.

    ``row_ranges``: decode only these [start, stop) row windows (D19
    sub-block pruning); None is the one window [0, n). Null-free int,
    float and list columns SEEK — non-matching blocks cost no decode CPU
    (ranged bit_unpack at computed bit offsets); the other codecs, and
    any column with nulls, decode whole and slice, same result either
    way."""
    codec, n, n_nulls, streams = _parse(blob)
    if row_ranges is None:
        windows = [(0, n)]
    else:
        # clamp to the stripe row count (prune_row_ranges already
        # does; a caller's block-aligned range may not) — an unclamped
        # end would reshape-crash the ranged bit_unpack or (widths
        # 9..31) fabricate base-valued phantom rows
        windows = [(max(0, s), min(n, e)) for s, e in row_ranges if s < n]
    whole = bool(n_nulls) or codec in _WHOLE_CODECS
    rows = [(0, n)] if whole else windows  # the row windows decoded here
    dense = [(0, n - n_nulls)] if n_nulls else rows  # ... as dense value slices
    m = sum(e - s for s, e in rows)
    valid = bool_rle_decode(streams[K_PRESENT], n) if n_nulls else None
    validity = _validity_buffer(valid) if n_nulls else None

    def expand(vals: np.ndarray) -> np.ndarray:
        """Dense values -> one per row, zero under the nulls."""
        if not n_nulls:
            return vals
        full = np.zeros(n, dtype=vals.dtype)
        full[valid] = vals
        return full

    if codec == "raw_ipc":
        with pa.ipc.open_stream(pa.BufferReader(streams[K_DATA])) as r:
            arr = r.read_all().column("c").combine_chunks()
    elif codec.startswith("arr_"):
        lengths = rle_v2_decode(streams[K_LENGTH], n - n_nulls, signed=False)
        item_off = np.zeros(len(lengths) + 1, dtype=np.int64)
        np.cumsum(lengths, out=item_off[1:])
        items = [(int(item_off[s]), int(item_off[e])) for s, e in dense]
        child_typ = typ.value_type
        if codec == "arr_float_raw":
            raw = np.frombuffer(streams[K_DATA], dtype=child_typ.to_pandas_dtype())
            child = pa.array(_cat([raw[a:b] for a, b in items], raw.dtype), type=child_typ)
        else:
            vals = _int_values(codec, streams, int(item_off[-1]), items)
            child = pa.array(vals.astype(_INT_TYPES[child_typ]), type=child_typ)
        lens = expand(_cat([lengths[s:e] for s, e in dense]))
        arr = pa.ListArray.from_buffers(
            pa.list_(child_typ), m, [validity, _offsets(lens)], children=[child]
        )
    elif codec.startswith("str_"):
        n_dense = n - n_nulls
        if codec == "str_dict":
            dlens = rle_v2_decode(streams[K_DICT_LENGTH], None, signed=False)
            idx = rle_v2_decode(streams[K_DATA], n_dense, signed=False)
            blob_b, lengths = dict_decode(streams[K_DICT_DATA], dlens, idx)
        elif codec == "str_fsst":
            lengths = rle_v2_decode(streams[K_LENGTH], n_dense, signed=False)
            blob_b, lengths = fsst_decompress_column(streams[K_FSST_TABLE], streams[K_DATA], lengths)
        else:
            lengths = rle_v2_decode(streams[K_LENGTH], n_dense, signed=False)
            blob_b = streams[K_DATA]
        out_typ = pa.binary() if pa.types.is_binary(typ) else pa.string()
        arr = pa.Array.from_buffers(
            out_typ, n, [validity, _offsets(expand(lengths)), pa.py_buffer(blob_b)]
        )
    elif codec == "bool_rle":
        flags = expand(bool_rle_decode(streams[K_DATA], n - n_nulls))
        buf = np.packbits(flags.astype(bool), bitorder="little")
        arr = pa.Array.from_buffers(pa.bool_(), n, [validity, pa.py_buffer(buf.tobytes())])
    else:
        if codec == "float_raw":
            raw = np.frombuffer(streams[K_DATA], dtype=typ.to_pandas_dtype())
            vals, out_typ = _cat([raw[s:e] for s, e in dense], raw.dtype), typ
        else:
            vals = _int_values(codec, streams, n - n_nulls, dense)
            if pa.types.is_date32(typ):
                vals, out_typ = vals.astype(np.int32), pa.int32()
            elif pa.types.is_timestamp(typ):
                out_typ = pa.int64()
            else:
                vals, out_typ = vals.astype(_INT_TYPES[typ]), typ
        buf = pa.py_buffer(np.ascontiguousarray(expand(vals)).tobytes())
        arr = pa.Array.from_buffers(out_typ, m, [validity, buf])
    if codec != "raw_ipc" and arr.type != typ:  # raw_ipc keeps its stored type
        arr = arr.cast(typ)
    if windows == rows:
        return arr
    return pa.concat_arrays([arr.slice(s, e - s) for s, e in windows]) if windows else arr.slice(0, 0)


# ------------------------------------------------------------- stripe level

def encode_stripe(
    batch: pa.RecordBatch, namespace: str | None = None
) -> tuple[dict[str, bytes], list[dict]]:
    """Encode a whole stripe -> ({column: blob}, per-column stats).

    ``namespace`` is accepted and ignored: the output depends on ``batch``
    alone. It stays only because perfbench's traced replay passes it."""
    blobs: dict[str, bytes] = {}
    stats: list[dict] = []
    for i, name in enumerate(batch.schema.names):
        blob, st = encode_column(batch.column(i))
        st["column"] = name
        blobs[name] = blob
        stats.append(st)
    return blobs, stats


def decode_stripe(
    blobs: dict[str, bytes],
    schema: pa.Schema,
    columns: list[str] | None = None,
    row_ranges: list[tuple[int, int]] | None = None,
) -> pa.RecordBatch:
    """Decode (a projection of) a stripe. Column pruning = only the
    requested blobs are touched (S10 analogue).

    ``row_ranges``: keep only these [start, stop) row ranges (sub-block
    pruning, D19) — every column is sliced consistently so rows stay
    aligned."""
    names = columns if columns is not None else schema.names
    arrays = [
        decode_column(blobs[nm], schema.field(nm).type, row_ranges=row_ranges)
        for nm in names
    ]
    return pa.RecordBatch.from_arrays(arrays, names)


def prune_row_ranges(
    blobs: dict[str, bytes], prune: dict[str, tuple[int, int]]
) -> list[tuple[int, int]] | None:
    """Sub-block (D19) row ranges of a stripe that can satisfy ``prune``:
    the ``group_ranges`` of the SUB_BLOCK_ROWS blocks whose K_ROWIDX
    stats ``may_match`` every bound. None when no pruned column carries
    an index or every block survives (whole-stripe decode); [] when
    provably NO row can match (skip the stripe)."""
    keeps, n_rows = [], 0
    for col, (lo, hi) in prune.items():
        bs = read_block_stats(blobs[col]) if col in blobs else None
        if bs is not None:
            keeps.append(may_match(bs[1], bs[2], lo, hi))
            n_rows = _parse(blobs[col])[1]
    return group_ranges(surviving_groups(keeps), SUB_BLOCK_ROWS, n_rows)
