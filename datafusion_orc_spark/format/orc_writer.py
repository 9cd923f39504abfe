"""ORC v1 file WRITER — produces real ``.orc`` files from Arrow data
using this engine's codec kernels (RLEv2, byte/bool RLE, varints).

The reference crate is read-only (SURVEY.md §2.1: no writer anywhere in
the checkout); this module is the complement that proves format-level
parity in the strongest way available in-sandbox: files written here are
read back bit-identically by the Apache ORC C++ reader (pyarrow.orc) —
i.e. by the same implementation family the reference delegates decoding
to (orc-rust mirrors the same spec).

Scope: NONE/SNAPPY/ZLIB/LZO/LZ4/ZSTD compression (every stream, stripe
footer and file footer chunk-framed with the 3-byte (len<<1)|isOriginal
header — the corpus the reference ships is SNAPPY), DICTIONARY_V2 with
SORTED symbol tables for strings (ORC writer heuristic: dictionary when
distinct/total <= 0.8, mirroring orc.dictionary.key.threshold), the full
pre-order type tree of boolean/int8/16/32/64/float/double/string/
binary/date/timestamp/decimal (incl. 38-digit)/list/map/struct/union
(``_type_tree``; primitive kinds from ``orc_proto.ORC_KINDS``, the
inverse of the reader's ``orc_proto.ARROW_TYPES``), nullable via
PRESENT streams, multiple stripes, and statistics:
per-stripe + file-level ColumnStatistics (footer field 7 + Metadata
section) and ROW_INDEX with MULTIPLE row groups per stripe
(rowIndexStride default 10000) carrying REAL per-stream seek positions
— RLEv2 streams restart a run at each stride boundary, byte/bool RLE
record (run offset, skip, bit) via encoder control maps, raw streams
record byte offsets, and compression maps them to (chunk, in-chunk)
pairs — which lets ORC-Java SearchArgument / ORC C++ / Spark skip our
stripes AND seek inside them, and answer min/max/count from footer
stats alone.
"""

from __future__ import annotations

import functools
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from datafusion_orc_spark.codecs.bitpack import bit_widths
from datafusion_orc_spark.codecs.byterle import bool_rle_encode, byte_rle_encode
from datafusion_orc_spark.codecs.rlev2 import rle_v2_encode
from datafusion_orc_spark.codecs.varint import varint_encode, varint_encode_scalar, zigzag_scalar
from datafusion_orc_spark.format import orc_proto as proto

MAGIC = b"ORC"

# postscript CompressionKind values (ORC v1 spec)
_COMPRESSION_KINDS = {"none": 0, "zlib": 1, "snappy": 2, "lzo": 3, "lz4": 4, "zstd": 5}

# ORC's default dictionary heuristic (orc.dictionary.key.threshold=0.8):
# dictionary-encode a string column when distinct/total <= this ratio
DICT_KEY_THRESHOLD = 0.8


def _compress_chunk(chunk: bytes, kind: int) -> bytes:
    if kind == 1:  # ZLIB = raw deflate
        co = zlib.compressobj(level=6, wbits=-15)
        return co.compress(chunk) + co.flush()
    if kind == 2:  # SNAPPY
        return pa.Codec("snappy").compress(chunk).to_pybytes()
    if kind == 3:  # LZO1X block (pure-py; no native codec in this env)
        from datafusion_orc_spark.codecs.lzoblock import lzo1x_compress

        return lzo1x_compress(chunk)
    if kind == 4:  # LZ4 (block format)
        return pa.Codec("lz4_raw").compress(chunk).to_pybytes()
    if kind == 5:  # ZSTD (framed)
        return pa.Codec("zstd").compress(chunk).to_pybytes()
    raise NotImplementedError(f"compression kind {kind}")


def compress_stream(raw: bytes, kind: int, block: int = 262144, return_chunks: bool = False):
    """Chunk-frame `raw` for an ORC compressed stream: per <=block chunk,
    3-byte LE header (len << 1) | isOriginal, falling back to the
    original bytes when compression does not shrink the chunk (spec
    behavior; format/orc_reader.py decompress_stream is the inverse).

    ``return_chunks=True`` also returns the framed byte offset of each
    chunk (chunk i covers raw bytes [i*block, (i+1)*block)) — the seek
    table for mapping raw positions to (chunk offset, offset in chunk)
    ROW_INDEX pairs."""
    if kind == 0 or not raw:
        return (raw, [0]) if return_chunks else raw
    out = bytearray()
    chunk_offs: list[int] = []
    for pos in range(0, len(raw), block):
        chunk_offs.append(len(out))
        chunk = raw[pos : pos + block]
        comp = _compress_chunk(chunk, kind)
        if len(comp) >= len(chunk):
            hdr = (len(chunk) << 1) | 1
            body = chunk
        else:
            hdr = len(comp) << 1
            body = comp
        out += bytes((hdr & 0xFF, (hdr >> 8) & 0xFF, (hdr >> 16) & 0xFF))
        out += body
    if return_chunks:
        return bytes(out), chunk_offs
    return bytes(out)


# ------------------------------------------------------------ protobuf write

def _field_varint(tag: int, value: int) -> bytes:
    return varint_encode_scalar((tag << 3) | 0) + varint_encode_scalar(value)


def _field_bytes(tag: int, data: bytes) -> bytes:
    return varint_encode_scalar((tag << 3) | 2) + varint_encode_scalar(len(data)) + data


def _packed_varints(tag: int, values: list[int]) -> bytes:
    payload = b"".join(varint_encode_scalar(v) for v in values)
    return _field_bytes(tag, payload)


def _field_sint(tag: int, value: int) -> bytes:
    """proto sint64: zigzag + varint."""
    return _field_varint(tag, zigzag_scalar(value))


def _field_double(tag: int, value: float) -> bytes:
    import struct

    return varint_encode_scalar((tag << 3) | 1) + struct.pack("<d", value)


# ------------------------------------------------------------ column stats
#
# ColumnStatistics (ORC v1 proto): 1=numberOfValues 2=intStatistics
# 3=doubleStatistics 4=stringStatistics 5=bucketStatistics
# 7=dateStatistics 8=binaryStatistics 10=hasNull. Int min/max/sum are
# sint64, date min/max sint32; double stats are doubles; string sum =
# total byte length. Each row group's stats are collected once; stripe
# and file stats are their ``_merge_stats``.

def _collect_stats(arr: pa.Array, typ: pa.DataType) -> dict:
    n = len(arr)
    nulls = arr.null_count
    s: dict = {"n": n - nulls, "has_null": nulls > 0, "kind": None}
    dense = arr.drop_null() if nulls else arr
    if len(dense) == 0:
        return s
    if typ == pa.bool_():
        s["kind"] = "bucket"
        s["true_count"] = int(pc.sum(dense).as_py() or 0)
    elif typ in (pa.int8(), pa.int16(), pa.int32(), pa.int64()) or pa.types.is_date32(typ):
        # min_max/sum work on the native width (pc.sum accumulates in
        # int64) — casting a 7.9M-value token child to int64 first was
        # a pure copy on the writer's hottest stats path. date32 still
        # casts (its scalars surface as datetime.date, not int), to
        # int32: pyarrow casts date32 to no other integer type. A DATE
        # has the spec's dateStatistics: min/max days, no sum.
        if pa.types.is_date32(typ):
            dense = dense.cast(pa.int32())
            s["kind"] = "date"
        else:
            s["kind"] = "int"
            total = int(pc.sum(dense).as_py())
            if -(1 << 63) <= total < (1 << 63):
                s["sum"] = total
        mm = pc.min_max(dense)
        s["min"], s["max"] = int(mm["min"].as_py()), int(mm["max"].as_py())
    elif typ in (pa.float32(), pa.float64()):
        mm = pc.min_max(dense)
        s["kind"] = "double"
        s["min"], s["max"] = float(mm["min"].as_py()), float(mm["max"].as_py())
        s["sum"] = float(pc.sum(dense).as_py())
    elif typ == pa.string():
        mm = pc.min_max(dense)
        s["kind"] = "string"
        s["min"], s["max"] = mm["min"].as_py(), mm["max"].as_py()
        s["sum"] = int(pc.sum(pc.utf8_length(dense)).as_py() or 0)
    elif typ == pa.binary():
        s["kind"] = "binary"
        s["sum"] = int(pc.sum(pc.binary_length(dense)).as_py() or 0)
    return s


def _merge_stats(a: dict, b: dict) -> dict:
    out = {
        "n": a["n"] + b["n"],
        "has_null": a["has_null"] or b["has_null"],
        "kind": a["kind"] or b["kind"],
    }
    if a.get("kind") is None:
        return {**b, **out}
    if b.get("kind") is None:
        return {**a, **out}
    if "min" in a or "min" in b:
        mins = [x["min"] for x in (a, b) if "min" in x]
        maxs = [x["max"] for x in (a, b) if "max" in x]
        out["min"], out["max"] = min(mins), max(maxs)
    if "sum" in a and "sum" in b:
        total = a["sum"] + b["sum"]
        if out["kind"] != "int" or -(1 << 63) <= total < (1 << 63):
            out["sum"] = total
    if "true_count" in a or "true_count" in b:
        out["true_count"] = a.get("true_count", 0) + b.get("true_count", 0)
    return out


def _serialize_stats(s: dict) -> bytes:
    body = _field_varint(1, s["n"])
    kind = s.get("kind")
    if kind in ("int", "date") and "min" in s:
        # sint32 date days zigzag exactly as sint64 ints do
        sub = _field_sint(1, s["min"]) + _field_sint(2, s["max"])
        if "sum" in s:
            sub += _field_sint(3, s["sum"])
        body += _field_bytes(2 if kind == "int" else 7, sub)
    elif kind == "double" and "min" in s:
        sub = _field_double(1, s["min"]) + _field_double(2, s["max"])
        if "sum" in s:
            sub += _field_double(3, s["sum"])
        body += _field_bytes(3, sub)
    elif kind == "string" and "min" in s:
        sub = (
            _field_bytes(1, s["min"].encode())
            + _field_bytes(2, s["max"].encode())
            + _field_sint(3, s.get("sum", 0))
        )
        body += _field_bytes(4, sub)
    elif kind == "bucket":
        body += _field_bytes(5, _packed_varints(1, [s.get("true_count", 0)]))
    elif kind == "binary":
        body += _field_bytes(8, _field_sint(1, s.get("sum", 0)))
    body += _field_varint(10, 1 if s["has_null"] else 0)
    return body


# ------------------------------------------------------------ type tree

_CHAR_KINDS = {"char": proto.CHAR, "varchar": proto.VARCHAR}


def _type_tree(
    schema: pa.Schema, string_kinds: dict[str, tuple[str, int]] | None = None
) -> list[proto.OrcType]:
    """The footer type tree of ``schema``, indexed by ORC column id:
    pre-order, root struct = 0. Each node reserves its id before its
    children are walked, so a node's subtype ids are what their walks
    return. Kinds come from ``proto.ORC_KINDS``; a timestamp of any unit
    is stored as UTC nanoseconds, so it maps as the ns type with its zone
    (if any) read as UTC.

    ``string_kinds``: {top-level column name: ("char"|"varchar",
    max_len)} — Arrow has no char/varchar types, so a foreign CHAR file
    read through Arrow and rewritten would silently widen to STRING;
    this propagates the declared kind + maximumLength (ORC Type field 4)
    into the footer while the streams stay the STRING layout (identical
    per the spec)."""
    types: list[proto.OrcType] = []

    def walk(typ: pa.DataType) -> int:
        my_id = len(types)
        t = proto.OrcType(kind=proto.STRUCT)
        types.append(t)
        if pa.types.is_timestamp(typ):
            typ = pa.timestamp("ns", "UTC" if typ.tz else None)
        if typ in proto.ORC_KINDS:
            t.kind = proto.ORC_KINDS[typ]
        elif pa.types.is_decimal(typ):
            t.kind, t.precision, t.scale = proto.DECIMAL, typ.precision, typ.scale
        elif pa.types.is_list(typ):
            t.kind, t.subtypes = proto.LIST, [walk(typ.value_type)]
        elif pa.types.is_map(typ):
            t.kind, t.subtypes = proto.MAP, [walk(typ.key_type), walk(typ.item_type)]
        elif pa.types.is_struct(typ):
            t.subtypes = [walk(f.type) for f in typ]
            t.field_names = [f.name for f in typ]
        elif pa.types.is_union(typ):
            t.kind, t.subtypes = proto.UNION, [walk(typ.field(i).type) for i in range(typ.num_fields)]
        else:
            raise NotImplementedError(str(typ))
        return my_id

    walk(pa.struct(schema))
    for f, cid in zip(schema, types[0].subtypes):
        if string_kinds and f.name in string_kinds and f.type == pa.string():
            kind, max_len = string_kinds[f.name]
            types[cid].kind = _CHAR_KINDS[kind.lower()]
            types[cid].maximum_length = int(max_len)
    return types


def _type_entry(t: proto.OrcType) -> bytes:
    """One footer Type message (orc_proto.proto field numbers)."""
    body = _field_varint(1, t.kind)
    if t.kind in (proto.LIST, proto.MAP, proto.STRUCT, proto.UNION):
        body += _packed_varints(2, t.subtypes)
    for name in t.field_names:
        body += _field_bytes(3, name.encode())
    if t.kind in (proto.CHAR, proto.VARCHAR):
        body += _field_varint(4, t.maximum_length)
    if t.kind == proto.DECIMAL:
        body += _field_varint(5, t.precision) + _field_varint(6, t.scale)
    return body


# ------------------------------------------------------------ column encode

def _dictionary_streams(dense: pa.Array) -> tuple[np.ndarray, list[bytes]] | None:
    """-> (per-row sorted-rank indexes, SORTED symbol table values), or
    None when the column does not pass the dictionary heuristic
    (distinct/total > 0.8). The caller builds the DICTIONARY_V2 streams
    (the index stream is row-group-split for ROW_INDEX positions)."""
    n_vals = len(dense)
    if n_vals == 0:
        return None
    d = dense.combine_chunks().dictionary_encode() if isinstance(dense, pa.ChunkedArray) else dense.dictionary_encode()
    if len(d.dictionary) > DICT_KEY_THRESHOLD * n_vals:
        return None
    vals = d.dictionary.cast(pa.large_binary()).to_pylist()
    order = np.argsort(np.array(vals, dtype=object), kind="stable")
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    idx = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    sorted_vals = [vals[i] for i in order]
    return rank[idx], sorted_vals


def _ctrl_pos(out_pos: np.ndarray, in_pos: np.ndarray, b: int) -> list[int]:
    """Byte-RLE seek position of input byte ``b`` from a control map:
    (output offset of the control whose run contains b, bytes to skip)."""
    if not len(out_pos):
        return [0, 0]
    b = min(b, int(in_pos[-1]) + 129)  # clamp degenerate all-null tails
    i = max(0, int(np.searchsorted(in_pos, b, side="right")) - 1)
    return [int(out_pos[i]), int(b - in_pos[i])]


def _rle_grouped(values: np.ndarray, vstarts: list[int], signed: bool) -> tuple[bytes, list[list[int]]]:
    """RLEv2-encode ``values`` restarting a fresh run at every group
    start, so each group's seek position is exactly (byte offset, 0).
    Restarting at the stride boundary is the classic writer trade: a few
    split runs buy trivially-correct positions (a reader that ignores
    the index sees an ordinary run concatenation)."""
    if len(vstarts) <= 1:
        return rle_v2_encode(values, signed=signed), [[0, 0]]
    parts: list[bytes] = []
    offs: list[list[int]] = []
    off = 0
    bounds = list(vstarts) + [len(values)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        offs.append([off, 0])
        part = rle_v2_encode(values[a:b], signed=signed)
        parts.append(part)
        off += len(part)
    return b"".join(parts), offs


def _decimal_to_int_exact(d, scale: int) -> int:
    """decimal.Decimal -> exact unscaled int mantissa at ``scale``.

    Pure-integer arithmetic from as_tuple(): immune to the active decimal
    context's precision (the default prec=28 rounds 38-digit mantissas).
    """
    sign, digits, exp = d.as_tuple()
    m = int("".join(map(str, digits)))
    e = exp + scale
    if e >= 0:
        m *= 10**e
    else:
        q, r = divmod(m, 10**-e)
        if r:
            raise ValueError(f"decimal {d} does not fit scale {scale}")
        m = q
    return -m if sign else m


def _encode_orc_column(
    arr: pa.Array, typ: pa.DataType, group_starts: list[int] | None = None
) -> tuple[list[tuple[int, bytes]], int, int, list[list[list[int]]]]:
    """-> (streams [(kind, bytes)...] for this column, encoding kind,
    dictionary size, positions).

    ``group_starts``: row-group start indexes in this column's own row
    space (root columns: stripe row offsets; list children: flattened
    value offsets — see _assign_arrays). ``positions`` is parallel to
    ``streams``: per stream, per group, the raw (pre-compression) seek
    positions with the spec arity — [] for unpositioned streams.
    RLEv2 streams restart runs at group boundaries (offset, 0); byte/
    bool RLE record real mid-stream run positions via the control map;
    raw streams record plain byte offsets.
    """
    n = len(arr)
    gs = [0] if not group_starts else [int(g) for g in group_starts]
    streams: list[tuple[int, bytes]] = []
    positions: list[list[list[int]]] = []
    if arr.null_count:
        valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
        pres, c_out, c_in = bool_rle_encode(valid, return_controls=True)
        streams.append((proto.S_PRESENT, pres))
        positions.append([_ctrl_pos(c_out, c_in, g // 8) + [g % 8] for g in gs])
        dense = arr.drop_null()
        cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(valid, out=cum[1:])
        vstarts = [int(cum[g]) for g in gs]
    else:
        dense = arr
        vstarts = gs
    enc = proto.E_DIRECT_V2
    dict_size = 0

    if typ == pa.bool_():
        flags = dense.to_numpy(zero_copy_only=False).astype(bool)
        data, c_out, c_in = bool_rle_encode(flags, return_controls=True)
        streams.append((proto.S_DATA, data))
        positions.append([_ctrl_pos(c_out, c_in, v // 8) + [v % 8] for v in vstarts])
        enc = proto.E_DIRECT
    elif typ == pa.int8():
        raw = dense.to_numpy(zero_copy_only=False).view(np.uint8)
        data, c_out, c_in = byte_rle_encode(raw, return_controls=True)
        streams.append((proto.S_DATA, data))
        positions.append([_ctrl_pos(c_out, c_in, v) for v in vstarts])
        enc = proto.E_DIRECT
    elif typ in (pa.int16(), pa.int32(), pa.int64()) or pa.types.is_date32(typ):
        # int16/int32/date stay 32-bit into the encoder: rle_v2_encode
        # has an int32 fast path (half the memory traffic — the token
        # child stream is the writer's dominant cost) and promotes to
        # int64 itself only when the value span risks delta overflow
        if typ == pa.int64():
            base = dense.cast(pa.int64()).to_numpy(zero_copy_only=False)
        else:
            base = dense.cast(pa.int32()).to_numpy(zero_copy_only=False)
        data, dpos = _rle_grouped(base, vstarts, signed=True)
        streams.append((proto.S_DATA, data))
        positions.append(dpos)
    elif typ in (pa.float32(), pa.float64()):
        npv = dense.to_numpy(zero_copy_only=False)
        streams.append((proto.S_DATA, npv.tobytes()))
        positions.append([[v * npv.dtype.itemsize] for v in vstarts])
        enc = proto.E_DIRECT
    elif pa.types.is_timestamp(typ):
        # ORC TIMESTAMP: DATA = seconds since 2015-01-01 (signed RLEv2),
        # SECONDARY = nanos with the 3-bit removed-trailing-zeros code
        ns = dense.cast(pa.timestamp("ns")).cast(pa.int64()).to_numpy(zero_copy_only=False)
        epoch_2015 = 1420070400
        secs1970 = ns // 1_000_000_000
        nanos = (ns % 1_000_000_000).astype(np.int64)
        # The boundary second (-1s, 0): floor-seconds would be -1, but the
        # emitted abs second (-1 + 1 = 0) is not < 0, so the reader's
        # pre-1970 adjustment can never fire and the value reads +1s too
        # high. ORC C++ represents this interval as second 0 with SIGNED
        # negative nanos (pyarrow-written files decode correctly through
        # this repo's reader via the arithmetic shift) — mirror that.
        boundary = (secs1970 == -1) & (nanos > 999999)
        secs1970 = np.where(boundary, 0, secs1970)
        nanos = np.where(boundary, nanos - 1_000_000_000, nanos)
        # pre-1970 quirk (matches ORC-Java writer / ORC C++ reader): the
        # reader does `if (secs < 0 && nanos > 999999) secs -= 1`, so the
        # writer emits floor-seconds + 1 exactly for those rows
        secs = secs1970 + ((secs1970 < 0) & (nanos > 999999)) - epoch_2015
        # removed-trailing-zeros encoding: z zeros stripped -> low3 = z-1
        # (z >= 2), else low3 = 0 and the full value shifted in; negative
        # nanos (boundary rows) keep z = 0 and ride the arithmetic shift
        rem = nanos.copy()
        zeros = np.zeros(len(nanos), dtype=np.int64)
        nz = rem > 0
        for _ in range(8):
            div = (rem % 10 == 0) & nz & (zeros < 8)
            if not div.any():
                break
            rem[div] //= 10
            zeros[div] += 1
        code = np.where(zeros >= 2, zeros - 1, 0)
        val = np.where(zeros >= 2, rem, nanos)
        enc_nanos = (val << 3) | code
        d1, p1 = _rle_grouped(secs, vstarts, signed=True)
        d2, p2 = _rle_grouped(enc_nanos, vstarts, signed=False)
        streams.append((proto.S_DATA, d1))
        positions.append(p1)
        streams.append((proto.S_SECONDARY, d2))
        positions.append(p2)
    elif typ in (pa.string(), pa.binary()):
        dict_streams = _dictionary_streams(dense) if typ == pa.string() else None
        if dict_streams is not None:
            rank_idx, sorted_vals = dict_streams
            data, dpos = _rle_grouped(rank_idx, vstarts, signed=False)
            streams.append((proto.S_DATA, data))
            positions.append(dpos)
            streams.append((proto.S_DICTIONARY_DATA, b"".join(sorted_vals)))
            positions.append([])
            streams.append(
                (proto.S_LENGTH, rle_v2_encode(np.array([len(v) for v in sorted_vals], dtype=np.int64), signed=False))
            )
            positions.append([])
            dict_size = len(sorted_vals)
            enc = proto.E_DICTIONARY_V2
        else:
            lb = dense.cast(pa.large_binary())
            bufs = lb.buffers()
            off = np.frombuffer(bufs[1], dtype=np.int64, count=len(lb) + 1, offset=lb.offset * 8)
            blob = bufs[2].to_pybytes()[off[0] : off[-1]] if len(lb) else b""
            lengths = np.diff(off)
            streams.append((proto.S_DATA, blob))
            positions.append([[int(off[v] - off[0])] for v in vstarts])
            d2, p2 = _rle_grouped(lengths.astype(np.int64), vstarts, signed=False)
            streams.append((proto.S_LENGTH, d2))
            positions.append(p2)
    elif pa.types.is_list(typ):
        lengths = pc.list_value_length(dense).to_numpy(zero_copy_only=False).astype(np.int64)
        data, dpos = _rle_grouped(lengths, vstarts, signed=False)
        streams.append((proto.S_LENGTH, data))
        positions.append(dpos)
    elif pa.types.is_map(typ):
        offs = np.frombuffer(
            dense.buffers()[1], dtype=np.int32, count=len(dense) + 1, offset=dense.offset * 4
        ).astype(np.int64)
        data, dpos = _rle_grouped(np.diff(offs), vstarts, signed=False)
        streams.append((proto.S_LENGTH, data))
        positions.append(dpos)
    elif pa.types.is_struct(typ):
        enc = proto.E_DIRECT  # struct: PRESENT only; children are own columns
    elif pa.types.is_union(typ):
        # DATA = per-row child tag, byte-RLE (dense unions carry no nulls)
        tags = np.frombuffer(dense.buffers()[1], dtype=np.int8, count=len(dense), offset=dense.offset)
        data, c_out, c_in = byte_rle_encode(tags.view(np.uint8), return_controls=True)
        streams.append((proto.S_DATA, data))
        positions.append([_ctrl_pos(c_out, c_in, v) for v in vstarts])
        enc = proto.E_DIRECT
    elif pa.types.is_decimal(typ):
        # ORC DECIMAL: DATA = zigzag varint mantissas (unbounded ints),
        # SECONDARY = per-value scale (RLEv2 signed). decimal128 has one
        # scale per type, so the scale stream is a constant run.
        nd = len(dense)
        if typ.precision <= 18:
            # mantissa fits int64: read the low lane of the 16-byte layout
            raw16 = np.frombuffer(
                dense.buffers()[1], dtype=np.uint64, count=nd * 2, offset=dense.offset * 16
            ).reshape(nd, 2)
            mant = raw16[:, 0].view(np.int64)
            with np.errstate(over="ignore"):
                u = ((mant << 1) ^ (mant >> 63)).view(np.uint64)
            data = varint_encode(u)
            vlens = np.maximum(1, -(-bit_widths(np.maximum(u, 1)) // 7))
        else:
            # exact int mantissa via as_tuple: Decimal.scaleb under the
            # default context (prec=28) silently ROUNDS >28-significant-
            # digit mantissas, corrupting wide (up to 38-digit) decimals
            parts = [
                varint_encode_scalar(zigzag_scalar(_decimal_to_int_exact(d, typ.scale)))
                for d in dense.to_pylist()
            ]
            data = b"".join(parts)
            vlens = np.array([len(b) for b in parts], dtype=np.int64)
        # per-value varint byte lengths -> raw positions at vstarts
        voff = np.zeros(nd + 1, dtype=np.int64)
        np.cumsum(vlens, out=voff[1:])
        streams.append((proto.S_DATA, data))
        positions.append([[int(voff[v])] for v in vstarts])
        scales = np.full(nd, typ.scale, dtype=np.int64)
        d2, p2 = _rle_grouped(scales, vstarts, signed=True)
        streams.append((proto.S_SECONDARY, d2))
        positions.append(p2)
    else:
        raise NotImplementedError(f"orc_writer: type {typ}")
    return streams, enc, dict_size, positions


def _check_string_kinds(table: pa.Table, string_kinds: dict[str, tuple[str, int]]) -> None:
    for cname, (_kind, max_len) in string_kinds.items():
        col = table.column(cname)
        if col.type != pa.string():
            raise TypeError(f"string_kinds[{cname!r}]: column is {col.type}, not string")
        longest = pc.max(pc.utf8_length(col.drop_null())).as_py() or 0
        if longest > max_len:
            raise ValueError(
                f"string_kinds[{cname!r}]: value length {longest} exceeds "
                f"declared maximumLength {max_len}"
            )


class OrcWriter:
    """Stream an ORC v1 file one stripe at a time: each ``write_table``
    encodes its table as ONE stripe and writes the stripe's bytes
    straight to ``where``; ``close()`` writes the Metadata section,
    footer and postscript. Memory is one stripe, not one file.

    ``where``: a path, or a writable file-like object (the object-store
    sink seam), which ``close()`` leaves open. The ``write_table`` /
    ``close`` surface is ``pq.ParquetWriter``'s, so the part-file roller
    (operators/encode.py ``_PartWriter``) drives either. Options are
    ``write_orc``'s."""

    def __init__(
        self,
        where,
        schema: pa.Schema,
        compression: str = "none",
        block_size: int = 262144,
        row_index_stride: int | None = None,
        string_kinds: dict[str, tuple[str, int]] | None = None,
        bloom_filter_columns: list[str] | None = None,
        bloom_filter_fpp: float = 0.05,
    ):
        self.comp = _COMPRESSION_KINDS[compression.lower()]
        self.block_size = block_size
        self.schema = schema
        self.string_kinds = string_kinds or {}
        if row_index_stride is None:
            row_index_stride = 10000  # ORC default; multiple row groups/stripe
        self.row_index_stride = row_index_stride
        self.bloom_filter_fpp = bloom_filter_fpp
        self.types = _type_tree(schema, string_kinds)

        self.bloom_ids: dict[int, str] = {}  # ORC column id -> hash kind
        if bloom_filter_columns and not row_index_stride:
            # bloom streams live inside ROW_INDEX row groups; with the index
            # disabled write_table would silently skip them and the caller
            # would believe blooms were written (ADVICE r6)
            raise ValueError(
                "bloom_filter_columns requires a row_index_stride (>0); "
                "row_index_stride=0 disables the row-group index that bloom "
                "filters attach to"
            )
        by_name = {f.name: (cid, f.type) for f, cid in zip(schema, self.types[0].subtypes)}
        for cname in bloom_filter_columns or ():
            cid, ctyp = by_name[cname]
            hkind = proto.BLOOM_HASH_KINDS.get(self.types[cid].kind)
            if hkind is None:
                raise TypeError(
                    f"bloom_filter_columns[{cname!r}]: no ORC bloom hash "
                    f"for type {ctyp} (string/binary/int/date/float only)"
                )
            self.bloom_ids[cid] = hkind

        self.stripe_infos: list[bytes] = []
        self.stripe_stats: list[list[dict]] = []  # per stripe: per ORC column id
        self.n_rows = 0
        self.owns_file = not hasattr(where, "write")
        self.fh = open(where, "wb") if self.owns_file else where
        self.pos = 0
        self._put(MAGIC)

    def _put(self, *chunks: bytes) -> None:
        for chunk in chunks:
            self.fh.write(chunk)
            self.pos += len(chunk)

    def write_table(self, table: pa.Table) -> None:
        """Encode ``table`` as one stripe and write it."""
        if not table.schema.equals(self.schema):
            raise ValueError(f"OrcWriter: table schema {table.schema} does not match the file's {self.schema}")
        table = table.combine_chunks()
        _check_string_kinds(table, self.string_kinds)
        comp, block_size, row_index_stride = self.comp, self.block_size, self.row_index_stride
        stripe_offset = self.pos
        n_rows = table.num_rows
        # row groups within this stripe (>=1; one entry per stride)
        if row_index_stride and row_index_stride < n_rows:
            row_group_starts = list(range(0, n_rows, row_index_stride))
        else:
            row_group_starts = [0]
        # encode columns in ORC id order (root has no streams); the walk
        # maps ORC ids -> (array, type, group starts in the column's own
        # row space — list children translate row groups to value ranges)
        col_arrays: dict[int, tuple[pa.Array, pa.DataType, list[int]]] = {}
        _assign_arrays(self.types, table, col_arrays, row_group_starts)
        data_bytes: list[bytes] = []
        data_meta: list[tuple[int, int, int]] = []  # (column, kind, length)
        encodings: list[tuple[int, int]] = [(proto.E_DIRECT, 0)]  # root struct
        # root struct stats: row count, no nulls at the root
        stats: list[dict] = [
            {"n": n_rows, "has_null": False, "kind": None}
        ]
        group_bounds = row_group_starts + [n_rows]
        # per column: per group (positions, stats) for the RowIndexEntry
        col_index: list[list[tuple[list[int], dict]]] = [
            [
                ([], {"n": b - a, "has_null": False, "kind": None})
                for a, b in zip(group_bounds[:-1], group_bounds[1:])
            ]
        ]
        for col_id in sorted(col_arrays):
            arr, typ, gstarts = col_arrays[col_id]
            streams, enc, dict_size, stream_pos = _encode_orc_column(arr, typ, gstarts)
            encodings.append((enc, dict_size))
            gb = [int(g) for g in gstarts] + [len(arr)]
            gstats = [_collect_stats(arr.slice(a, b - a), typ) for a, b in zip(gb[:-1], gb[1:])]
            stats.append(functools.reduce(_merge_stats, gstats))
            # frame each stream; map raw seek positions through the
            # compression chunk table ([chunk offset, offset in chunk]
            # replaces the raw byte offset when compressed)
            mapped: list[list[list[int]]] = []  # per stream, per group
            for (kind, data), raw_pos in zip(streams, stream_pos):
                framed, chunk_offs = compress_stream(data, comp, block_size, return_chunks=True)
                data_meta.append((col_id, kind, len(framed)))
                data_bytes.append(framed)
                if raw_pos:
                    if comp:
                        mapped.append(
                            [
                                [chunk_offs[min(p[0] // block_size, len(chunk_offs) - 1)], p[0] % block_size] + p[1:]
                                for p in raw_pos
                            ]
                        )
                    else:
                        mapped.append(raw_pos)
                else:
                    mapped.append([])
            entries: list[tuple[list[int], dict]] = []
            for g, gstat in enumerate(gstats):
                flat: list[int] = []
                for per_stream in mapped:
                    if per_stream:
                        flat.extend(per_stream[g])
                entries.append((flat, gstat))
            col_index.append(entries)
        # ROW_INDEX streams first (the stripe's index region): one
        # RowIndexEntry per row group with real stream seek positions
        # and that group's ColumnStatistics
        index_meta: list[tuple[int, int, int]] = []
        index_bytes: list[bytes] = []
        if row_index_stride:
            for col_id in range(len(stats)):
                body = b""
                for flat, gstat in col_index[col_id]:
                    entry = _field_bytes(2, _serialize_stats(gstat))
                    if flat:
                        entry = _packed_varints(1, flat) + entry
                    body += _field_bytes(1, entry)
                ri = compress_stream(body, comp, block_size)
                index_meta.append((col_id, proto.S_ROW_INDEX, len(ri)))
                index_bytes.append(ri)
        if row_index_stride and self.bloom_ids:
            from datafusion_orc_spark.codecs.bloom import (
                bloom_build,
                optimal_params,
                serialize_bloom_index,
            )

            # sized for the stride (not each group's actual count) so k
            # is constant per column — matches ORC writer behavior
            m_bits, n_hash = optimal_params(row_index_stride, self.bloom_filter_fpp)
            for col_id, hkind in self.bloom_ids.items():
                arr_b, typ_b, gst = col_arrays[col_id]
                gb_b = [int(g) for g in gst] + [len(arr_b)]
                filters = [
                    (
                        bloom_build(
                            _bloom_group_hashes(arr_b, typ_b, a, b, hkind),
                            m_bits,
                            n_hash,
                        ),
                        n_hash,
                    )
                    for a, b in zip(gb_b[:-1], gb_b[1:])
                ]
                bb = compress_stream(serialize_bloom_index(filters), comp, block_size)
                index_meta.append((col_id, proto.S_BLOOM_FILTER_UTF8, len(bb)))
                index_bytes.append(bb)
        index_len = sum(len(b) for b in index_bytes)
        data_len = sum(len(b) for b in data_bytes)
        # stripe footer (index streams listed first, matching byte layout)
        sf = b""
        for col, kind, length in index_meta + data_meta:
            sf += _field_bytes(1, _field_varint(1, kind) + _field_varint(2, col) + _field_varint(3, length))
        for enc, dict_size in encodings:
            body = _field_varint(1, enc)
            if dict_size:
                body += _field_varint(2, dict_size)
            sf += _field_bytes(2, body)
        sf = compress_stream(sf, comp, block_size)
        self._put(*index_bytes, *data_bytes, sf)
        self.stripe_infos.append(
            _field_varint(1, stripe_offset)
            + _field_varint(2, index_len)
            + _field_varint(3, data_len)
            + _field_varint(4, len(sf))
            + _field_varint(5, n_rows)
        )
        self.stripe_stats.append(stats)
        self.n_rows += n_rows

    def close(self) -> None:
        """Write the Metadata section, footer and postscript; close the
        file if this writer opened it."""
        comp, block_size = self.comp, self.block_size
        content_length = self.pos
        # Metadata section: per-stripe ColumnStatistics (what ORC-Java's
        # SearchArgument evaluates to skip whole stripes before any row read)
        metadata = b""
        for stats in self.stripe_stats:
            ss = b"".join(_field_bytes(1, _serialize_stats(s)) for s in stats)
            metadata += _field_bytes(1, ss)
        metadata = compress_stream(metadata, comp, block_size)

        footer = _field_varint(1, 3) + _field_varint(2, content_length)
        for si in self.stripe_infos:
            footer += _field_bytes(3, si)
        for t in self.types:
            footer += _field_bytes(4, _type_entry(t))
        footer += _field_varint(6, self.n_rows)
        # file-level ColumnStatistics: per-column merge across stripes; a
        # file with no stripe gets one zero-count entry per column, as
        # ORC C++ writes it
        empty = [[{"n": 0, "has_null": False}]] * len(self.types)
        for col_stats in zip(*self.stripe_stats) if self.stripe_stats else empty:
            footer += _field_bytes(7, _serialize_stats(functools.reduce(_merge_stats, col_stats)))
        footer += _field_varint(8, self.row_index_stride)
        footer = compress_stream(footer, comp, block_size)
        ps = (
            _field_varint(1, len(footer))
            + _field_varint(2, comp)
            + _field_varint(3, block_size)
            + _packed_varints(4, [0, 12])
            + _field_varint(5, len(metadata))
            + _field_bytes(8000, MAGIC)
        )
        self._put(metadata, footer, ps, bytes([len(ps)]))
        if self.owns_file:
            self.fh.close()


def write_orc(
    table: pa.Table,
    path: str,
    stripe_rows: int = 65536,
    compression: str = "none",
    block_size: int = 262144,
    row_index_stride: int | None = None,
    string_kinds: dict[str, tuple[str, int]] | None = None,
    bloom_filter_columns: list[str] | None = None,
    bloom_filter_fpp: float = 0.05,
) -> None:
    """Write an Arrow table as an ORC v1 file: ``OrcWriter`` fed one
    ``stripe_rows`` slice per stripe (an empty table gets no stripe, as
    ORC C++ writes it). ``path`` is a path or a writable file-like
    object.

    ``string_kinds``: {column: ("char"|"varchar", max_len)} footer-type
    overrides for string columns — preserves CHAR/VARCHAR declarations
    (with maximumLength) across a read-modify-write of a foreign file
    instead of silently widening to STRING (see _type_tree).
    Checked over the whole table before any byte reaches ``path``.

    ``compression``: none|snappy|zlib|lzo|lz4|zstd — applied per-stream (and
    to stripe/file footers) in <=block_size chunks, matching the corpus
    the reference ships (SNAPPY, block 262144).

    ``row_index_stride``: ROW_INDEX granularity; defaults to 10000 (the
    ORC default), so a stripe of more rows holds several row groups,
    each RowIndexEntry carrying real per-stream seek positions and that
    group's min/max stats for external readers (ORC-Java SearchArgument,
    ORC C++) and our reader to skip row groups with. 0 disables
    the index. Per-stripe + file-level ColumnStatistics are always
    written (footer field 7 + the Metadata section), enabling stats-only
    answers (e.g. Spark's ORC aggregate pushdown) without touching rows.

    ``bloom_filter_columns``: top-level string/binary/int/date/float
    columns that get a BLOOM_FILTER_UTF8 index stream (spec "Bloom
    Filter Index"): one filter per row group, sized for
    ``row_index_stride`` entries at ``bloom_filter_fpp``, hashed with
    the spec's Murmur3-64 (strings, seed 104729) / Thomas Wang mix
    (ints, IEEE-754 bits for floats) so ORC C++/Java readers can use
    them. Our reader consults them for POINT predicates (prune lo==hi)
    where min/max stats cannot discriminate — the 100-TB point-lookup
    path (codecs/bloom.py; beyond the reference, whose scan machinery
    stubs stats entirely, file_format.rs:108-116).
    """
    table = table.combine_chunks()
    _check_string_kinds(table, string_kinds or {})
    writer = OrcWriter(
        path, table.schema, compression, block_size, row_index_stride,
        string_kinds, bloom_filter_columns, bloom_filter_fpp,
    )
    for start in range(0, table.num_rows, stripe_rows):
        writer.write_table(table.slice(start, stripe_rows))
    writer.close()


def _bloom_group_hashes(arr, typ: pa.DataType, lo: int, hi: int, hkind: str) -> np.ndarray:
    """uint64 bloom hashes of one row group's NON-NULL values, hashed
    per the ORC spec (Murmur3-64 of utf8 bytes / Wang mix of int64)."""
    from datafusion_orc_spark.codecs.bloom import murmur3_hash64, wang_hash64

    a = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    v = a.slice(lo, hi - lo).drop_null()
    if len(v) == 0:
        return np.empty(0, dtype=np.uint64)
    if hkind == "bytes":
        v = v.cast(pa.large_binary())
        offs = np.frombuffer(
            v.buffers()[1], dtype="<i8", count=len(v) + 1, offset=v.offset * 8
        ).astype(np.int64)
        data = np.frombuffer(v.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
        return murmur3_hash64(data, offs - offs[0])
    if hkind == "float":
        x = v.cast(pa.float64()).to_numpy(zero_copy_only=False)
        return wang_hash64(np.ascontiguousarray(x).view(np.uint64))
    if typ == pa.date32():
        v = v.cast(pa.int32())
    x = v.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)
    return wang_hash64(x.view(np.uint64))


def _assign_arrays(types: list[proto.OrcType], tbl: pa.Table, out: dict, group_starts: list[int]) -> None:
    """Map ORC column ids (``_type_tree``'s) -> (array, type, group
    starts). Root columns inherit the stripe's row-group starts; a list
    child's groups are the flattened value offsets at those rows (null
    lists contribute 0), so its RowIndexEntry positions seek to the
    first child value of each row group."""

    def walk(my_id: int, arr: pa.Array, typ: pa.DataType, gstarts: list[int]) -> None:
        out[my_id] = (arr, typ, gstarts)
        sub = types[my_id].subtypes
        a = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        if pa.types.is_list(typ):
            lens = pc.list_value_length(a).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            cum = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=cum[1:])
            walk(sub[0], pc.list_flatten(a), typ.value_type, [int(cum[g]) for g in gstarts])
        elif pa.types.is_map(typ):
            # ORC MAP: children carry entries of NON-NULL rows only
            offs = np.frombuffer(a.buffers()[1], dtype=np.int32, count=len(a) + 1, offset=a.offset * 4).astype(np.int64)
            valid = pc.is_valid(a).to_numpy(zero_copy_only=False)
            row_lens = np.where(valid, np.diff(offs), 0)
            cum = np.zeros(len(a) + 1, dtype=np.int64)
            np.cumsum(row_lens, out=cum[1:])
            # gather entry indices of valid rows (null rows may still span)
            starts = offs[:-1][valid]
            take = np.repeat(starts - cum[:-1][valid], row_lens[valid]) + np.arange(int(cum[-1]))
            keys = a.keys.take(pa.array(take, type=pa.int64()))
            items = a.items.take(pa.array(take, type=pa.int64()))
            child_starts = [int(cum[g]) for g in gstarts]
            walk(sub[0], keys, typ.key_type, child_starts)
            walk(sub[1], items, typ.item_type, child_starts)
        elif pa.types.is_struct(typ):
            valid = pc.is_valid(a).to_numpy(zero_copy_only=False)
            cumv = np.zeros(len(a) + 1, dtype=np.int64)
            np.cumsum(valid, out=cumv[1:])
            child_starts = [int(cumv[g]) for g in gstarts]
            sel = pa.array(np.flatnonzero(valid), type=pa.int64())
            for i, f in enumerate(typ):
                # children carry values of NON-NULL struct rows only
                ch = a.field(i) if not a.null_count else a.field(i).take(sel)
                walk(sub[i], ch, f.type, child_starts)
        elif pa.types.is_union(typ):
            # ORC UNION: child i holds rows tagged i, densely, in ROW order
            tags = np.frombuffer(a.buffers()[1], dtype=np.int8, count=len(a), offset=a.offset)
            offsets = np.frombuffer(a.buffers()[2], dtype=np.int32, count=len(a), offset=a.offset * 4)
            for i in range(typ.num_fields):
                m = tags == i
                cumt = np.zeros(len(a) + 1, dtype=np.int64)
                np.cumsum(m, out=cumt[1:])
                ch = a.field(i).take(pa.array(offsets[m], type=pa.int64()))
                walk(sub[i], ch, typ.field(i).type, [int(cumt[g]) for g in gstarts])

    for i, (f, cid) in enumerate(zip(tbl.schema, types[0].subtypes)):
        col = tbl.column(i)
        walk(cid, col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col, f.type, list(group_starts))
