"""D1-D18 — pure-python ORC v1 reader subset -> Arrow.

This is the capability the reference crate exposes to DataFusion
(reference: src/physical_exec.rs:57-91 `OrcOpener` builds an async
ORC->Arrow batch stream; src/file_format.rs:44-54 infers the Arrow schema
from the file tail), re-expressed over numpy/pyarrow with the codec
kernels from ``datafusion_orc_spark.codecs``.

Scope: the encodings present in the reference's own test corpus
(/root/reference/tests/basic/data/*.orc — SNAPPY, DIRECT_V2,
DICTIONARY_V2, nested list/map/struct, decimal, date) plus NONE/ZLIB/LZO/
LZ4/ZSTD compression and the v1 DIRECT/DICTIONARY (RLEv1) encodings of
ORC 0.11 writers, plus UNION (non-null rows -> Arrow dense union,
conformance-tested against an ORC-Java-written uniontype file; union
columns with null rows raise — Arrow dense unions carry no validity).
Each ORC kind reads as its ``orc_proto.ARROW_TYPES`` type (decimals and
nested kinds from their type entry); ``OrcReader.arrow_types`` holds
every column id's Arrow type, computed once per file.

Used for conformance tests (decode the corpus bit-identically vs
pyarrow.orc) and as the F5 stream-level oracle (our RLEv2 decoder applied
to ORC-C++-written streams).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import zlib
from decimal import Decimal

import numpy as np
import pyarrow as pa

from datafusion_orc_spark.codecs.byterle import byte_rle_decode
from datafusion_orc_spark.codecs.rlev1 import rle_v1_decode
from datafusion_orc_spark.codecs.rlev2 import rle_v2_decode
from datafusion_orc_spark.codecs.varint import (
    varint_decode,
    varint_decode_big,
    varint_decode_scalar,
    zigzag_decode,
    zigzag_decode_scalar,
)
from datafusion_orc_spark.format import orc_proto as proto
from datafusion_orc_spark.format.orc_index import (
    group_ranges,
    may_match,
    parse_row_index,
    stripe_stats_from_metadata,
    surviving_groups,
)


_EPOCH_ORDINAL = _dt.date(1970, 1, 1).toordinal()


def _day_number(bound):
    """A DATE column's prune bound as the day number its statistics and
    bloom filters hold: a ``datetime.date`` converts, anything else (an
    int day, None) passes through."""
    return bound.toordinal() - _EPOCH_ORDINAL if isinstance(bound, _dt.date) else bound


def decompress_stream(raw: bytes, compression: int) -> bytes:
    """D2 — per-stream chunked decompression (3-byte LE header =
    (len << 1) | isOriginal; verified on the corpus postscript)."""
    if compression == 0 or not raw:
        return raw
    out = bytearray()
    pos = 0
    n = len(raw)
    while pos < n:
        hdr = raw[pos] | (raw[pos + 1] << 8) | (raw[pos + 2] << 16)
        pos += 3
        ln = hdr >> 1
        chunk = raw[pos : pos + ln]
        pos += ln
        if hdr & 1:
            out += chunk
        elif compression == 1:  # ZLIB (raw deflate)
            out += zlib.decompress(chunk, -15)
        elif compression == 2:  # SNAPPY
            size, _ = varint_decode_scalar(chunk, 0)  # snappy's length preamble
            out += pa.Codec("snappy").decompress(chunk, size).to_pybytes()
        elif compression == 3:  # LZO1X block (no native codec: pure-py decode)
            from datafusion_orc_spark.codecs.lzoblock import lzo1x_decompress

            out += lzo1x_decompress(chunk)
        elif compression == 4:  # LZ4 block (exact size unknown: pure-py decode)
            from datafusion_orc_spark.codecs.lz4block import lz4_block_decompress

            out += lz4_block_decompress(chunk)
        elif compression == 5:  # ZSTD (framed; size read from the frame)
            out += pa.CompressedInputStream(pa.BufferReader(chunk), "zstd").read()
        else:
            raise NotImplementedError(f"compression kind {compression}")
    return bytes(out)


def _validity_buffer(valid: np.ndarray) -> pa.Buffer | None:
    if valid.all():
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())


def _decimal_array(typ: pa.Decimal128Type, mantissa, scales, valid: np.ndarray, n: int) -> pa.Array:
    """Build a ``typ`` array from decoded mantissas + per-value scales.

    Vectorized when precision <= 18 and every per-value scale aligns to
    the type scale by a non-negative power of 10 that keeps the scaled
    mantissa within 18 digits (every file ORC-Java/C++ write in practice:
    they emit scale == type scale). decimal128 stores the unscaled value
    as a little-endian 128-bit int, so the buffer is just (lo, hi=sign)
    int64 pairs. Falls back to a python Decimal loop for >18-digit
    mantissas or pathological scale streams.
    """
    if isinstance(mantissa, np.ndarray) and typ.precision <= 18:
        adj = (typ.scale - scales.astype(np.int64))
        # guard both signs explicitly: np.abs(INT64_MIN) == INT64_MIN
        # (negative), so an adversarial mantissa would pass an abs-based
        # check and wrap in the power-of-10 multiply below
        bound = (10**18 - 1) // np.power(10, adj, dtype=np.int64) if adj.size else adj
        if adj.size == 0 or (
            (adj >= 0).all()
            and (adj <= 18).all()
            and (mantissa <= bound).all()
            and (mantissa >= -bound).all()
        ):
            scaled = mantissa * np.power(10, adj, dtype=np.int64)
            full = np.zeros(n, dtype=np.int64)
            full[valid] = scaled
            pair = np.empty((n, 2), dtype=np.int64)
            pair[:, 0] = full
            pair[:, 1] = full >> 63  # sign extension to 128 bits
            return pa.Array.from_buffers(
                typ, n, [_validity_buffer(valid), pa.py_buffer(pair.tobytes())]
            )
    ctx = decimal.Context(prec=42)  # default prec=28 would round 38-digit mantissas
    py, j = [], 0
    for r in range(n):
        if valid[r]:
            py.append(Decimal(int(mantissa[j])).scaleb(-int(scales[j]), context=ctx))
            j += 1
        else:
            py.append(None)
    return pa.array(py, type=typ)


def _arrow_types(types: list[proto.OrcType]) -> list[pa.DataType]:
    """The Arrow type of every ORC column id (``proto.ARROW_TYPES``;
    decimals and nested kinds from their entry). Ids are pre-order, so
    every child comes after its parent: one pass from the last id up
    finds each child's type already built."""
    out: list[pa.DataType] = [None] * len(types)
    for col in reversed(range(len(types))):
        t = types[col]
        kids = [out[sub] for sub in t.subtypes]
        if t.kind in proto.ARROW_TYPES:
            out[col] = proto.ARROW_TYPES[t.kind]
        elif t.kind == proto.DECIMAL:
            out[col] = pa.decimal128(t.precision or 38, t.scale)
        elif t.kind == proto.LIST:
            out[col] = pa.list_(kids[0])
        elif t.kind == proto.MAP:
            out[col] = pa.map_(kids[0], kids[1])
        elif t.kind == proto.STRUCT:
            out[col] = pa.struct([pa.field(nm, kid) for nm, kid in zip(t.field_names, kids)])
        elif t.kind == proto.UNION:
            out[col] = pa.dense_union([pa.field(str(i), kid) for i, kid in enumerate(kids)])
        else:
            raise NotImplementedError(f"ORC type kind {t.kind}")
    return out


class _StripeReader:
    def __init__(
        self,
        orc: "OrcReader",
        info: proto.StripeInformation,
        needed_ids: set[int] | None = None,
    ):
        """``needed_ids``: ORC type ids whose streams this reader will
        touch (a projected read). When given, column pruning reaches the
        IO layer — only the stripe footer plus the needed streams' byte
        ranges are fetched (adjacent needed ranges coalesce into one
        ranged read); unprojected columns' streams are NEVER read
        (ref: physical_exec.rs:69-78 projects before opening streams).
        None = unprojected: one whole-stripe ranged read (fewer
        round-trips; the right call when decoding every column)."""
        self.orc = orc
        self.info = info
        comp = orc.postscript.compression
        if needed_ids is None:
            raw = orc._read(info.offset, info.index_length + info.data_length + info.footer_length)
            footer = proto.parse_stripe_footer(
                decompress_stream(raw[info.index_length + info.data_length :], comp)
            )
            self.encodings = footer.columns
            self.streams: dict[tuple[int, int], bytes] = {}
            off = 0
            for s in footer.streams:
                self.streams[(s.column, s.kind)] = raw[off : off + s.length]
                off += s.length
            return
        fraw = orc._read(info.offset + info.index_length + info.data_length, info.footer_length)
        footer = proto.parse_stripe_footer(decompress_stream(fraw, comp))
        self.encodings = footer.columns
        self.streams = {}
        wanted: list[tuple[int, int, tuple[int, int]]] = []  # (start, end, key)
        off = 0
        for s in footer.streams:
            if s.column in needed_ids:
                wanted.append((off, off + s.length, (s.column, s.kind)))
            off += s.length
        # coalesce byte-adjacent needed streams into single ranged reads
        i = 0
        while i < len(wanted):
            j = i
            while j + 1 < len(wanted) and wanted[j + 1][0] == wanted[j][1]:
                j += 1
            start, end = wanted[i][0], wanted[j][1]
            raw = orc._read(info.offset + start, end - start)
            for st, en, key in wanted[i : j + 1]:
                self.streams[key] = raw[st - start : en - start]
            i = j + 1

    def stream(self, column: int, kind: int) -> bytes:
        raw = self.streams.get((column, kind))
        if raw is None:
            return b""
        return decompress_stream(raw, self.orc.postscript.compression)

    def has_stream(self, column: int, kind: int) -> bool:
        return (column, kind) in self.streams

    def stream_at(self, column: int, kind: int, pos: list[int]) -> tuple[bytes, list[int]]:
        """Stream bytes starting at a ROW_INDEX position; returns
        (bytes from the seek point, remaining codec positions).

        Compressed: pos = [chunk byte offset, offset in decompressed
        chunk, ...codec]; uncompressed: [byte offset, ...codec]."""
        raw = self.streams.get((column, kind), b"")
        comp = self.orc.postscript.compression
        if comp == 0:
            return raw[pos[0] :], pos[1:]
        return decompress_stream(raw[pos[0] :], comp)[pos[1] :], pos[2:]

    # positions-per-stream arity (codec part; compression adds 1):
    # raw byte streams 1, RLE streams 2, boolean bit streams 3
    _POS_RAW, _POS_RLE, _POS_BOOL = 1, 2, 3

    def decode_column(
        self, col: int, n: int, group: int | None = None, entries_for=None
    ) -> pa.Array | None:
        """Decode ``n`` rows of this column, recursively over the type tree.

        ``group=None`` decodes from the stripe's first row. With a row
        group, every stream is SEEKED via that group's RowIndexEntry
        positions (ORC-Java's reader machinery, mirrored; the reference
        delegates the same seek to orc-rust, physical_exec.rs:83-88):
        each stream is entered at its recorded (chunk, offset) and the
        codec skips (values-into-run / bit offset) are decoded and
        dropped. A whole-stripe decode is the same walk with every
        position at zero. ``entries_for(col)`` returns a column's parsed
        row index — nested children (LIST/MAP/STRUCT/UNION subtypes)
        recurse with their OWN index entries, which ORC records at the
        same row-group boundaries; the parent's decoded LENGTH/tag
        stream supplies how many child values the group owns. Returns
        None only when a seek's index entry is missing (the caller then
        decodes from the stripe start and slices)."""
        t = self.orc.footer.types[col]
        typ = self.orc.arrow_types[col]
        enc = self.encodings[col].kind
        if group is None:

            def at(kind: int, arity: int) -> tuple[bytes, list[int]]:
                return self.stream(col, kind), [0] * (arity - 1)

        else:
            entries = entries_for(col)
            if group >= len(entries):
                return None
            comp_extra = 1 if self.orc.postscript.compression else 0
            pos = list(entries[group]["positions"])

            def at(kind: int, arity: int) -> tuple[bytes, list[int]]:
                nonlocal pos
                a = arity + comp_extra
                p, pos = pos[:a], pos[a:]
                return self.stream_at(col, kind, p)

        def bools(kind: int, n_bits: int) -> np.ndarray:
            buf, (byte_skip, bit) = at(kind, self._POS_BOOL)
            packed = byte_rle_decode(
                np.frombuffer(buf, dtype=np.uint8), byte_skip + (bit + n_bits + 7) // 8
            )[byte_skip:]
            return np.unpackbits(packed, count=bit + n_bits)[bit:].astype(bool)

        # integer-stream decoder: v1 for DIRECT/DICTIONARY (ORC 0.11),
        # v2 for *_V2 (HIVE-8732+) — both verified vs ORC-Java writers;
        # v1 positions carry the same [byte offset, values-into-run] shape
        int_dec = rle_v1_decode if enc in (proto.E_DIRECT, proto.E_DICTIONARY) else rle_v2_decode

        def rle(kind: int, m: int, signed: bool | None) -> np.ndarray:
            """``m`` values of an RLE stream; ``signed=None`` = byte RLE."""
            buf, (skip,) = at(kind, self._POS_RLE)
            b = np.frombuffer(buf, dtype=np.uint8)
            if signed is None:
                return byte_rle_decode(b, skip + m)[skip:]
            return int_dec(b, skip + m, signed=signed)[skip:]

        valid = np.ones(n, dtype=bool)
        if self.has_stream(col, proto.S_PRESENT):
            valid = bools(proto.S_PRESENT, n)
        n_vals = int(valid.sum())
        k = t.kind
        if k == proto.BOOLEAN:
            return self._primitive(typ, bools(proto.S_DATA, n_vals), valid, n)
        if k == proto.BYTE:
            return self._primitive(typ, rle(proto.S_DATA, n_vals, None).view(np.int8), valid, n)
        if k in (proto.SHORT, proto.INT, proto.LONG, proto.DATE):
            vals = rle(proto.S_DATA, n_vals, signed=True)
            return self._primitive(typ, vals.astype(f"<i{typ.bit_width // 8}"), valid, n)
        if k in (proto.FLOAT, proto.DOUBLE):
            buf, _ = at(proto.S_DATA, self._POS_RAW)
            vals = np.frombuffer(buf, dtype=f"<f{typ.bit_width // 8}", count=n_vals)
            return self._primitive(typ, vals, valid, n)
        if k in (proto.STRING, proto.VARCHAR, proto.CHAR, proto.BINARY):
            if enc in (proto.E_DICTIONARY, proto.E_DICTIONARY_V2):
                # the dictionary itself is stripe-wide: never seeked
                idx = rle(proto.S_DATA, n_vals, signed=False)
                blob = self.stream(col, proto.S_DICTIONARY_DATA)
                dict_size = self.encodings[col].dictionary_size
                dict_lens = int_dec(self.stream(col, proto.S_LENGTH), dict_size, signed=False)
                offsets = np.zeros(dict_size + 1, dtype=np.int64)
                np.cumsum(dict_lens, out=offsets[1:])
                starts = offsets[idx]
                lens = offsets[idx + 1] - starts
                out_off = np.zeros(n_vals + 1, dtype=np.int64)
                np.cumsum(lens, out=out_off[1:])
                b = np.frombuffer(blob, dtype=np.uint8)
                # vectorized gather (same trick as codecs.strings.dict_decode)
                flat_idx = np.repeat(starts - out_off[:-1], lens) + np.arange(int(out_off[-1]))
                gather = b[flat_idx] if n_vals else np.empty(0, np.uint8)
                return self._varlen(typ, out_off, gather.tobytes(), valid, n)
            buf, _ = at(proto.S_DATA, self._POS_RAW)
            lengths = rle(proto.S_LENGTH, n_vals, signed=False)
            offsets = np.zeros(n_vals + 1, dtype=np.int64)
            np.cumsum(lengths, out=offsets[1:])
            return self._varlen(typ, offsets, buf[: int(offsets[-1])], valid, n)
        if k in (proto.TIMESTAMP, proto.TIMESTAMP_INSTANT):
            secs = rle(proto.S_DATA, n_vals, signed=True)
            nanos_enc = rle(proto.S_SECONDARY, n_vals, signed=False)
            # low 3 bits = removed trailing zeros (0 => none, z => 10^(z+1));
            # the payload is SIGNED via two's complement (the ORC C++ writer
            # emits negative sub-second parts for pre-1970 instants), so use
            # an arithmetic shift — verified against pyarrow-written streams.
            zeros = (nanos_enc.view(np.uint64) & np.uint64(7)).astype(np.int64)
            nanos = (nanos_enc >> 3) * np.power(10, np.where(zeros > 0, zeros + 1, 0))
            abs_secs = secs + 1420070400  # 2015-01-01T00:00:00Z
            # ORC pre-1970 convention (ORC-Java writers, incl. ours):
            # positive-nanos rows before 1970 are stored one second ahead;
            # the reader subtracts it back. C++-written streams carry
            # SIGNED nanos instead (handled above) and never hit this.
            abs_secs -= ((abs_secs < 0) & (nanos > 999999)).astype(np.int64)
            total = abs_secs * 1_000_000_000 + nanos
            return self._primitive(typ, total, valid, n)
        if k == proto.DECIMAL:
            # DATA = unbounded varint mantissas (raw stream: 1 position),
            # SECONDARY = per-value scales (RLE)
            buf, _ = at(proto.S_DATA, self._POS_RAW)
            if typ.precision > 18:
                # unbounded varint mantissas (python ints) for >64-bit
                big, _ = varint_decode_big(buf, n_vals)
                mantissa = [zigzag_decode_scalar(m) for m in big]
            else:
                u, _ = varint_decode(buf, n_vals)
                mantissa = zigzag_decode(u)
            scales = rle(proto.S_SECONDARY, n_vals, signed=True)
            return _decimal_array(typ, mantissa, scales, valid, n)
        if k in (proto.LIST, proto.MAP):
            # the LENGTH values say how many child values these rows own;
            # a seeking child enters via its OWN RowIndexEntry (ORC records
            # child positions at the same row-group boundaries, already
            # offset past earlier groups' values)
            lengths = rle(proto.S_LENGTH, n_vals, signed=False)
            full = np.zeros(n, dtype=np.int64)
            full[valid] = lengths
            offsets = np.zeros(n + 1, dtype=np.int32)
            offsets[1:] = np.cumsum(full)
            n_items = int(full.sum())
            children = [self.decode_column(sc, n_items, group, entries_for) for sc in t.subtypes]
            if any(c is None for c in children):
                return None
            buffers = [_validity_buffer(valid), pa.py_buffer(offsets.tobytes())]
            if k == proto.MAP:
                children = [pa.StructArray.from_arrays(children, fields=[typ.key_field, typ.item_field])]
            return pa.Array.from_buffers(typ, n, buffers, children=children)
        if k == proto.STRUCT:
            children = [self.decode_column(sc, n_vals, group, entries_for) for sc in t.subtypes]
            if any(c is None for c in children):
                return None
            fields = list(typ)
            if n_vals == n:
                return pa.StructArray.from_arrays(children, fields=fields)
            # expand children through validity
            mask = pa.array(~valid)
            # all-null rows: children are EMPTY arrays, so the take-by-0
            # expansion below would raise ArrowIndexError — emit typed
            # null children directly
            if n_vals == 0:
                return pa.StructArray.from_arrays(
                    [pa.nulls(n, type=ch.type) for ch in children],
                    fields=fields, mask=mask,
                )
            idx = np.full(n, -1, dtype=np.int64)
            idx[valid] = np.arange(n_vals)
            take = pa.array(np.where(valid, idx, 0))
            return pa.StructArray.from_arrays([ch.take(take) for ch in children], fields=fields, mask=mask)
        if k == proto.UNION:
            # ORC UNION: DATA = per-row child tag (byte RLE); child i holds
            # only the rows tagged i, densely — exactly Arrow's DENSE union
            # layout (pyarrow.orc surfaces the same data as a sparse union;
            # values compare equal row-by-row). Verified against an
            # ORC-Java-written uniontype file (tests/test_orc_union.py).
            if n_vals != n:
                raise NotImplementedError(
                    "UNION with null rows: Arrow dense unions carry no "
                    "validity; no writer in this sandbox produces one to "
                    "verify a convention against"
                )
            tags = rle(proto.S_DATA, n_vals, None).astype(np.int8)
            offsets = np.zeros(n_vals, dtype=np.int32)
            children = []
            for ci, sub in enumerate(t.subtypes):
                m = tags == ci
                offsets[m] = np.arange(int(m.sum()), dtype=np.int32)
                child = self.decode_column(sub, int(m.sum()), group, entries_for)
                if child is None:
                    return None
                children.append(child)
            return pa.UnionArray.from_dense(
                pa.array(tags, type=pa.int8()), pa.array(offsets, type=pa.int32()), children
            )
        raise NotImplementedError(f"ORC type kind {k}")

    def _primitive(self, typ: pa.DataType, vals: np.ndarray, valid: np.ndarray, n: int) -> pa.Array:
        if len(vals) == n:
            full = vals
        else:
            full = np.zeros(n, dtype=vals.dtype)
            full[valid] = vals
        buf = pa.py_buffer(np.ascontiguousarray(full).tobytes())
        if typ == pa.bool_():
            buf = pa.py_buffer(np.packbits(full.astype(bool), bitorder="little").tobytes())
        return pa.Array.from_buffers(typ, n, [_validity_buffer(valid), buf])

    def _varlen(self, typ: pa.DataType, offsets: np.ndarray, blob: bytes, valid: np.ndarray, n: int) -> pa.Array:
        if len(offsets) - 1 == n:
            full_off = offsets
        else:
            lens = np.diff(offsets)
            full_lens = np.zeros(n, dtype=np.int64)
            full_lens[valid] = lens
            full_off = np.zeros(n + 1, dtype=np.int64)
            full_off[1:] = np.cumsum(full_lens)
        return pa.Array.from_buffers(
            typ, n, [_validity_buffer(valid), pa.py_buffer(full_off.astype(np.int32).tobytes()), pa.py_buffer(blob)]
        )


class OrcReader:
    """Read an ORC file into an Arrow table (schema inference + decode).

    Mirrors the reference's read path: `fetch_schema` = TAIL-ONLY ranged
    read (src/file_format.rs:44-54 — never the whole file); per-stripe
    ranged reads (src/object_store_reader.rs:40-58). ``opener`` abstracts
    the byte source (local fs by default) the way the reference's
    ObjectStoreReader abstracts ranged GETs: any callable returning a
    seekable binary file object works (fsspec/S3/HDFS adapters plug in
    without touching the decode path).
    """

    _TAIL_GUESS = 16 * 1024

    def __init__(self, path_or_bytes: str | bytes, opener=None):
        import io

        if isinstance(path_or_bytes, (bytes, bytearray)):
            self._f = io.BytesIO(bytes(path_or_bytes))
        elif opener is not None:
            self._f = opener(path_or_bytes)
        else:
            self._f = open(path_or_bytes, "rb")
        self._f.seek(0, 2)
        self._len = self._f.tell()
        # tail-only metadata read: postscript + footer live at the end
        tail = self._read(max(0, self._len - self._TAIL_GUESS), min(self._len, self._TAIL_GUESS))
        ps_len = tail[-1]
        self.postscript = proto.parse_postscript(tail[-1 - ps_len : -1])
        need = self.postscript.footer_length + ps_len + 1
        if need > len(tail):
            tail = self._read(self._len - need, need)
        f_end = len(tail) - 1 - ps_len
        footer_raw = tail[f_end - self.postscript.footer_length : f_end]
        self.footer = proto.parse_footer(decompress_stream(footer_raw, self.postscript.compression))
        self.arrow_types = _arrow_types(self.footer.types)

    def _read(self, offset: int, length: int) -> bytes:
        self._f.seek(offset)
        return self._f.read(length)

    def stripe_statistics(self) -> list[list[dict]]:
        """[stripe][orc column id] statistics from the file Metadata
        section (one small ranged read, cached) — stripe pruning inputs
        WITHOUT touching any stripe bytes (D19/S7 for foreign files)."""
        if getattr(self, "_stripe_stats", None) is None:
            ml = self.postscript.metadata_length
            if not ml:
                self._stripe_stats = []
            else:
                ps_len_pos = self._len - 1
                ps_len = self._read(ps_len_pos, 1)[0]
                meta_start = self._len - 1 - ps_len - self.postscript.footer_length - ml
                self._stripe_stats = stripe_stats_from_metadata(
                    decompress_stream(self._read(meta_start, ml), self.postscript.compression)
                )
        return self._stripe_stats

    def _subtree_ids(self, col: int) -> set[int]:
        """All ORC type ids in the subtree rooted at ``col`` (pre-order
        tree: nested LIST/MAP/STRUCT/UNION children carry their own
        streams, so a projected read must fetch the whole subtree)."""
        out = {col}
        for sub in self.footer.types[col].subtypes or ():
            out |= self._subtree_ids(sub)
        return out

    def _bloom_surviving_groups(
        self,
        sr: "_StripeReader",
        prune_ids: dict[int, tuple],
        groups: list[int] | None,
        n_groups: int,
    ) -> list[int] | None:
        """Intersect stats-surviving ``groups`` (None = all) with each
        point predicate's bloom filter verdicts. Conservative: columns
        without a bloom stream, non-point predicates, and unhashable
        type kinds pass through untouched."""
        from datafusion_orc_spark.codecs.bloom import (
            bloom_might_contain,
            hash_for_value,
            parse_bloom_index,
        )

        for col, (lo, hi) in prune_ids.items():
            if lo is None or hi is None or lo != hi:
                continue
            if not sr.has_stream(col, proto.S_BLOOM_FILTER_UTF8):
                continue
            hkind = proto.BLOOM_HASH_KINDS.get(self.footer.types[col].kind)
            if hkind is None:
                continue
            filters = parse_bloom_index(sr.stream(col, proto.S_BLOOM_FILTER_UTF8))
            h = hash_for_value(lo, hkind)
            cand = range(n_groups) if groups is None else groups
            groups = [
                g
                for g in cand
                if g >= len(filters)
                or bloom_might_contain(filters[g][0], filters[g][1], h)
            ]
        return groups

    def schema(self) -> pa.Schema:
        """ORC type tree -> Arrow schema (ref: file_format.rs:50-52)."""
        root = self.footer.types[0]
        return pa.schema(
            [pa.field(name, self.arrow_types[sub]) for name, sub in zip(root.field_names, root.subtypes)]
        )

    def iter_stripes(
        self,
        columns: list[str] | None = None,
        stripes: list[int] | None = None,
        batch_rows: int | None = None,
        prune: dict[str, tuple] | None = None,
    ):
        """STREAM record batches stripe-by-stripe — the reference's batched
        scan shape (file_source.rs:31,44 streams 1024-row batches; a whole-
        file materialization is an OOM magnet at real file sizes).

        ``stripes``: indices into footer.stripes (for byte-range splits —
        physical_exec.rs:79-82 `with_file_byte_range`); None = all.
        ``batch_rows``: slice each stripe's batch to at most this many rows.
        Each stripe's bytes are fetched with one ranged read and released
        before the next stripe is touched.

        ``prune``: {column name: (lo, hi)} — statistics pruning for
        FOREIGN files (D19): stripes whose Metadata stats prove no match
        are skipped without reading a single stripe byte; within
        surviving stripes the per-column ROW_INDEX drops row groups that
        cannot match (decode + slice; conservative — rows outside the
        bounds inside surviving groups still come back, callers
        re-apply the exact predicate).
        """
        root = self.footer.types[0]
        names = root.field_names
        sel = list(range(len(names))) if columns is None else [names.index(c) for c in columns]
        out_names = [names[i] for i in sel]
        # projection reaches IO: fetch only the projected subtrees'
        # streams (plus the root's), never the whole stripe range
        needed_ids = None
        if columns is not None and len(sel) < len(names):
            needed_ids = {0}
            for i in sel:
                needed_ids |= self._subtree_ids(root.subtypes[i])
        idxs = range(len(self.footer.stripes)) if stripes is None else stripes
        prune_ids = {}
        for c, (lo, hi) in (prune or {}).items():
            if c in names:
                col = root.subtypes[names.index(c)]
                if self.footer.types[col].kind == proto.DATE:
                    lo, hi = _day_number(lo), _day_number(hi)
                prune_ids[col] = (lo, hi)
        sstats = self.stripe_statistics() if prune_ids else []
        if needed_ids is not None and prune_ids:
            # prune columns may sit outside the projection; their
            # ROW_INDEX streams must still be fetched for group pruning
            needed_ids = needed_ids | set(prune_ids)
        stride = self.footer.row_index_stride
        for si in idxs:
            info = self.footer.stripes[si]
            if prune_ids and si < len(sstats):
                st = sstats[si]
                if not all(
                    may_match(st[col]["min"], st[col]["max"], lo, hi)
                    for col, (lo, hi) in prune_ids.items()
                    if col < len(st)
                ):
                    continue  # whole stripe provably misses: zero reads
            sr = _StripeReader(self, info, needed_ids)
            col_entries: dict[int, list] = {}

            def entries_for(cid: int) -> list:
                # lazy per-column index parse: the bound columns' for
                # group pruning, nested children's on their first seek
                if cid not in col_entries:
                    col_entries[cid] = (
                        parse_row_index(sr.stream(cid, proto.S_ROW_INDEX))
                        if sr.has_stream(cid, proto.S_ROW_INDEX)
                        else []
                    )
                return col_entries[cid]

            row_ranges = None
            if prune_ids and stride:
                groups = surviving_groups(
                    [may_match(e["stats"].get("min"), e["stats"].get("max"), lo, hi) for e in entries_for(col)]
                    for col, (lo, hi) in prune_ids.items()
                )
                if groups != []:
                    # POINT predicates (lo == hi) additionally consult the
                    # column's bloom filter index when the writer emitted
                    # one (BLOOM_FILTER_UTF8): min/max stats cannot
                    # discriminate a point inside a wide range, the bloom
                    # can — groups whose filter proves absence drop here
                    # without decoding a value
                    groups = self._bloom_surviving_groups(
                        sr, prune_ids, groups, -(-info.number_of_rows // stride)
                    )
                row_ranges = group_ranges(groups, stride, info.number_of_rows)
                if row_ranges == []:
                    continue
            batch = None
            if row_ranges is not None:
                # positional seek: enter every stream at the first
                # surviving group's recorded positions of each range and
                # decode ONLY the range's rows (adjacent groups run on
                # as one range) — decode CPU inside foreign stripes
                # scales with surviving rows, not stripe rows. A column
                # whose row index lacks the group's entry falls back to
                # decoding from the stripe start + slice below.
                per_column = [
                    [sr.decode_column(root.subtypes[i], e - s, s // stride, entries_for) for s, e in row_ranges]
                    for i in sel
                ]
                if all(a is not None for arrays in per_column for a in arrays):
                    batch = pa.RecordBatch.from_arrays(
                        [pa.concat_arrays(arrays) for arrays in per_column], out_names
                    )
            if batch is None:
                arrays = [sr.decode_column(root.subtypes[i], info.number_of_rows) for i in sel]
                batch = pa.RecordBatch.from_arrays(arrays, out_names)
                del arrays
                if row_ranges is not None:
                    batch = pa.RecordBatch.from_arrays(
                        [
                            pa.concat_arrays([c.slice(s, e - s) for s, e in row_ranges])
                            for c in batch.columns
                        ],
                        out_names,
                    )
            del sr
            if batch_rows is None or batch.num_rows <= batch_rows:
                yield batch
            else:
                for pos in range(0, batch.num_rows, batch_rows):
                    yield batch.slice(pos, min(batch_rows, batch.num_rows - pos))

    def read(
        self,
        columns: list[str] | None = None,
        stripes: list[int] | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> pa.Table:
        """Decode stripes -> Arrow table. ``columns`` = projection pushdown
        by name (ref: physical_exec.rs:69-78 name->index mask); ``prune``
        = statistics pushdown (see iter_stripes)."""
        batches = list(self.iter_stripes(columns, stripes, prune=prune))
        schema = self.schema()
        if columns is not None:
            schema = pa.schema([schema.field(schema.names.index(c)) for c in columns])
        return pa.Table.from_batches(batches, schema=schema)


def read_orc(
    path: str, columns: list[str] | None = None, prune: dict[str, tuple] | None = None
) -> pa.Table:
    return OrcReader(path).read(columns, prune=prune)
