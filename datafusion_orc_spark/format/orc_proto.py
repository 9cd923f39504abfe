"""D1 — minimal protobuf parsing for ORC metadata (postscript, footer,
stripe footer), and the ORC type kinds with their Arrow types.

The ORC metadata messages are plain proto2; we hand-roll a reader for the
handful of messages the read path needs (the reference delegates this to
orc-rust's `read_metadata_async`, used at src/file_format.rs:47).

Message/field numbers from the public ORC v1 specification
(orc_proto.proto). Only wire types 0 (varint) and 2 (len-delimited) occur.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa

from datafusion_orc_spark.codecs.varint import varint_decode_scalar


def parse_message(buf: bytes) -> dict[int, list]:
    """Parse a protobuf message into {field_number: [values...]}.

    Varint fields -> int; len-delimited -> bytes (caller re-parses
    submessages/strings); packed repeated varints are detected by the
    caller via :func:`parse_packed_varints`.
    """
    fields: dict[int, list] = {}
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = varint_decode_scalar(buf, pos)
        fnum, wtype = key >> 3, key & 0x7
        if wtype == 0:
            val, pos = varint_decode_scalar(buf, pos)
        elif wtype == 2:
            ln, pos = varint_decode_scalar(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wtype == 5:  # fixed32
            val = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        elif wtype == 1:  # fixed64
            val = int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wtype}")
        fields.setdefault(fnum, []).append(val)
    return fields


def parse_packed_varints(buf: bytes) -> list[int]:
    out = []
    pos = 0
    while pos < len(buf):
        v, pos = varint_decode_scalar(buf, pos)
        out.append(v)
    return out


@dataclass
class PostScript:
    footer_length: int
    compression: int  # 0 NONE, 1 ZLIB, 2 SNAPPY, 3 LZO, 4 LZ4, 5 ZSTD
    compression_block_size: int
    version: tuple[int, ...]
    metadata_length: int
    magic: str


def parse_postscript(buf: bytes) -> PostScript:
    f = parse_message(buf)
    version = tuple(parse_packed_varints(f[4][0])) if 4 in f and isinstance(f[4][0], bytes) else tuple(f.get(4, []))
    return PostScript(
        footer_length=f[1][0],
        compression=f.get(2, [0])[0],
        compression_block_size=f.get(3, [262144])[0],
        version=version,
        metadata_length=f.get(5, [0])[0],
        magic=f.get(8000, [b"ORC"])[0].decode() if isinstance(f.get(8000, [b"ORC"])[0], bytes) else "ORC",
    )


@dataclass
class OrcType:
    kind: int  # Type.Kind enum
    subtypes: list[int] = field(default_factory=list)
    field_names: list[str] = field(default_factory=list)
    maximum_length: int = 0
    precision: int = 0
    scale: int = 0


# Type.Kind enum values (orc_proto.proto)
BOOLEAN, BYTE, SHORT, INT, LONG, FLOAT, DOUBLE, STRING, BINARY, TIMESTAMP = range(10)
LIST, MAP, STRUCT, UNION, DECIMAL, DATE, VARCHAR, CHAR, TIMESTAMP_INSTANT = range(10, 19)

# ORC kind <-> Arrow type, for every kind the kind alone maps (ref:
# file_format.rs:50-52 maps the type tree 1:1). Timestamps read as UTC
# nanoseconds; TIMESTAMP_INSTANT is the tz-aware one. DECIMAL and
# LIST/MAP/STRUCT/UNION take their Arrow type from the type entry's
# precision/scale or children.
ARROW_TYPES = {
    BOOLEAN: pa.bool_(),
    BYTE: pa.int8(),
    SHORT: pa.int16(),
    INT: pa.int32(),
    LONG: pa.int64(),
    FLOAT: pa.float32(),
    DOUBLE: pa.float64(),
    STRING: pa.string(),
    BINARY: pa.binary(),
    TIMESTAMP: pa.timestamp("ns"),
    DATE: pa.date32(),
    VARCHAR: pa.string(),
    CHAR: pa.string(),
    TIMESTAMP_INSTANT: pa.timestamp("ns", tz="UTC"),
}
# the inverse, as the writer declares: an Arrow string is a STRING (a
# CHAR/VARCHAR comes only from write_orc's string_kinds)
ORC_KINDS = {t: k for k, t in ARROW_TYPES.items() if k not in (VARCHAR, CHAR)}

# ORC kind -> how its bloom filter hashes a value (spec "Bloom Filter
# Index"): Murmur3-64 of the bytes, or Thomas Wang's 64-bit mix of the
# int64 value / of the float64's IEEE-754 bits (codecs/bloom.py)
BLOOM_HASH_KINDS = {
    **dict.fromkeys((STRING, VARCHAR, CHAR, BINARY), "bytes"),
    **dict.fromkeys((BYTE, SHORT, INT, LONG, DATE), "int"),
    **dict.fromkeys((FLOAT, DOUBLE), "float"),
}

# Stream.Kind enum values
S_PRESENT, S_DATA, S_LENGTH, S_DICTIONARY_DATA, S_DICTIONARY_COUNT, S_SECONDARY, S_ROW_INDEX = range(7)
S_BLOOM_FILTER, S_BLOOM_FILTER_UTF8 = 7, 8  # row-group bloom filter index streams

# ColumnEncoding.Kind enum values
E_DIRECT, E_DICTIONARY, E_DIRECT_V2, E_DICTIONARY_V2 = range(4)


def _parse_type(buf: bytes) -> OrcType:
    f = parse_message(buf)
    subtypes: list[int] = []
    for v in f.get(2, []):
        if isinstance(v, bytes):
            subtypes.extend(parse_packed_varints(v))
        else:
            subtypes.append(v)
    return OrcType(
        kind=f.get(1, [STRUCT])[0],
        subtypes=subtypes,
        field_names=[b.decode() for b in f.get(3, [])],
        maximum_length=f.get(4, [0])[0],
        precision=f.get(5, [0])[0],
        scale=f.get(6, [0])[0],
    )


@dataclass
class StripeInformation:
    offset: int
    index_length: int
    data_length: int
    footer_length: int
    number_of_rows: int


@dataclass
class Footer:
    header_length: int
    content_length: int
    stripes: list[StripeInformation]
    types: list[OrcType]
    number_of_rows: int
    row_index_stride: int
    metadata: dict[str, bytes]


def parse_footer(buf: bytes) -> Footer:
    f = parse_message(buf)
    stripes = []
    for sb in f.get(3, []):
        sf = parse_message(sb)
        stripes.append(
            StripeInformation(
                offset=sf.get(1, [0])[0],
                index_length=sf.get(2, [0])[0],
                data_length=sf.get(3, [0])[0],
                footer_length=sf.get(4, [0])[0],
                number_of_rows=sf.get(5, [0])[0],
            )
        )
    meta = {}
    for mb in f.get(5, []):
        mf = parse_message(mb)
        if 1 in mf and 2 in mf:
            meta[mf[1][0].decode()] = mf[2][0]
    return Footer(
        header_length=f.get(1, [3])[0],
        content_length=f.get(2, [0])[0],
        stripes=stripes,
        types=[_parse_type(tb) for tb in f.get(4, [])],
        number_of_rows=f.get(6, [0])[0],
        row_index_stride=f.get(8, [0])[0],
        metadata=meta,
    )


@dataclass
class StreamInfo:
    kind: int
    column: int
    length: int


@dataclass
class ColumnEncoding:
    kind: int
    dictionary_size: int


@dataclass
class StripeFooter:
    streams: list[StreamInfo]
    columns: list[ColumnEncoding]


def parse_stripe_footer(buf: bytes) -> StripeFooter:
    f = parse_message(buf)
    streams = []
    for sb in f.get(1, []):
        sf = parse_message(sb)
        streams.append(
            StreamInfo(
                kind=sf.get(1, [S_DATA])[0],
                column=sf.get(2, [0])[0],
                length=sf.get(3, [0])[0],
            )
        )
    cols = []
    for cb in f.get(2, []):
        cf = parse_message(cb)
        cols.append(ColumnEncoding(kind=cf.get(1, [E_DIRECT])[0], dictionary_size=cf.get(2, [0])[0]))
    return StripeFooter(streams=streams, columns=cols)
