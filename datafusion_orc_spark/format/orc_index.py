"""ORC ROW_INDEX + statistics readers — the D19 seek surface for
FOREIGN ORC files (files we did not write).

The reference delegates decode to orc-rust, which evaluates row-group
statistics from the per-column ROW_INDEX streams (stride default 10000,
declared in the file footer); this module gives our reader the same
pruning inputs:

- ``parse_column_statistics``: ColumnStatistics (footer field 7,
  Metadata section, RowIndexEntry field 2) -> {n, has_null, min, max}
  for int / string / double stats.
- ``parse_row_index``: a stripe's per-column S_ROW_INDEX stream ->
  list of RowIndexEntry dicts (positions + statistics).
- ``stripe_stats_from_metadata``: the file Metadata section -> per
  stripe, per column statistics (stripe pruning without touching any
  stripe bytes).
- ``surviving_row_groups``: evaluate {column: (lo, hi)} bounds against
  a stripe's row index -> sorted row-group ids that may contain
  matching rows.

Everything parses with the generic protobuf walker in orc_proto
(spec: ORC v1; verified against ORC-Java-written indexes and our own
writer's, which ORC-Java itself validates in test_orc_writer.py).
"""

from __future__ import annotations

import struct

from datafusion_orc_spark.format import orc_proto as proto


def _zigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def parse_column_statistics(buf: bytes) -> dict:
    """ColumnStatistics message -> {"n", "has_null", "min", "max"}.

    min/max are ints (IntegerStatistics field 2), strings
    (StringStatistics field 4) or floats (DoubleStatistics field 3);
    None when the message carries no typed stats (e.g. root struct).
    """
    msg = proto.parse_message(buf)
    out = {
        "n": msg[1][0] if 1 in msg else None,
        "has_null": bool(msg[10][0]) if 10 in msg else False,
        "min": None,
        "max": None,
    }
    if 2 in msg:  # IntegerStatistics {1: sint64 min, 2: sint64 max}
        sub = proto.parse_message(msg[2][0])
        if 1 in sub:
            out["min"] = _zigzag(sub[1][0])
        if 2 in sub:
            out["max"] = _zigzag(sub[2][0])
    elif 3 in msg:  # DoubleStatistics {1: double min, 2: double max} (fixed64)
        sub = proto.parse_message(msg[3][0])
        if 1 in sub:
            out["min"] = struct.unpack("<d", int(sub[1][0]).to_bytes(8, "little"))[0]
        if 2 in sub:
            out["max"] = struct.unpack("<d", int(sub[2][0]).to_bytes(8, "little"))[0]
    elif 4 in msg:  # StringStatistics {1: min, 2: max}
        sub = proto.parse_message(msg[4][0])
        if 1 in sub:
            out["min"] = sub[1][0].decode("utf-8", "replace")
        if 2 in sub:
            out["max"] = sub[2][0].decode("utf-8", "replace")
    return out


def parse_row_index(buf: bytes) -> list[dict]:
    """One column's decompressed S_ROW_INDEX stream -> one dict per row
    group: {"positions": [int...], "stats": {...}}."""
    if not buf:
        return []
    entries = []
    for raw in proto.parse_message(buf).get(1, []):
        e = proto.parse_message(raw)
        positions: list[int] = []
        for p in e.get(1, []):
            # packed repeated uint64 (bytes) or a single varint value
            positions.extend(proto.parse_packed_varints(p) if isinstance(p, bytes) else [p])
        stats = parse_column_statistics(e[2][0]) if 2 in e else {}
        entries.append({"positions": positions, "stats": stats})
    return entries


def stripe_stats_from_metadata(buf: bytes) -> list[list[dict]]:
    """Decompressed Metadata section -> [stripe][column] statistics."""
    out: list[list[dict]] = []
    for raw in proto.parse_message(buf).get(1, []) if buf else []:
        ss = proto.parse_message(raw)
        out.append([parse_column_statistics(c) for c in ss.get(1, [])])
    return out


INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


def open_ends(lo, hi) -> tuple:
    """A prune bound with its open ends as None. An open end is written
    as the int64 extreme (``prune_bounds_from_predicate``): no bound for
    an integer column, but compared as a number it is a real one for a
    double column and drops a stripe of 1e20s from ``d > 5``."""
    return (None if lo == INT64_MIN else lo, None if hi == INT64_MAX else hi)


def _bounds_may_match(stats: dict, lo, hi) -> bool:
    """Conservative: True unless the stats PROVE no value in [lo, hi]."""
    if not stats:
        return True
    lo, hi = open_ends(lo, hi)
    mn, mx = stats.get("min"), stats.get("max")
    if mn is not None and hi is not None and mn > hi:
        return False
    if mx is not None and lo is not None and mx < lo:
        return False
    return True


def surviving_row_groups(
    col_indexes: dict[int, list[dict]], prune: dict[int, tuple]
) -> list[int] | None:
    """{orc column id: row index entries} x {column id: (lo, hi)} ->
    sorted surviving row-group ids, or None when no pruned column has an
    index (keep everything). [] means the whole stripe provably misses.
    """
    sel: set[int] | None = None
    for col, (lo, hi) in prune.items():
        entries = col_indexes.get(col)
        if not entries:
            continue
        ids = {g for g, e in enumerate(entries) if _bounds_may_match(e.get("stats", {}), lo, hi)}
        sel = ids if sel is None else (sel & ids)
    if sel is None:
        return None
    return sorted(sel)
