"""ORC ROW_INDEX + statistics readers (the D19 seek surface) and the
one prune rule of both file formats.

The reference delegates decode to orc-rust, which evaluates row-group
statistics from the per-column ROW_INDEX streams (stride default 10000,
declared in the file footer); this module gives our reader the same
pruning inputs:

- ``parse_column_statistics``: ColumnStatistics (footer field 7,
  Metadata section, RowIndexEntry field 2) -> {n, has_null, min, max}
  for int / date / string / double stats.
- ``parse_row_index``: a stripe's per-column S_ROW_INDEX stream ->
  list of RowIndexEntry dicts (positions + statistics).
- ``stripe_stats_from_metadata``: the file Metadata section -> per
  stripe, per column statistics (stripe pruning without touching any
  stripe bytes).

Every skip of either format, at every grain (ORC stripes and row
groups, blob stripes and K_ROWIDX sub-blocks), is decided by the same
three pieces (elimination from range metadata as one operation at any
partition grain, *Global Range Encoding for Efficient Partition
Elimination*, EDBT 2018):

- ``may_match``: can a [min, max] meet a bound (lo, hi)? An open end
  (None or an int64 extreme, ``open_ends``) and unknown stats bound
  nothing; scalars or numpy arrays of per-group stats.
- ``surviving_groups``: intersect the per-column answers -> sorted
  group ids (None = no stats, keep all; [] = nothing survives).
- ``group_ranges``: group ids -> merged [start, stop) row ranges,
  clamped to the stripe's rows.

Everything parses with the generic protobuf walker in orc_proto
(spec: ORC v1; verified against ORC-Java-written indexes and our own
writer's, which ORC-Java itself validates in test_orc_writer.py).
"""

from __future__ import annotations

import struct

import numpy as np

from datafusion_orc_spark.format import orc_proto as proto


def _zigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def parse_column_statistics(buf: bytes) -> dict:
    """ColumnStatistics message -> {"n", "has_null", "min", "max"}.

    min/max are ints (IntegerStatistics field 2; DateStatistics field
    7, in days), strings (StringStatistics field 4) or floats
    (DoubleStatistics field 3); None when the message carries no typed
    stats (e.g. root struct).
    """
    msg = proto.parse_message(buf)
    out = {
        "n": msg[1][0] if 1 in msg else None,
        "has_null": bool(msg[10][0]) if 10 in msg else False,
        "min": None,
        "max": None,
    }
    ints = msg.get(2) or msg.get(7)
    if ints:  # Integer {1: sint64 min, 2: sint64 max} / Date {1: sint32, 2: sint32}
        sub = proto.parse_message(ints[0])
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


def may_match(mins, maxs, lo, hi):
    """The one prune rule: can a [min, max] meet the bound (lo, hi)?
    Conservative: False only when the stats prove no value lies in
    [lo, hi]. An open end (None or an int64 extreme) and an unknown
    min or max (None) bound nothing. ``mins``/``maxs`` are scalars
    (int, float, str, None) or equal-length numpy arrays, one entry per
    group; the answer has their shape."""
    lo, hi = open_ends(lo, hi)
    keep = True
    if lo is not None and maxs is not None:
        keep = (maxs >= lo) & keep
    if hi is not None and mins is not None:
        keep = (mins <= hi) & keep
    return np.broadcast_to(keep, mins.shape) if isinstance(mins, np.ndarray) else keep


def surviving_groups(keeps) -> list[int] | None:
    """Intersect per-bound-column ``may_match`` answers (one bool per
    group) -> sorted ids of the groups every column keeps. None when no
    bound column has group stats (keep everything: an empty answer is a
    missing index); [] when nothing survives."""
    sel: set[int] | None = None
    for keep in keeps:
        if np.size(keep):
            ids = set(np.flatnonzero(keep).tolist())
            sel = ids if sel is None else (sel & ids)
    return None if sel is None else sorted(sel)


def group_ranges(groups: list[int] | None, group_rows: int, n_rows: int) -> list[tuple[int, int]] | None:
    """Surviving group ids of an ``n_rows`` stripe cut every
    ``group_rows`` rows -> the [start, stop) row ranges to decode:
    adjacent groups merge into one range, the last clamps to ``n_rows``.
    None (decode the whole stripe) when ``groups`` is None or holds every
    group; [] when nothing survives."""
    if groups is None or len(groups) == -(-n_rows // group_rows):
        return None
    ranges: list[tuple[int, int]] = []
    for g in groups:
        s, e = g * group_rows, min((g + 1) * group_rows, n_rows)
        if ranges and ranges[-1][1] == s:
            ranges[-1] = (ranges[-1][0], e)
        else:
            ranges.append((s, e))
    return ranges
