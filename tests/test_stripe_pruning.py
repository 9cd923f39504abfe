"""Stripe pruning on per-stripe min/max stats (S7/D19 analogue)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from datafusion_orc_spark.operators.encode import decode_table, encode_table, prune_bounds_from_predicate

SF_DIR = "/root/testdata/sf0.001"


def test_stripe_pruning_skips_blobs(spark):
    # sort by orderkey so stripes carry disjoint key ranges
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .orderBy("l_orderkey")
        .coalesce(1)
    )
    blobs = encode_table(li, stripe_rows=500).cache()
    n_stripes = blobs.select("stripe_id").distinct().count()
    assert n_stripes >= 8

    lo, hi = 100, 400
    pruned = decode_table(
        blobs, None, li.schema, prune={"l_orderkey": (lo, hi)}
    ).filter(F.col("l_orderkey").between(lo, hi))
    expected = li.filter(F.col("l_orderkey").between(lo, hi))
    assert pruned.count() == expected.count()
    assert (
        pruned.agg(F.sum("l_quantity")).collect()[0][0]
        == expected.agg(F.sum("l_quantity")).collect()[0][0]
    )

    # the pruning actually skipped most stripes
    surviving = (
        blobs.filter(
            (F.col("column") == "l_orderkey")
            & (F.col("vmax") >= lo)
            & (F.col("vmin") <= hi)
        )
        .select("stripe_id")
        .distinct()
        .count()
    )
    assert surviving < n_stripes / 2, (surviving, n_stripes)
    blobs.unpersist()


def test_pruning_stats_present(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").coalesce(2)
    blobs = encode_table(li, stripe_rows=2000)
    row = blobs.filter(F.col("column") == "l_orderkey").first()
    assert row["vmin"] is not None and row["vmax"] is not None
    assert row["vmin"] <= row["vmax"]
    srow = blobs.filter(F.col("column") == "l_returnflag").first()
    assert srow["vmin"] is None  # string columns carry no int min/max


def test_prune_bounds_from_predicate_parser():
    b = prune_bounds_from_predicate(
        "l_orderkey > 100 AND l_orderkey <= 400 and l_partkey = 7 "
        "AND 250 >= l_suppkey AND l_comment = 'x' AND l_quantity < 1.5"
    )
    # strict comparisons give the inclusive bound: right for non-integer
    # columns too (a stripe of 4.5s meets "d < 5")
    assert b["l_orderkey"] == (100, 400)
    assert b["l_partkey"] == (7, 7)
    assert b["l_suppkey"][1] == 250
    assert "l_comment" not in b and "l_quantity" not in b  # non-int: ignored
    # OR disables pruning entirely (a disjunct can rescue dropped rows)
    assert prune_bounds_from_predicate("l_orderkey > 100 OR l_partkey = 1") == {}
    # an open end is the full int64 range, not a narrower sentinel
    assert prune_bounds_from_predicate("x > 5") == {"x": (5, 2**63 - 1)}


@pytest.mark.parametrize("where,base", [("x > 5", (1 << 62) + 1), ("x < 5", -(1 << 62) - 20001)])
def test_decode_where_keeps_values_beyond_2_62(spark, where, base):
    """A one-sided predicate must not prune a stripe whose values all lie
    past +-2^62 (the old open-end sentinels) on the open side."""
    df = spark.range(20000).selectExpr(f"id + {base} as x")
    blobs = encode_table(df.coalesce(1), stripe_rows=20000)
    assert decode_table(blobs, None, df.schema, where=where).count() == 20000


def test_decode_where_auto_prunes_and_filters(spark):
    """decode_table(where=...) derives stripe pruning from the predicate
    with no manual prune hint AND applies the exact residual filter."""
    from datafusion_orc_spark.format import stripe as stripe_mod

    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .orderBy("l_orderkey")
        .coalesce(1)
    )
    blobs = encode_table(li, stripe_rows=500).cache()
    n_stripes = blobs.select("stripe_id").distinct().count()

    got = decode_table(
        blobs, None, li.schema, where="l_orderkey >= 100 AND l_orderkey < 401"
    )
    expected = li.filter("l_orderkey >= 100 AND l_orderkey < 401")
    assert got.count() == expected.count()
    assert (
        got.agg(F.sum("l_quantity")).collect()[0][0]
        == expected.agg(F.sum("l_quantity")).collect()[0][0]
    )
    # and the bound is selective: the decode task drops most stripes on
    # their l_orderkey [vmin, vmax] before decoding them
    surviving = (
        blobs.filter(
            (F.col("column") == "l_orderkey")
            & (F.col("vmax") >= 100)
            & (F.col("vmin") <= 400)
        ).select("stripe_id").distinct().count()
    )
    assert surviving < n_stripes / 2
    blobs.unpersist()


def test_sub_block_rowidx_stats_roundtrip():
    """K_ROWIDX (D19 stride index): block stats parse back exactly and
    the global min/max derived from them matches the array."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.format.orc_index import may_match, surviving_groups
    from datafusion_orc_spark.format.stripe import (
        SUB_BLOCK_ROWS,
        encode_column,
        read_block_stats,
    )

    n = 4 * SUB_BLOCK_ROWS
    vals = np.arange(n, dtype=np.int64)
    blob, stats = encode_column(pa.array(vals))
    assert stats["min"] == 0 and stats["max"] == n - 1
    bs = read_block_stats(blob)
    assert bs is not None
    block_rows, mins, maxs = bs
    assert block_rows == SUB_BLOCK_ROWS and len(mins) == 4
    assert list(mins) == [i * SUB_BLOCK_ROWS for i in range(4)]
    assert list(maxs) == [(i + 1) * SUB_BLOCK_ROWS - 1 for i in range(4)]
    # query hits exactly one block
    keep = surviving_groups([may_match(mins, maxs, SUB_BLOCK_ROWS + 5, SUB_BLOCK_ROWS + 9)])
    assert keep == [1]
    # small columns carry no index
    blob2, _ = encode_column(pa.array(np.arange(100, dtype=np.int64)))
    assert read_block_stats(blob2) is None


def test_decode_table_skips_sub_blocks_within_surviving_stripe(spark):
    """One big sorted stripe: a narrow predicate decodes only the
    surviving SUB_BLOCK_ROWS blocks (row count proves the skip), and the
    where= residual filter returns exactly the matching rows."""
    import numpy as np

    from datafusion_orc_spark.format.stripe import SUB_BLOCK_ROWS

    n = 4 * SUB_BLOCK_ROWS
    df = spark.range(n).selectExpr("id as k", "id % 7 as v").coalesce(1)
    blobs = encode_table(df, stripe_rows=n).cache()
    assert blobs.select("stripe_id").distinct().count() == 1

    lo, hi = SUB_BLOCK_ROWS + 5, SUB_BLOCK_ROWS + 104
    # prune only (no residual): rows = surviving block, not the stripe
    pruned = decode_table(blobs, None, df.schema, prune={"k": (lo, hi)})
    assert pruned.count() == SUB_BLOCK_ROWS, "expected exactly one block"
    # where=: pruning + exact residual filter
    exact = decode_table(blobs, None, df.schema, where=f"k >= {lo} and k <= {hi}")
    rows = exact.orderBy("k").collect()
    assert len(rows) == 100 and rows[0]["k"] == lo and rows[-1]["k"] == hi
    # a range no block can satisfy: stripe survives min/max, zero rows decode
    nothing = decode_table(blobs, None, df.schema, prune={"k": (-50, -1)})
    assert nothing.count() == 0
    blobs.unpersist()


def test_runfor_decode_range_equals_full_slice():
    """Ranged literal seek (bit-offset arithmetic) must equal the full
    decode's slice on every window shape: run-interior, run-straddling,
    exception-carrying, head/tail."""
    import numpy as np

    from datafusion_orc_spark.codecs.runfor import runfor_decode, runfor_encode

    rng = np.random.default_rng(11)
    n = 100_000
    v = rng.integers(0, 1 << 13, n, dtype=np.int64)
    v[5_000:9_000] = 7          # long runs
    v[40_000:73_000] = -3
    exc = rng.choice(n, 300, replace=False)
    v[exc] = rng.integers(1 << 30, 1 << 40, 300)  # PFOR exceptions
    streams = runfor_encode(v)
    full = runfor_decode(streams, n)
    assert np.array_equal(full, v)
    for s, e in [(0, 1), (0, n), (4_990, 9_010), (41_000, 50_000), (8_191, 16_385),
                 (n - 100, n), (0, 8_192), (73_000, 73_001), (39_999, 73_001)]:
        got = runfor_decode(streams, n, s, e)
        assert np.array_equal(got, v[s:e]), (s, e)


def test_decode_column_ranged_seeks_and_matches(monkeypatch):
    """decode_column(row_ranges=) equals full-decode + slice for every
    codec; for null-free seekable codecs (for_bp, float_raw, and the
    token-array runfor path) the full-stream item decoders must NOT run."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.codecs.runfor import runfor_decode
    from datafusion_orc_spark.format import stripe as st

    n = 50_000
    rng = np.random.default_rng(5)
    # F1-shaped token arrays: Zipf-ish values with boilerplate runs ->
    # the selector picks arr_int_runfor (the bench table's hot codec)
    tok_lens = rng.integers(1, 64, n)  # >1M items -> arr_int_runfor path
    items = rng.integers(0, 1 << 15, int(tok_lens.sum()), dtype=np.int32)
    items[len(items) // 3 : len(items) // 2] = 11  # long run region (mid-stream)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tok_lens, out=off[1:])
    tokens = pa.ListArray.from_arrays(pa.array(off, type=pa.int32()).cast(pa.int32()), pa.array(items))
    cols = {
        "tokens": tokens,                                               # arr_int_runfor
        "forbp": pa.array(rng.integers(10**6, 10**6 + 4096, n)),        # int_for_bp
        "f": pa.array(rng.random(n)),                                   # float_raw
        "runny": pa.array(np.where(rng.random(n) < 0.7, 42, rng.integers(0, 1 << 12, n))),  # rle2 fallback
        "s": pa.array([f"x{i%50}" for i in range(n)]),                  # dict fallback
        "nullable": pa.array([None if i % 9 == 0 else i for i in range(n)], type=pa.int64()),
    }
    ranges = [(8_192, 16_384), (24_576, 32_768)]
    blobs, codecs = {}, {}
    for name, arr in cols.items():
        blob, stats = st.encode_column(arr)
        blobs[name], codecs[name] = blob, stats.get("codec")
        full = st.decode_column(blob, arr.type)
        expect = pa.concat_arrays([full.slice(s, e - s) for s, e in ranges])
        got = st.decode_column(blob, arr.type, row_ranges=ranges)
        assert got.equals(expect), name
    assert codecs["tokens"] == "arr_int_runfor", codecs
    assert codecs["forbp"] == "int_for_bp" and codecs["f"] == "float_raw", codecs

    # seekable paths must not fall back to full-stream item decode
    def boom(*a, **k):
        raise AssertionError("full-stream decode called on seekable column")

    def windows_only(streams, n, start=0, stop=None):
        if start == 0 and (stop is None or stop >= n):
            boom()
        return runfor_decode(streams, n, start, stop)

    monkeypatch.setattr(st, "runfor_decode", windows_only)
    st.decode_column(blobs["tokens"], cols["tokens"].type, row_ranges=ranges)
    monkeypatch.setattr(st, "rle_v2_decode", boom)  # forbp/f never touch RLE
    for name in ("forbp", "f"):
        st.decode_column(blobs[name], cols[name].type, row_ranges=ranges)


def test_ranged_decode_clamps_partial_last_block():
    """A stripe whose row count is not a multiple of SUB_BLOCK_ROWS:
    pruned ranges touching the final (partial) block must clamp to the
    stripe's rows — before the clamp the ranged bit_unpack either crashed
    or (widths 9..31) fabricated base-valued phantom rows (ADVICE r3)."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.format import stripe as st

    n = 20_000  # 3 blocks: 8192 + 8192 + 3616
    rng = np.random.default_rng(7)
    # random (no runs/deltas) -> int_for_bp; last block in its own value
    # range so the predicate isolates it; width 15: strided unpack path
    vals = rng.integers(10**6, 10**6 + 10_000, n).astype(np.int64)
    vals[16_384:] = rng.integers(10**6 + 20_000, 10**6 + 30_000, n - 16_384)
    arr = pa.array(vals)
    blob, stats = st.encode_column(arr)
    assert stats["codec"] == "int_for_bp", stats["codec"]

    # predicate hits only the partial last block
    lo, hi = 10**6 + 20_000, 10**6 + 30_000
    assert st.prune_row_ranges({"k": blob}, {"k": (lo, hi)}) == [(16_384, n)]
    # the decode clamps a block-aligned range that ends beyond n itself
    got = st.decode_column(blob, arr.type, row_ranges=[(16_384, 24_576)])
    assert len(got) == n - 16_384
    assert got.to_numpy().tolist() == vals[16_384:].tolist()

    # array-column (token) flavor: item offsets must clamp identically
    tok_lens = np.full(n, 3, dtype=np.int64)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tok_lens, out=off[1:])
    items = np.arange(3 * n, dtype=np.int64) + 5_000_000
    toks = pa.ListArray.from_arrays(pa.array(off, type=pa.int64()).cast(pa.int32()), pa.array(items))
    tblob, tstats = st.encode_column(toks)
    tgot = st.decode_column(tblob, toks.type, row_ranges=[(16_384, 24_576)])
    texp = st.decode_column(tblob, toks.type).slice(16_384, n - 16_384)
    assert tgot.equals(texp)

    # degenerate range entirely past the stripe -> empty, same schema
    empty = st.decode_column(blob, arr.type, row_ranges=[(24_576, 32_768)])
    assert len(empty) == 0 and empty.type == arr.type


def test_prune_row_ranges_all_survive_returns_none():
    """When every block can match, prune_row_ranges returns None so the
    caller takes the (cheaper) whole-stripe decode, not the ranged path."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.format import stripe as st

    n = 3 * st.SUB_BLOCK_ROWS
    blob, _ = st.encode_column(pa.array(np.arange(n, dtype=np.int64)))
    assert st.prune_row_ranges({"k": blob}, {"k": (0, n)}) is None
    assert st.prune_row_ranges({"k": blob}, {"k": (n + 1, n + 2)}) == []


def test_rowidx_trailing_empty_rows_keep_final_value():
    """A list column whose trailing rows are all empty: the block owning
    the column's FINAL value must keep that value in its stats — the old
    len(vals)-1 clamp shifted the boundary and silently pruned it
    (ADVICE r3). All-empty trailing blocks carry sentinel min>max."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.format import stripe as st
    from datafusion_orc_spark.format.orc_index import may_match, surviving_groups

    n = 24_000  # blocks: [0,8192) [8192,16384) [16384,24000)
    n_vals = 9_000  # rows 0..8999 have one value; 9000..23999 empty
    lengths = np.concatenate([np.ones(n_vals, np.int64), np.zeros(n - n_vals, np.int64)])
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    items = np.arange(n_vals, dtype=np.int64)
    arr = pa.ListArray.from_arrays(pa.array(off, type=pa.int64()).cast(pa.int32()), pa.array(items))
    blob, stats = st.encode_column(arr)
    assert stats["min"] == 0 and stats["max"] == n_vals - 1

    bs = st.read_block_stats(blob)
    assert bs is not None
    _rows, mins, maxs = bs
    assert len(mins) == 3
    # block 1 owns values 8192..8999 INCLUDING the final value 8999
    assert mins[1] == 8_192 and maxs[1] == n_vals - 1, (mins, maxs)
    # the all-empty block carries sentinel min>max: never survives
    assert mins[2] > maxs[2]
    keep = surviving_groups([may_match(mins, maxs, n_vals - 1, n_vals - 1)])
    assert keep == [1]
    # end-to-end: the matching row decodes through the ranged path
    ranges = st.prune_row_ranges({"t": blob}, {"t": (n_vals - 1, n_vals - 1)})
    got = st.decode_column(blob, arr.type, row_ranges=ranges)
    flat = got.flatten().to_numpy()
    assert n_vals - 1 in flat


@pytest.fixture(scope="module")
def sorted_blobs(spark):
    """lineitem sorted by l_orderkey in 500-row stripes: disjoint key
    ranges per stripe, NULL vmin/vmax on the double columns."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").orderBy("l_orderkey").coalesce(1)
    blobs = encode_table(li, stripe_rows=500).cache()
    yield li, blobs
    blobs.unpersist()


@pytest.mark.parametrize("where", ["l_quantity < 5", "L_ORDERKEY < 401"])
def test_decode_where_matches_spark_filter(sorted_blobs, where):
    """A bound on a column without integer stats (double l_quantity)
    keeps every stripe, and a bound whose name Spark resolves only
    case-insensitively is dropped: both decodes equal Spark's filter."""
    li, blobs = sorted_blobs
    expected = li.filter(where).count()
    assert expected > 0
    assert decode_table(blobs, None, li.schema, where=where).count() == expected


def test_unknown_prune_column_raises(spark, sorted_blobs, tmp_path):
    """An explicit bound on a column the schema lacks fails on the
    driver, as an unknown projection column does, instead of pruning
    every stripe away."""
    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    li, blobs = sorted_blobs
    with pytest.raises(ValueError, match=r"unknown prune columns \['typo'\]"):
        decode_table(blobs, None, li.schema, prune={"typo": (1, 4)})
    path = str(tmp_path / "a.orc")
    write_orc(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    with pytest.raises(ValueError, match=r"unknown prune columns \['typo'\]"):
        read_orc_distributed(spark, path, prune={"typo": (1, 4)})


@pytest.mark.parametrize("shuffle", [False, True])
def test_prune_on_unprojected_column(sorted_blobs, shuffle):
    """A bound on a column outside the projection drops stripes on that
    column's [vmin, vmax]: exactly the surviving stripes' rows come back."""
    li, blobs = sorted_blobs
    lo, hi = 100, 400
    hit = (F.col("column") == "l_orderkey") & (F.col("vmax") >= lo) & (F.col("vmin") <= hi)
    ids = [r[0] for r in blobs.filter(hit).select("stripe_id").collect()]
    assert 0 < len(ids) < blobs.select("stripe_id").distinct().count() / 2
    expected = decode_table(blobs.filter(F.col("stripe_id").isin(ids)), None, li.schema, columns=["l_partkey"])
    got = decode_table(
        blobs, None, li.schema, columns=["l_partkey"], prune={"l_orderkey": (lo, hi)}, shuffle=shuffle
    )
    assert got.columns == ["l_partkey"]
    assert sorted(got.collect()) == sorted(expected.collect())


def test_strict_bound_keeps_non_integer_stripe(spark, tmp_path):
    """``d < 5`` must keep a stripe of 4.5s: a strict bound is the
    inclusive one, not ``hi = 4``."""
    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    path = str(tmp_path / "d.orc")
    write_orc(pa.table({"d": np.r_[np.full(1000, 4.5), np.full(1000, 9.5)]}), path, stripe_rows=1000)
    assert OrcReader(path).read(prune=prune_bounds_from_predicate("d < 5")).num_rows == 1000
    assert read_orc_distributed(spark, path, where="d < 5").count() == 1000


@pytest.mark.parametrize("stripe_rows,stride", [(500, None), (1000, 500)])
@pytest.mark.parametrize("where", ["d > 5", "d < 5"])
def test_open_end_keeps_doubles_beyond_int64(tmp_path, where, stripe_rows, stride):
    """An open end compares as unbounded: ``d > 5`` keeps the 1e20s and
    ``d < 5`` the -1e20s, which lie beyond the int64 extreme the open end
    is written as. Stripe stats prune the one-stripe-per-value layout,
    row-group stats the one-stripe, two-row-group layout."""
    from datafusion_orc_spark.format.orc_reader import OrcReader
    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.operators.encode import _merge_where

    path = str(tmp_path / "d.orc")
    d = np.r_[np.full(500, 1e20), np.full(500, -1e20)]
    write_orc(pa.table({"d": d}), path, stripe_rows=stripe_rows, row_index_stride=stride)
    got = pa.Table.from_batches(OrcReader(path).iter_stripes(prune=_merge_where(None, where, ["d"])))
    assert got.num_rows == 500
    assert set(got.column("d").to_pylist()) == {1e20 if ">" in where else -1e20}


def test_prune_row_ranges_open_ends():
    """The blob block prune reads an int64 extreme or None as no bound."""
    from datafusion_orc_spark.format import stripe as st

    n = 3 * st.SUB_BLOCK_ROWS
    blob, _ = st.encode_column(pa.array(np.arange(n, dtype=np.int64)))
    hi = prune_bounds_from_predicate(f"k >= {n - 1}")["k"][1]
    assert st.prune_row_ranges({"k": blob}, {"k": (n - 1, hi)}) == [(2 * st.SUB_BLOCK_ROWS, n)]
    assert st.prune_row_ranges({"k": blob}, {"k": (None, 0)}) == [(0, st.SUB_BLOCK_ROWS)]
