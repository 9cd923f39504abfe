"""Stripe-granular split planning + streamed batches + schema merge for
the distributed ORC scan (reference parity: physical_exec.rs:79-82 byte
ranges, file_source.rs:31 batched streams, file_format.rs:90-103 merge)."""

from unittest.mock import patch

import numpy as np
import pyarrow as pa
import pyarrow.orc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_orc_spark.format.orc_reader import OrcReader
from datafusion_orc_spark.format.orc_writer import write_orc
from datafusion_orc_spark.sources.orc_source import (
    merge_schemas,
    plan_splits,
    read_orc_distributed,
)


def _mk(tmp_path, name, n=5000, cols=("a", "b"), stripe_rows=1000, seed=7):
    rng = np.random.default_rng(seed)
    data = {}
    if "a" in cols:
        data["a"] = rng.integers(0, 1_000_000, n)
    if "b" in cols:
        data["b"] = [f"s{v}" for v in rng.integers(0, 500, n)]
    if "c" in cols:
        data["c"] = rng.normal(size=n)
    tbl = pa.table(data)
    path = str(tmp_path / name)
    write_orc(tbl, path, stripe_rows=stripe_rows)
    return path, tbl


def test_plan_splits_fans_out_one_big_file(tmp_path):
    """One multi-stripe file must become multiple tasks (no straggler):
    its stripes split into ``min(target, stripes)`` contiguous ranges."""
    path, _ = _mk(tmp_path, "big.orc", n=10_000, stripe_rows=1000)
    splits, schema = plan_splits([path], 10)  # one stripe per split
    assert splits == [(path, 0, s, s + 1) for s in range(10)]
    # four tasks: remainder stripes go to the earliest ranges
    splits4, _ = plan_splits([path], 4)
    assert splits4 == [(path, 0, 0, 3), (path, 0, 3, 6), (path, 0, 6, 8), (path, 0, 8, 10)]
    # and with one task it collapses to one split covering all stripes
    splits1, _ = plan_splits([path], 1)
    assert splits1 == [(path, 0, 0, 10)]


def test_plan_splits_schema_only_file_merges_columns_but_no_split(tmp_path):
    """A file with no stripes contributes its columns to the merged
    schema but no split (no empty task)."""
    full, _ = _mk(tmp_path, "a.orc", n=2000, cols=("a", "b"), stripe_rows=1000)
    empty = str(tmp_path / "b.orc")
    # ORC C++ writes a zero-row table with no stripe at all
    pyarrow.orc.write_table(pa.table({"a": pa.array([], pa.int64()), "c": pa.array([], pa.float64())}), empty)
    assert OrcReader(empty).footer.stripes == []
    splits, schema = plan_splits([empty, full], 4)
    assert schema.names == ["a", "b", "c"]
    assert splits == [(full, 0, 0, 1), (full, 0, 1, 2)]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 12), min_size=1, max_size=10), st.integers(1, 16))
def test_plan_splits_covers_every_stripe_once(stripes, target):
    """Over random per-file stripe counts (zeros included) and targets:
    every stripe of every file is covered exactly once, in order; no
    split is empty; at most max(target, files) splits."""
    metas = {f"f{i:02d}.orc": n for i, n in enumerate(stripes)}

    class _Footer:
        def __init__(self, p, opener=None):
            self.footer = type("F", (), {"stripes": [None] * metas[p]})

        def schema(self):
            return pa.schema([("a", pa.int64())])

    with patch("datafusion_orc_spark.format.orc_reader.OrcReader", _Footer):
        splits, _ = plan_splits(list(metas)[::-1], target)
    assert len(splits) <= max(target, len(metas))
    assert all(s < e for _p, _g, s, e in splits)
    for p, n in metas.items():
        ranges = [(s, e) for sp, _g, s, e in splits if sp == p]
        assert [i for s, e in ranges for i in range(s, e)] == list(range(n))


def test_distributed_scan_matches_pyarrow(spark, tmp_path):
    path, tbl = _mk(tmp_path, "t.orc", n=7000, stripe_rows=1000)
    df = read_orc_distributed(spark, path, batch_rows=256)
    assert df.rdd.getNumPartitions() == 4  # 7 stripes over local[4]
    got = df.toPandas().sort_values(["a", "b"], ignore_index=True)
    want = (
        pyarrow.orc.ORCFile(path).read().to_pandas().sort_values(["a", "b"], ignore_index=True)
    )
    assert got.equals(want)


def test_projection_pushdown_single_column(spark, tmp_path):
    path, tbl = _mk(tmp_path, "t.orc", n=3000, stripe_rows=1000)
    df = read_orc_distributed(spark, path, columns=["a"])
    assert df.columns == ["a"]
    assert df.count() == 3000


def test_projection_unknown_column_raises_value_error(spark, tmp_path):
    """An unknown projected column is named in a ValueError, as in
    decode_table and roundtrip_files, not a pyarrow KeyError."""
    path, _ = _mk(tmp_path, "t.orc", n=100, stripe_rows=100)
    with pytest.raises(ValueError, match=r"unknown columns \['nope', 'zz'\]"):
        read_orc_distributed(spark, path, columns=["a", "zz", "nope"])


def test_schema_merge_union_with_null_padding(spark, tmp_path):
    pa_, _ = _mk(tmp_path, "a.orc", n=1000, cols=("a", "b"), stripe_rows=1000)
    pb_, _ = _mk(tmp_path, "b.orc", n=800, cols=("a", "c"), stripe_rows=1000, seed=9)
    df = read_orc_distributed(spark, str(tmp_path / "*.orc"))
    assert set(df.columns) == {"a", "b", "c"}
    assert df.count() == 1800
    assert df.filter("b IS NULL").count() == 800  # b.orc rows padded
    assert df.filter("c IS NULL").count() == 1000  # a.orc rows padded


def test_schema_merge_conflict_raises():
    s1 = pa.schema([("a", pa.int64())])
    s2 = pa.schema([("a", pa.string())])
    with pytest.raises(TypeError, match="merge conflict"):
        merge_schemas([s1, s2])


def test_iter_stripes_batch_rows_bound(tmp_path):
    path, _ = _mk(tmp_path, "t.orc", n=2500, stripe_rows=1000)
    r = OrcReader(path)
    batches = list(r.iter_stripes(batch_rows=300))
    assert all(b.num_rows <= 300 for b in batches)
    assert sum(b.num_rows for b in batches) == 2500
    # stripe subset selection
    sub = list(r.iter_stripes(stripes=[1]))
    assert sum(b.num_rows for b in sub) == 1000


def test_schema_read_is_tail_only(tmp_path):
    """Schema inference must NOT read the whole file (ranged-IO parity
    with the reference's tail-only fetch_schema, file_format.rs:44-54)."""
    path, _ = _mk(tmp_path, "t.orc", n=50_000, stripe_rows=5000)
    import os

    fsize = os.path.getsize(path)

    class CountingFile:
        def __init__(self, p):
            self.f = open(p, "rb")
            self.bytes_read = 0

        def seek(self, *a):
            return self.f.seek(*a)

        def tell(self):
            return self.f.tell()

        def read(self, n=-1):
            out = self.f.read(n)
            self.bytes_read += len(out)
            return out

    cf = CountingFile(path)
    r = OrcReader(path, opener=lambda _p: cf)
    r.schema()
    assert cf.bytes_read < min(fsize, 64 * 1024), (cf.bytes_read, fsize)
    assert cf.bytes_read < fsize / 4


def test_extension_validation(spark, tmp_path):
    """lib.rs:138-146 parity: non-.orc paths are rejected unless the
    check is disabled."""
    path, _ = _mk(tmp_path, "data.bin", n=100, stripe_rows=100)
    with pytest.raises(ValueError, match="do not end with"):
        read_orc_distributed(spark, path)
    assert read_orc_distributed(spark, path, file_extension=None).count() == 100


def test_where_auto_prunes_and_filters_exactly(spark, tmp_path):
    """read_orc_distributed(where=) derives prune bounds from the
    predicate AND re-applies it exactly: rows outside the range never
    come back, even though statistics pruning alone is conservative."""
    d = str(tmp_path / "t")
    spark.range(100000).selectExpr(
        "id as k", "repeat(cast(id as string), 18) as pad"
    ).coalesce(1).write.option("orc.stripe.size", 262144).orc(d)
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    df = read_orc_distributed(spark, f"{d}/*.orc", where="k >= 55000 and k < 55200")
    ks = sorted(r["k"] for r in df.collect())
    assert ks == list(range(55000, 55200))


@pytest.mark.parametrize("where,base", [("k > 5", (1 << 62) + 1), ("k < 5", -(1 << 62) - 3001)])
def test_where_keeps_rows_beyond_2_62(spark, tmp_path, where, base):
    """A one-sided predicate must not prune stripes whose stats lie past
    +-2^62 (the old open-end sentinels) on the open side."""
    path = str(tmp_path / "big.orc")
    write_orc(pa.table({"k": np.arange(3000, dtype=np.int64) + base}), path, stripe_rows=1000)
    assert read_orc_distributed(spark, path, where=where).count() == 3000


def test_register_orc_matches_reference_example(spark):
    """The reference's own example workflow (examples/
    datafusion_integration.rs + lib.rs:179-207): register the corpus
    files as tables, run the same SQL, expect the same values."""
    from datafusion_orc_spark.sources.orc_source import register_orc

    register_orc(spark, "table1", "/root/reference/tests/basic/data/alltypes.snappy.orc")
    rows = spark.sql("select int16, utf8 from table1 limit 5").collect()
    key = lambda t: (t[0] is None, t[0], t[1] is None, t[1])  # noqa: E731
    got = sorted(((r["int16"], r["utf8"]) for r in rows), key=key)
    # lib.rs:194-206 golden (sorted); its blank cells are ' ' and ''
    # (assert_batches renders both as empty — pyarrow confirms the bytes)
    want = sorted(
        [(None, None), (-1, " "), (0, ""), (1, "a"), (32767, "encode")], key=key
    )
    assert got == want, got
    import pyarrow.orc as _po

    n = _po.ORCFile("/root/reference/tests/basic/data/alltypes.snappy.orc").nrows
    assert spark.sql("select count(*) from table1").collect()[0][0] == n

    register_orc(spark, "table2", "/root/reference/tests/basic/data/map_list.snappy.orc")
    r = spark.sql("select id, m, l from table2").collect()
    assert len(r) == 1 and r[0]["id"] == 1
