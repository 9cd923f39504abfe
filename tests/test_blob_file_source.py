"""The blob file source: ``decode_table`` and ``decode_to_files`` read a
plain parquet scan of blob part files inside the task (pyarrow, row-group
ranges planned from footers), and every other blob table on the JVM.

Each test says whether it fails on the JVM-only decode that came before
the file source."""

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.test_decode_to_files import assert_part_stats
from tests.test_plan_shapes import _plan, assert_range_task_frame

SF_DIR = "/root/testdata/sf0.001"


def _h(df) -> tuple:
    """Order-insensitive (row count, row-hash sum) of a frame."""
    cols = [F.col(c).cast("string") for c in df.columns]
    return tuple(df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()[0])


@pytest.fixture(scope="module")
def lineitem(spark, tmp_path_factory):
    """lineitem sorted on l_orderkey, so stripe stats prune, encoded by
    ``encode_files`` into 2 part files of 500-row stripes (a row group
    each); returns (source frame, blob dir)."""
    root = tmp_path_factory.mktemp("blobsrc")
    src = str(root / "src")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.orderBy("l_orderkey").coalesce(1).write.parquet(src)
    from datafusion_orc_spark.operators.encode import encode_files

    blob_dir = str(root / "blobs")
    encode_files(spark, src, stripe_rows=500, output_dir=blob_dir, parallelism=2).collect()
    return spark.read.parquet(src), blob_dir


def test_plain_scan_decodes_from_a_range_frame(spark, lineitem):
    """(a) The decode of ``spark.read.parquet(blob_dir)`` plans no
    parquet FileScan and no Exchange: its source is a ``Range`` task
    frame. Fails before the file source (a FileScan parquet fed the
    decode)."""
    from datafusion_orc_spark.operators.encode import decode_table

    src, blob_dir = lineitem
    for columns in (None, ["l_quantity"]):
        plan = _plan(decode_table(spark.read.parquet(blob_dir), None, src.schema, columns=columns))
        assert "Scan parquet" not in plan, plan
        assert_range_task_frame(plan)


@pytest.mark.parametrize(
    "columns, prune, where",
    [
        (None, None, None),
        (["l_linestatus", "l_quantity"], None, None),
        (["l_orderkey", "l_quantity"], None, "l_orderkey < 400 AND l_quantity > 10"),
        (["l_quantity"], {"l_orderkey": (0, 400)}, None),
    ],
)
def test_file_source_rows_match_the_jvm_read(spark, lineitem, columns, prune, where):
    """(b) All columns, a projection, a ``where`` with a derived prune
    and a bound on an unprojected column give the rows of the
    ``shuffle=True`` decode, which always reads on the JVM. Passes before
    the file source too (both reads were the JVM's)."""
    from datafusion_orc_spark.operators.encode import decode_table

    src, blob_dir = lineitem
    blobs = spark.read.parquet(blob_dir)
    got = _h(decode_table(blobs, None, src.schema, columns=columns, prune=prune, where=where))
    want = _h(decode_table(blobs, None, src.schema, columns=columns, prune=prune, where=where, shuffle=True))
    assert got == want
    if prune or where:
        assert 0 < got[0] < src.count()  # stripes pruned, rows filtered
    else:
        assert got == _h(src.select(*[c for c in src.columns if c in (columns or src.columns)]))


def test_decode_to_files_from_the_file_source(spark, lineitem, tmp_path):
    """(b) ``decode_to_files`` of a plain scan writes the source rows,
    pruned as the JVM read prunes. Passes before the file source too."""
    from datafusion_orc_spark.operators.encode import decode_to_files

    src, blob_dir = lineitem
    blobs = spark.read.parquet(blob_dir)
    out = str(tmp_path / "dec")
    stats = decode_to_files(blobs, src.schema, out).collect()
    back = spark.read.schema(src.schema).parquet(out)
    assert_part_stats(stats, back.count())
    assert _h(back) == _h(src)

    prune = {"l_orderkey": (0, 400)}
    pruned = decode_to_files(blobs, src.schema, str(tmp_path / "p"), ["l_quantity"], prune).collect()
    jvm = decode_to_files(blobs.filter("stripe_id >= 0"), src.schema, str(tmp_path / "j"), ["l_quantity"], prune).collect()
    assert sum(r["n_rows"] for r in pruned) == sum(r["n_rows"] for r in jvm) < src.count()


def test_escaped_blob_dir_name(spark, lineitem, tmp_path):
    """(c) A blob directory whose name holds a space and a ``%`` decodes
    through the file source: ``inputFiles()`` returns it URI-escaped
    (``a%20b%25c``). Fails before the file source only on its plan
    check: the JVM read the escaped directory itself."""
    import shutil

    from datafusion_orc_spark.operators.encode import decode_table

    src, blob_dir = lineitem
    odd = str(tmp_path / "a b%c")
    shutil.copytree(blob_dir, odd)
    blobs = spark.read.parquet(odd)
    assert any("a%20b%25c" in u for u in blobs.inputFiles())
    dec = decode_table(blobs, None, src.schema)
    assert "Scan parquet" not in _plan(dec)
    assert _h(dec) == _h(src)


def test_partitioned_and_cached_tables_keep_the_jvm_read(spark, lineitem, tmp_path):
    """(d) A hive-partitioned blob dir and a cached blob table are not
    plain scans: they keep the JVM read and still decode. Passes before
    the file source too."""
    import shutil

    from datafusion_orc_spark.operators.encode import decode_table

    src, blob_dir = lineitem
    hive = tmp_path / "hive"
    shutil.copytree(blob_dir, str(hive / "k=1"))
    part = spark.read.parquet(str(hive))
    assert "k" in part.columns
    dec = decode_table(part, None, src.schema)
    assert "Scan parquet" in _plan(dec)
    assert _h(dec) == _h(src)

    cached = spark.read.parquet(blob_dir).cache()
    try:
        dec = decode_table(cached, None, src.schema)
        plan = _plan(dec)
        assert "InMemoryTableScan" in plan and "Range" not in plan, plan
        assert _h(dec) == _h(src)
    finally:
        cached.unpersist()


def _blob_file(path: str, stripe_sizes: list[int], rg_rows: int, sid0: int = 0, stats: bool = True) -> list[int]:
    """A blob file whose stripe ``i`` has ``stripe_sizes[i]`` blob rows,
    written in row groups of ``rg_rows`` rows; returns the stripe_id of
    every row."""
    sids = [sid0 + i for i, k in enumerate(stripe_sizes) for _ in range(k)]
    n = len(sids)
    t = pa.table(
        {
            "stripe_id": pa.array(sids, pa.int64()),
            "column": pa.array([f"c{i}" for i in range(n)]),
            "data": pa.array([b"x"] * n),
            "vmin": pa.nulls(n, pa.int64()),
            "vmax": pa.nulls(n, pa.int64()),
        }
    )
    pq.write_table(t, path, row_group_size=rg_rows, write_statistics=stats)
    return sids


@settings(max_examples=40, deadline=None)
@given(
    files=st.lists(
        st.tuples(st.lists(st.integers(1, 4), min_size=1, max_size=8), st.integers(1, 5), st.booleans()),
        min_size=1,
        max_size=3,
    ),
    target=st.integers(1, 8),
)
def test_blob_splits_never_cut_a_stripe(files, target):
    """``_blob_splits`` covers every row group once, in order, and no
    stripe's rows land in two splits, whatever the row-group size; a
    file without stripe_id statistics is one split, and a file of one
    stripe per row group fans out to ``min(target, row groups)``
    splits. Fails before the file source (there was no such planner)."""
    from datafusion_orc_spark.operators.encode import _blob_splits, _read_blob_splits

    with tempfile.TemporaryDirectory() as d:
        paths, all_sids, sid0 = [], [], 0
        for i, (sizes, rg_rows, stats) in enumerate(files):
            paths.append(os.path.join(d, f"part-{i}.parquet"))
            all_sids += _blob_file(paths[-1], sizes, rg_rows, sid0, stats)
            sid0 += len(sizes)
        splits = _blob_splits(paths, target)
        owner: dict[int, int] = {}
        for k, split in enumerate(splits):
            for b in _read_blob_splits([split]):
                for sid in b.column("stripe_id").to_pylist():
                    assert owner.setdefault(sid, k) == k, (sid, splits)
        assert sorted(owner) == sorted(set(all_sids))
        for p, (sizes, rg_rows, stats) in zip(paths, files):
            n_rg = pq.ParquetFile(p).metadata.num_row_groups
            mine = [(s, e) for q, _, s, e in splits if q == p]
            assert [s for s, _ in mine] == [0] + [e for _, e in mine[:-1]]
            assert mine[-1][1] == n_rg
            if not stats:
                assert len(mine) == 1
        if len(files) == 1 and files[0][2] and all(k == files[0][1] for k in files[0][0]):
            assert len(splits) == min(target, len(files[0][0]))


def test_datasource_fans_one_file_over_row_groups(spark, lineitem, tmp_path):
    """The stripeblob DataSource plans through the blob file source: a
    one-file blob table of 12 row groups gives ``min(cores, 12)`` = 4
    partitions (``local[4]``) and the source rows. Fails before the file
    source (one partition per file)."""
    import json
    import shutil

    from datafusion_orc_spark.sources.stripeblob_datasource import register

    src, blob_dir = lineitem
    one = tmp_path / "one"
    one.mkdir()
    first = sorted(p for p in os.listdir(blob_dir) if p.endswith(".parquet"))[0]
    shutil.copy(os.path.join(blob_dir, first), str(one / first))
    (one / "_MANIFEST.json").write_text(json.dumps({"schema_json": src.schema.json()}))
    n_rg = pq.ParquetFile(str(one / first)).metadata.num_row_groups
    assert n_rg > spark.sparkContext.defaultParallelism
    register(spark)
    df = spark.read.format("stripeblob").load(str(one))
    assert df.rdd.getNumPartitions() == min(spark.sparkContext.defaultParallelism, n_rg)
    blobs = spark.read.parquet(str(one))
    from datafusion_orc_spark.operators.encode import decode_table

    assert _h(df) == _h(decode_table(blobs, None, src.schema, shuffle=True))


def test_fixture_dir_removes_superseded_sets(monkeypatch, tmp_path):
    """A fixture build removes the sets of its prefix and key that other
    code wrote, and nothing else. Fails before: dirs were named by one
    md5 of key and digest, and none was removed."""
    import tempfile as tf

    from datafusion_orc_spark.plans import queries

    monkeypatch.setattr(tf, "tempdir", str(tmp_path))
    monkeypatch.setattr(queries, "code_digest", lambda: "a" * 64)
    old = queries._fixture_dir("/sf", "sink", "orc_sink")
    other_key = queries._fixture_dir("/sf2", "sink", "orc_sink")
    other_prefix = queries._fixture_dir("/sf", "sink", "sink_files")
    for d in (old, other_key, other_prefix):
        os.makedirs(d)
    assert os.path.basename(old).startswith("dos_orc_sink_") and old.endswith("_" + "a" * 8)
    assert queries._fixture_dir("/sf", "sink", "orc_sink") == old  # built: kept

    monkeypatch.setattr(queries, "code_digest", lambda: "b" * 64)
    new = queries._fixture_dir("/sf", "sink", "orc_sink")
    assert new != old and not os.path.exists(old)
    assert os.path.exists(other_key) and os.path.exists(other_prefix)
