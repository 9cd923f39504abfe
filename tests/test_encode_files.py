"""encode_files — the no-JVM-data-path encode: python workers scan
parquet row groups directly (pyarrow C++) and write blob part files from
inside the task; only stats rows cross back to the JVM."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from datafusion_orc_spark.operators.encode import decode_table, encode_files

SRC = "/root/testdata/sf0.001/lineitem.parquet"


def test_encode_files_roundtrip(spark, tmp_path):
    df = spark.read.parquet(SRC)
    out = str(tmp_path / "blobs")
    stats = encode_files(spark, SRC, stripe_rows=2000, output_dir=out)
    srow = stats.agg(
        F.sum(F.when(F.col("column") == "l_orderkey", F.col("n_rows")).otherwise(0)).alias("rows"),
        F.sum("enc_bytes").alias("enc"),
    ).collect()[0]
    assert srow["rows"] == df.count()
    assert "data" not in stats.columns  # only stats crossed the JVM boundary
    assert glob.glob(f"{out}/part-*.parquet")  # blobs written from the tasks
    blobs = spark.read.parquet(out)
    dec = decode_table(blobs, None, df.schema)  # no-shuffle decode
    a = df.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]
    b = dec.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]
    assert list(a) == list(b)


def test_encode_files_inline_blobs_match_table_encode(spark):
    from datafusion_orc_spark.operators.encode import encode_table

    blobs = encode_files(spark, SRC, stripe_rows=2000, job_token=7)
    via_df = encode_table(spark.read.parquet(SRC).coalesce(1), stripe_rows=2000, job_token=7)
    a = blobs.groupBy("column").agg(F.sum("enc_bytes").alias("e"), F.sum("n_rows").alias("n"))
    b = via_df.groupBy("column").agg(F.sum("enc_bytes").alias("e"), F.sum("n_rows").alias("n"))
    am = {r["column"]: (r["e"], r["n"]) for r in a.collect()}
    bm = {r["column"]: (r["e"], r["n"]) for r in b.collect()}
    assert am.keys() == bm.keys()
    for c in am:
        assert am[c][1] == bm[c][1], c  # same row counts per column


@pytest.mark.parametrize("columns", [["nope"], ["l_orderkey", "nope"]])
def test_encode_files_unknown_columns_raise(spark, columns):
    """A parquet scan drops an unknown column name without an error, so
    encode_files checks ``columns`` against the input schemas on the
    driver and names the unknown ones."""
    with pytest.raises(ValueError, match=r"unknown columns \['nope'\]"):
        encode_files(spark, SRC, stripe_rows=2000, columns=columns)
    stats = encode_files(spark, SRC, stripe_rows=2000, columns=["l_orderkey"], discard_output=True)
    assert {r["column"] for r in stats.select("column").distinct().collect()} == {"l_orderkey"}


def test_encode_files_plan_has_no_exchange(spark):
    from tests.test_plan_shapes import _plan, assert_range_task_frame

    for kw in ({}, {"parallelism": 2}):
        plan = _plan(encode_files(spark, SRC, stripe_rows=4000, **kw))
        assert_range_task_frame(plan)
        assert "MapInArrow" in plan


@pytest.mark.parametrize("parallelism", [3, 4])
def test_encode_files_assigns_contiguous_split_ranges(spark, tmp_path, parallelism):
    """The task frame is ``spark.range(0, n, 1, p)``: task i runs the
    splits with ids ``[i*n/p, (i+1)*n/p)``. 10 splits over 4 tasks run
    2,3,2,3 splits (a parallelize()d split list gave 2,2,2,4): counts
    differ by at most 1, and stripe ids stay distinct."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "ten_rg.parquet")
    pq.write_table(pa.table({"k": pa.array(range(1000), pa.int64())}), src, row_group_size=100)
    rows = encode_files(spark, src, stripe_rows=64, job_token=9, parallelism=parallelism).collect()
    ids = [r["stripe_id"] for r in rows]
    assert len(ids) == len(set(ids)) and sum(r["n_rows"] for r in rows) == 1000
    split_seqs: dict[int, set[int]] = {}
    for r in rows:
        assert r["stripe_id"] >> 47 == 9 and (r["stripe_id"] >> 31) & 0xFFFF == r["part_id"]
        split_seqs.setdefault(r["part_id"], set()).add((r["stripe_id"] & 0x7FFFFFFF) >> 16)
    counts = [len(split_seqs[i]) for i in range(parallelism)]
    assert counts == [(i + 1) * 10 // parallelism - i * 10 // parallelism for i in range(parallelism)]
    assert max(counts) - min(counts) <= 1


def test_encode_files_parallelism_cap(spark):
    """parallelism caps concurrent tasks (the bench ladder mechanism);
    results are identical regardless of the cap."""
    from pyspark.sql import functions as F

    df2 = encode_files(spark, SRC, stripe_rows=2000, job_token=3, parallelism=2)
    # SRC is a single-row-group file: asking for 2 splits it into 2
    # stripe-aligned row ranges (_plan_row_splits) — never an empty task
    assert df2.rdd.getNumPartitions() == 2
    df3 = encode_files(
        spark, [SRC, SRC.replace("lineitem", "orders")],
        stripe_rows=2000, job_token=3, parallelism=2,
    )
    assert df3.rdd.getNumPartitions() == 2
    full = encode_files(spark, SRC, stripe_rows=2000, job_token=3)
    a = df2.agg(F.sum("n_rows"), F.sum("enc_bytes")).collect()[0]
    b = full.agg(F.sum("n_rows"), F.sum("enc_bytes")).collect()[0]
    assert list(a) == list(b)


def test_encode_files_discard_output(spark):
    """discard_output=True (the scaling-probe dry-run mode) encodes
    fully and emits the SAME stats rows as the write path, with no
    'data' column and nothing written."""
    from pyspark.sql import functions as F

    d = encode_files(spark, SRC, stripe_rows=2000, job_token=5, discard_output=True)
    assert "data" not in d.columns
    w = encode_files(spark, SRC, stripe_rows=2000, job_token=5)
    a = d.agg(F.sum("n_rows"), F.sum("enc_bytes"), F.count(F.lit(1))).collect()[0]
    b = w.agg(F.sum("n_rows"), F.sum("enc_bytes"), F.count(F.lit(1))).collect()[0]
    assert list(a) == list(b)


def test_encode_files_recycle_output(spark, tmp_path):
    """recycle_output=True overwrites part files in place across re-runs
    (warm page-cache reuse) and leaves the directory byte-equivalent to
    a fresh write — including after the parallelism DROPS, which orphans
    both higher split indices (task-side cleanup) and higher partition
    ids (driver-side cleanup)."""
    import os

    df = spark.read.parquet(SRC)
    out = str(tmp_path / "blobs")
    exp = df.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]

    def run(parallelism):
        encode_files(
            spark, SRC, stripe_rows=2000, output_dir=out,
            parallelism=parallelism, recycle_output=True, job_token=5,
        ).collect()
        return sorted(
            (os.path.basename(p), os.path.getsize(p))
            for p in glob.glob(f"{out}/part-*.parquet")
        )

    files_4 = run(4)
    inodes_4 = {p: os.stat(f"{out}/{p}").st_ino for p, _ in files_4}
    # identical re-run: same names+sizes, same inodes (in-place, no rename)
    files_4b = run(4)
    assert files_4b == files_4
    assert {p: os.stat(f"{out}/{p}").st_ino for p, _ in files_4b} == inodes_4
    dec = decode_table(spark.read.parquet(out), None, df.schema, shuffle=True)
    assert list(dec.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]) == list(exp)

    # drop parallelism: stale part ids/splits from the 4-way run must go
    files_2 = run(2)
    names_2 = {p for p, _ in files_2}
    assert all(int(p.split("-")[1]) < 2 for p in names_2), names_2
    dec2 = decode_table(spark.read.parquet(out), None, df.schema, shuffle=True)
    assert list(dec2.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]) == list(exp)

    # and a fresh (non-recycled) 2-way write produces the same contents
    fresh = str(tmp_path / "fresh")
    encode_files(
        spark, SRC, stripe_rows=2000, output_dir=fresh, parallelism=2, job_token=5
    ).collect()
    fresh_files = sorted(
        (os.path.basename(p), os.path.getsize(p))
        for p in glob.glob(f"{fresh}/part-*.parquet")
    )
    assert fresh_files == files_2


def test_encode_files_byte_rolled_output(spark, tmp_path, monkeypatch):
    """Part files roll on _BYTES_PER_FILE, not per row-group split: the
    default consolidates a task's splits into one large file (the
    100-TB layout — object stores want few big files); a tiny threshold
    rolls mid-task; both decode to identical rows."""
    import os

    df = spark.read.parquet(SRC)
    exp = list(
        df.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]
    )

    big = str(tmp_path / "big")
    encode_files(
        spark, SRC, stripe_rows=2000, output_dir=big, parallelism=2, job_token=5
    ).collect()
    big_files = sorted(glob.glob(f"{big}/part-*.parquet"))
    # default 256MB threshold: exactly ONE file per task that had work
    # (sf0.001 lineitem is a single row group -> a single split/task)
    per_task = {os.path.basename(p).split("-")[1] for p in big_files}
    assert len(big_files) == len(per_task)
    assert all(os.path.basename(p).split("-")[2] == "000.parquet" for p in big_files)

    small = str(tmp_path / "small")
    # read on the driver at call time and shipped in the task closure
    monkeypatch.setattr("datafusion_orc_spark.operators.encode._BYTES_PER_FILE", 64 * 1024)
    encode_files(
        spark, SRC, stripe_rows=2000, output_dir=small, parallelism=2, job_token=5
    ).collect()
    small_files = glob.glob(f"{small}/part-*.parquet")
    assert len(small_files) > 2  # rolled mid-task

    for out in (big, small):
        dec = decode_table(spark.read.parquet(out), None, df.schema, shuffle=True)
        got = list(
            dec.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.count(F.lit(1))).collect()[0]
        )
        assert got == exp


def test_stripe_id_packing_survives_many_splits_per_task(spark, tmp_path):
    """r7 sf3-probe regression: 24-bit seq overflowed at 256 splits per
    task (seq windows are k<<16). The widened 31-bit seq carries 32768
    windows; a single task over >256 row-group splits must encode with
    distinct, positive stripe_ids."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_orc_spark.operators.encode import encode_files

    n = 600  # rows -> 300 row groups of 2 -> 300 splits in ONE task
    t = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(n)]),
        "tokens": pa.array([[i % 7, i % 11] for i in range(n)], pa.list_(pa.int32())),
        "n_tok": pa.array([2] * n, pa.int32()),
        "source": pa.array(["s"] * n),
    })
    src = tmp_path / "many_rg.parquet"
    pq.write_table(t, str(src), row_group_size=2)
    blobs = encode_files(spark, str(src), stripe_rows=4, parallelism=1)
    ids = [r["stripe_id"] for r in blobs.select("stripe_id").distinct().collect()]
    assert len(ids) == len(set(ids)) and all(i > 0 for i in ids)
    assert len(ids) >= 300  # one stripe per split minimum


def test_package_zip_is_keyed_on_contents(tmp_path, monkeypatch):
    """The zip shipped to workers is named by a hash of the packaged
    ``.py`` files: unchanged contents reuse the existing zip, changed
    contents (say a later process whose PID was recycled) get a new one."""
    import tempfile
    import zipfile

    from datafusion_orc_spark.operators.encode import _package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg = tmp_path / "src" / "pkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text("X = 1\n")
    (pkg / "notes.txt").write_text("not packaged")
    first = _package_zip(str(pkg))
    assert os.path.dirname(first) == str(tmp_path)
    assert sorted(zipfile.ZipFile(first).namelist()) == ["pkg/__init__.py", "pkg/mod.py"]
    inode = os.stat(first).st_ino
    assert _package_zip(str(pkg)) == first
    assert os.stat(first).st_ino == inode  # reused, not rewritten

    (pkg / "mod.py").write_text("X = 2\n")
    second = _package_zip(str(pkg))
    assert second != first
    assert zipfile.ZipFile(second).read("pkg/mod.py") == b"X = 2\n"
    (pkg / "notes.txt").write_text("still not packaged")
    assert _package_zip(str(pkg)) == second


def test_encode_files_output_depends_on_input_alone(spark, tmp_path):
    """Two runs of one input and job_token write sha256-identical part
    files, although another job's encode ran in the same Python workers
    between them. Each split alternates narrow-id stripes (which
    compress well) with wide-id stripes, so a worker's FSST tables would
    differ from run to run if they carried over between stripes."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(3)

    def ids(hi):
        return [f"doc-{i:012d}" for i in rng.integers(0, hi, 4000)]

    src, other = str(tmp_path / "ids.parquet"), str(tmp_path / "other.parquet")
    pq.write_table(pa.table({"doc_id": sum((ids(10**6) + ids(10**9) for _ in range(8)), [])}), src, row_group_size=16000)
    pq.write_table(pa.table({"doc_id": ids(10**9) * 4}), other, row_group_size=4000)

    def digests(path, job_token, out):
        encode_files(spark, path, stripe_rows=4000, job_token=job_token, output_dir=out, parallelism=4).collect()
        files = sorted(glob.glob(f"{out}/part-*.parquet"))
        assert files
        return {os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest() for p in files}

    first = digests(src, 7, str(tmp_path / "a"))
    digests(other, 8, str(tmp_path / "b"))
    assert digests(src, 7, str(tmp_path / "c")) == first
    codecs = encode_files(spark, src, stripe_rows=4000, discard_output=True).select("codec").distinct().collect()
    assert [r["codec"] for r in codecs] == ["str_fsst"]


def test_fixture_dir_is_keyed_on_package_contents(tmp_path, monkeypatch):
    """A query fixture's directory is named by the package's code digest:
    the same code finds the same directory, and an edited package file
    (seen by the next process, as the digest is hashed once per process)
    gets a new one, so no fixture written by older code is reused."""
    from datafusion_orc_spark.operators import encode
    from datafusion_orc_spark.plans.queries import _fixture_dir

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text("X = 1\n")
    monkeypatch.setattr(encode, "_PKG_DIR", str(pkg))
    try:
        encode.code_digest.cache_clear()
        first = _fixture_dir("/data/sf0.01", "sink", "orc_sink")
        assert _fixture_dir("/data/sf0.01", "sink", "orc_sink") == first
        assert _fixture_dir("/data/sf0.1", "sink", "orc_sink") != first
        (pkg / "mod.py").write_text("X = 2\n")
        assert _fixture_dir("/data/sf0.01", "sink", "orc_sink") == first  # hashed once per process
        encode.code_digest.cache_clear()
        assert _fixture_dir("/data/sf0.01", "sink", "orc_sink") != first
    finally:
        encode.code_digest.cache_clear()
