"""decode_to_files (r7): in-task parquet sink for the decode path —
decoded rows never enter the JVM; one open ParquetWriter per task."""

import glob
import os

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


def assert_part_stats(stats, rows_read: int) -> None:
    """The part-file sink contract of ``decode_to_files`` and
    ``write_orc_distributed``: one ``PART_STATS_SCHEMA`` row per
    published file, its on-disk size, and every row read back counted
    once."""
    assert all(os.path.exists(r["path"]) for r in stats), stats
    assert [r["n_bytes"] for r in stats] == [os.path.getsize(r["path"]) for r in stats]
    assert len({r["path"] for r in stats}) == len(stats)
    assert sum(r["n_rows"] for r in stats) == rows_read


def test_decode_to_files_roundtrips_exactly(spark, tmp_path):
    from datafusion_orc_spark.operators.encode import decode_to_files, encode_table
    from datafusion_orc_spark.sources.tokens import tokenized_sequences

    seqs = tokenized_sequences(spark, SF_DIR).repartition(4)
    blobs = encode_table(seqs, stripe_rows=256)
    out = str(tmp_path / "dec")
    stats = decode_to_files(blobs, seqs.schema, out).collect()
    back = spark.read.schema(seqs.schema).parquet(out)
    assert_part_stats(stats, back.count())
    assert back.count() == seqs.count()
    assert sorted(r["path"] for r in stats) == sorted(glob.glob(f"{out}/*"))
    # no tmp leftovers, canonical names only
    names = [p.split("/")[-1] for p in glob.glob(f"{out}/*")]
    assert all(n.startswith("part-") and n.endswith(".parquet") for n in names)
    # exact content: order-insensitive row-hash sum
    def h(df):
        cols = [F.col(c).cast("string") for c in df.columns]
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]

    assert tuple(h(back)) == tuple(h(seqs))


def test_decode_to_files_prunes_stripes(spark, tmp_path):
    from datafusion_orc_spark.operators.encode import decode_to_files, encode_table

    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .orderBy("l_orderkey")
        .coalesce(1)
    )
    blobs = encode_table(li, stripe_rows=500)
    out = str(tmp_path / "pruned")
    stats = decode_to_files(blobs, li.schema, out, prune={"l_orderkey": (100, 400)}).collect()
    got = sum(r["n_rows"] for r in stats)
    # pruned decode writes fewer rows than the table, and every matching
    # row survives (residual rows inside surviving stripes may remain)
    assert 0 < got < li.count()
    back = spark.read.schema(li.schema).parquet(out)
    assert_part_stats(stats, back.count())
    want = li.filter(F.col("l_orderkey").between(100, 400))
    assert back.filter(F.col("l_orderkey").between(100, 400)).count() == want.count()

    # a prune that drops every stripe: no stats row, no part file
    none_out = str(tmp_path / "none")
    assert decode_to_files(blobs, li.schema, none_out, prune={"l_orderkey": (-9, -1)}).collect() == []
    assert glob.glob(f"{none_out}/part-*") == []


def test_streaming_files_sink(spark, tmp_path):
    from datafusion_orc_spark.operators.encode import encode_table
    from datafusion_orc_spark.sources.tokens import tokenized_sequences
    from datafusion_orc_spark.streaming.incremental import start_incremental_decode

    seqs = tokenized_sequences(spark, SF_DIR).repartition(4)
    blob_dir = str(tmp_path / "blobs")
    encode_table(seqs, stripe_rows=256).write.parquet(blob_dir)
    dec_out, ckpt = str(tmp_path / "dec"), str(tmp_path / "ckpt")
    q = start_incremental_decode(
        spark, blob_dir, seqs.schema, dec_out, ckpt,
        max_files_per_trigger=2, sink="files",
    )
    q.awaitTermination(120)
    back = spark.read.schema(seqs.schema).option("recursiveFileLookup", "true").option(
        "pathGlobFilter", "*.parquet"
    ).parquet(dec_out)
    assert back.count() == seqs.count()
    assert (
        back.agg(F.sum("n_tok")).collect()[0][0]
        == seqs.agg(F.sum("n_tok")).collect()[0][0]
    )
    # lineage rows were written per micro-batch
    assert glob.glob(f"{dec_out}/_lineage_batch_*.json")


def test_streaming_files_sink_rejects_where(spark, tmp_path):
    from datafusion_orc_spark.streaming.incremental import start_incremental_decode
    from datafusion_orc_spark.sources.tokens import tokenized_sequences

    seqs = tokenized_sequences(spark, SF_DIR)
    with pytest.raises(ValueError, match="residual"):
        start_incremental_decode(
            spark, str(tmp_path), seqs.schema, str(tmp_path / "o"),
            str(tmp_path / "c"), where="n_tok > 5", sink="files",
        )


def test_scattered_blob_table_raises_the_streaming_fallback_message(spark, tmp_path):
    """streaming/incremental.py retries a micro-batch with shuffle=True
    only when the partition-local decode fails with "missing columns
    within their partition": both local decode paths must raise it on a
    blob table whose stripes span partitions, and the shuffle decode
    must return the input rows."""
    from datafusion_orc_spark.operators.encode import decode_table, decode_to_files, encode_table
    from datafusion_orc_spark.sources.tokens import tokenized_sequences

    seqs = tokenized_sequences(spark, SF_DIR)
    blobs = encode_table(seqs.coalesce(1), stripe_rows=256, job_token=11)
    scattered = blobs.repartition(4, "column").cache()
    spans = (
        scattered.withColumn("p", F.spark_partition_id())
        .groupBy("stripe_id")
        .agg(F.countDistinct("p").alias("parts"))
        .filter("parts > 1")
    )
    assert spans.count() > 0  # a stripe's columns really are scattered
    msg = "missing columns within their partition"
    with pytest.raises(Exception, match=msg):
        decode_table(scattered, None, seqs.schema).agg(F.count(F.lit(1))).collect()
    with pytest.raises(Exception, match=msg):
        decode_to_files(scattered, seqs.schema, str(tmp_path / "dec")).collect()

    def h(df):
        cols = [F.col(c).cast("string") for c in df.columns]
        return tuple(df.agg(
            F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
        ).collect()[0])

    assert h(decode_table(scattered, None, seqs.schema, shuffle=True)) == h(seqs)
    # with stripe pruning and the residual filter: the same rows as the
    # local decode of the blob table before it was scattered
    where = "n_tok > 40"
    shuffled = h(decode_table(scattered, None, seqs.schema, shuffle=True, where=where))
    assert 0 < shuffled[0] < seqs.count()
    assert shuffled == h(decode_table(blobs, None, seqs.schema, where=where))
    scattered.unpersist()
