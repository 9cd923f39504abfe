"""The stripeblob Spark DataSource: spark.read.format("stripeblob")."""

import pytest
from pyspark.sql import functions as F

from datafusion_orc_spark.plans.pipeline import encode_job
from datafusion_orc_spark.sources.stripeblob_datasource import register
from datafusion_orc_spark.sources.tokens import tokenized_sequences

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def encoded_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "blobs")
    seqs = tokenized_sequences(spark, SF_DIR)
    encode_job(spark, seqs, out, n_chunks=2, partitions_per_chunk=2, stripe_rows=100)
    register(spark)
    return out


def test_datasource_read_back(spark, encoded_dir):
    seqs = tokenized_sequences(spark, SF_DIR)
    df = spark.read.format("stripeblob").load(encoded_dir)
    assert set(df.columns) == set(seqs.columns)
    assert df.count() == seqs.count()
    a = df.agg(F.sum("n_tok"), F.countDistinct("doc_id")).collect()[0]
    b = seqs.agg(F.sum("n_tok"), F.countDistinct("doc_id")).collect()[0]
    assert list(a) == list(b)


def test_datasource_sql_surface(spark, encoded_dir):
    spark.read.format("stripeblob").load(encoded_dir).createOrReplaceTempView("seq_blobs")
    out = spark.sql(
        "SELECT source, count(*) AS docs, sum(n_tok) AS toks "
        "FROM seq_blobs GROUP BY source ORDER BY source"
    ).collect()
    seqs = tokenized_sequences(spark, SF_DIR)
    exp = (
        seqs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("toks"))
        .orderBy("source")
        .collect()
    )
    assert [tuple(r) for r in out] == [tuple(r) for r in exp]


def test_datasource_filter_pushdown_prunes(spark, encoded_dir):
    # n_tok filter: exact results regardless of pruning
    df = spark.read.format("stripeblob").load(encoded_dir).filter(F.col("n_tok") > 1000)
    seqs = tokenized_sequences(spark, SF_DIR).filter(F.col("n_tok") > 1000)
    assert df.count() == seqs.count()
    assert (
        df.agg(F.sum("n_tok")).collect()[0][0] == seqs.agg(F.sum("n_tok")).collect()[0][0]
    )


def test_reader_pushed_filters_prune_stripes_and_sub_blocks(tmp_path, monkeypatch):
    """pushFilters -> read: a stripe whose [vmin, vmax] misses a bound is
    never decoded, and inside a surviving stripe the sub-block
    (ROW_INDEX-stride) stats drop the blocks that cannot match."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import LessThan, LessThanOrEqual
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    import datafusion_orc_spark.format.stripe as stripe_mod
    from datafusion_orc_spark.operators.encode import _encode_stream
    from datafusion_orc_spark.sources.stripeblob_datasource import StripeBlobReader

    n = 3 * stripe_mod.SUB_BLOCK_ROWS  # k: no nulls -> a K_ROWIDX block index

    def stripe(k0, n0):
        k = np.arange(k0, k0 + n, dtype=np.int64)
        # nn: int with nulls -> [vmin, vmax] stats but no block index
        nn = pa.array([None if i % 5 == 0 else n0 + i % 100 for i in range(n)], pa.int32())
        return pa.record_batch({"k": k, "nn": nn})

    # the second stripe's k overlaps the k bound; only its nn misses
    blobs = pa.Table.from_batches(list(_encode_stream(iter([stripe(0, 0), stripe(50, 1000)]), 0, 1)))
    pq.write_table(blobs, str(tmp_path / "part-0.parquet"))
    rows = blobs.to_pylist()
    missed = {r["data"] for r in rows if r["stripe_id"] != rows[0]["stripe_id"]}

    decoded = []
    real = stripe_mod.decode_column

    def spy(blob, typ, row_ranges=None):
        decoded.append((bytes(blob), row_ranges))
        return real(blob, typ, row_ranges=row_ranges)

    monkeypatch.setattr(stripe_mod, "decode_column", spy)
    schema = StructType([StructField("k", LongType()), StructField("nn", IntegerType())])
    reader = StripeBlobReader(str(tmp_path), schema)
    pushed = [LessThanOrEqual(("nn",), 500), LessThan(("k",), 100)]
    assert list(reader.pushFilters(pushed)) == pushed  # Spark re-applies all
    got = pa.Table.from_batches(list(reader.read(reader.partitions()[0])))
    assert decoded and not any(b in missed for b, _ in decoded)  # second stripe never decoded
    # of the first stripe, only k's first block is decoded
    assert got.num_rows == stripe_mod.SUB_BLOCK_ROWS
    assert got.column("k").to_pylist() == list(range(stripe_mod.SUB_BLOCK_ROWS))


def test_datasource_reads_encode_files_job_output(spark, tmp_path):
    """Full fast-path storage round-trip: encode_files_job (pyarrow part
    files written from inside tasks) -> stripeblob DataSource scan."""
    from pyspark.sql import functions as F

    from datafusion_orc_spark.plans.pipeline import encode_files_job
    from datafusion_orc_spark.sources.stripeblob_datasource import register

    src = str(tmp_path / "src")
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df.repartition(4).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_files_job(spark, src, out, files_per_chunk=2, stripe_rows=1500)
    register(spark)
    dec = spark.read.format("stripeblob").load(out)
    assert dec.count() == df.count()
    a = df.agg(F.sum("l_quantity"), F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    b = dec.agg(F.sum("l_quantity"), F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    assert list(a) == list(b)


def test_read_stripeblob_helper_projects(spark, encoded_dir):
    """read_stripeblob derives .option('columns', ...) from a column
    list: result schema is exactly the projection (in order) and values
    match the source (ROADMAP #4 ergonomics until Spark forwards column
    pruning into Python DataSources)."""
    from datafusion_orc_spark import read_stripeblob

    seqs = tokenized_sequences(spark, SF_DIR)
    df = read_stripeblob(spark, encoded_dir, columns=["doc_id", "n_tok"])
    assert df.columns == ["doc_id", "n_tok"]
    a = df.agg(F.sum("n_tok"), F.countDistinct("doc_id")).collect()[0]
    b = seqs.agg(F.sum("n_tok"), F.countDistinct("doc_id")).collect()[0]
    assert list(a) == list(b)
