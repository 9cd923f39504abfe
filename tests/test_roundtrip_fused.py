"""The r8 fused roundtrip (roundtrip_files: in-task scan → encode all
columns → decode projection → optional per-task partial agg) must be
value-identical to the unfused encode_table + decode_table plan, and its
split planner must cover every row exactly once in both regimes (many
row groups, and single-row-group subdivision)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SF = "/root/testdata/sf0.001"


def q_roundtrip_lineitem_agg(spark, sf_dir: str):
    """The unfused roundtrip_lineitem_agg plan: encode_table over the
    lineitem parquet, decode_table of the four aggregated columns, then
    the Spark aggregate over the decoded rows."""
    from pyspark.sql import functions as F

    from datafusion_orc_spark.operators.encode import decode_table, encode_table
    from datafusion_orc_spark.plans.queries import _t

    # hash-repartition on the high-cardinality key rather than round-robin:
    # keyless repartition pays a local sort of its input (sortBeforeRepartition,
    # guide §2.5) — ~6M rows sorted for nothing; hash partitioning does not
    li = _t(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism, F.col("l_orderkey")
    )
    blobs = encode_table(li, stripe_rows=16384)
    # projection pushdown through the engine's own format (guide §6:
    # column pruning must reach the scan; the reference's S10 analogue):
    # every column is still ENCODED, but only the 4 columns the
    # aggregate reads are decoded and cross the Python boundary back —
    # the other 7 columns' blobs are filtered out between the two
    # mapInArrow operators and never reach the decode worker
    dec = decode_table(
        blobs, None, li.schema,
        columns=["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"],
    )
    return (
        dec.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
        )
        .orderBy("l_returnflag")
    )


def test_fused_equals_unfused_lineitem(spark):
    from datafusion_orc_spark.plans.queries import q_roundtrip_lineitem_fused

    unfused = [tuple(r) for r in q_roundtrip_lineitem_agg(spark, SF).collect()]
    fused = [tuple(r) for r in q_roundtrip_lineitem_fused(spark, SF).collect()]
    assert fused == unfused


@pytest.mark.parametrize("row_group_size,n_rows", [(1000, 10000), (10000, 3100)])
def test_roundtrip_files_covers_every_row(spark, tmp_path, row_group_size, n_rows):
    """Many-row-group inputs take one split per row group; a 1-row-group
    input is subdivided into stripe-aligned row ranges. Both must return
    every row exactly once."""
    from datafusion_orc_spark.operators.encode import roundtrip_files

    path = os.path.join(tmp_path, "t.parquet")
    t = pa.table(
        {
            "k": pa.array(range(n_rows), type=pa.int64()),
            "v": pa.array([i * 0.5 for i in range(n_rows)], type=pa.float64()),
            "s": pa.array([f"s{i % 7}" for i in range(n_rows)]),
        }
    )
    pq.write_table(t, path, row_group_size=row_group_size)
    sschema = spark.createDataFrame([(0, 0.0, "x")], "k long, v double, s string").schema
    dec = roundtrip_files(spark, path, sschema, stripe_rows=512)
    got = sorted(tuple(r) for r in dec.collect())
    assert got == sorted(zip(range(n_rows), (i * 0.5 for i in range(n_rows)), (f"s{i % 7}" for i in range(n_rows))))


def test_roundtrip_files_projection_and_transform(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_orc_spark.operators.encode import roundtrip_files

    path = os.path.join(tmp_path, "t.parquet")
    n = 5000
    t = pa.table(
        {
            "a": pa.array(range(n), type=pa.int64()),
            "b": pa.array([i % 3 for i in range(n)], type=pa.int64()),
        }
    )
    pq.write_table(t, path, row_group_size=n)  # single RG -> subdivision path
    sschema = spark.createDataFrame([(0, 0)], "a long, b long").schema

    def partial(tbl):
        g = tbl.group_by("b").aggregate([("a", "sum"), ([], "count_all")])
        return g.select(["b", "a_sum", "count_all"])

    out_schema = StructType(
        [
            StructField("b", LongType(), True),
            StructField("a_sum", LongType(), True),
            StructField("cnt", LongType(), True),
        ]
    )
    part = roundtrip_files(
        spark, path, sschema, columns=["a", "b"], stripe_rows=512,
        batch_transform=partial, transform_schema=out_schema,
    )
    from pyspark.sql import functions as F

    rows = {
        r["b"]: (r["total"], r["n"])
        for r in part.groupBy("b")
        .agg(F.sum("a_sum").alias("total"), F.sum("cnt").alias("n"))
        .collect()
    }
    expect = {}
    for b in range(3):
        ks = [i for i in range(n) if i % 3 == b]
        expect[b] = (sum(ks), len(ks))
    assert rows == expect


def test_roundtrip_files_transform_multi_flush(spark, tmp_path, monkeypatch):
    """With _PARTIAL_FLUSH_ROWS below the task's row count the partial
    transform runs several times per task; the combined result must be
    identical to a single application (partials are re-combined
    downstream)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_orc_spark.operators.encode import roundtrip_files

    path = os.path.join(tmp_path, "t.parquet")
    n = 6000
    t = pa.table(
        {
            "a": pa.array(range(n), type=pa.int64()),
            "b": pa.array([i % 3 for i in range(n)], type=pa.int64()),
        }
    )
    pq.write_table(t, path, row_group_size=n)
    sschema = spark.createDataFrame([(0, 0)], "a long, b long").schema

    def partial(tbl):
        g = tbl.group_by("b").aggregate([("a", "sum"), ([], "count_all")])
        return g.select(["b", "a_sum", "count_all"])

    out_schema = StructType(
        [
            StructField("b", LongType(), True),
            StructField("a_sum", LongType(), True),
            StructField("cnt", LongType(), True),
        ]
    )

    def run(flush):
        # read on the driver at call time and shipped in the task closure
        monkeypatch.setattr("datafusion_orc_spark.operators.encode._PARTIAL_FLUSH_ROWS", flush)
        part = roundtrip_files(
            spark, path, sschema, columns=["a", "b"], stripe_rows=256,
            batch_transform=partial, transform_schema=out_schema,
        )
        return {
            r["b"]: (r["total"], r["n"])
            for r in part.groupBy("b")
            .agg(F.sum("a_sum").alias("total"), F.sum("cnt").alias("n"))
            .collect()
        }

    assert run(300) == run(1 << 20)  # several flushes/task == one flush/task


def test_fused_roundtrip_plan_shape(spark):
    """The fused plan must carry NO parquet scan (the python workers scan
    row-group slices directly), exactly ONE MapInArrow, and one
    Exchange: the hash exchange of the per-task partial rows. The final
    aggregate and the result sort run in one task over ``Coalesce 1``,
    with no range exchange. sf0.01 plans 4 splits; sf0.001's single
    split would need no exchange at all."""
    from datafusion_orc_spark.plans.queries import q_roundtrip_lineitem_fused
    from tests.test_plan_shapes import _plan, assert_one_task_tail

    plan = _plan(q_roundtrip_lineitem_fused(spark, os.path.join(os.path.dirname(SF), "sf0.01")))
    assert "Scan parquet" not in plan
    assert plan.count("MapInArrow") == 2  # one node + its detail block
    assert_one_task_tail(plan)


def test_roundtrip_files_plan_is_a_range_task_frame(spark):
    """Without a transform the fused roundtrip is one MapInArrow over
    the ``spark.range`` task frame: no Exchange, no parallelize()d
    split list, no parquet scan."""
    from datafusion_orc_spark.operators.encode import roundtrip_files
    from tests.test_plan_shapes import _plan, assert_range_task_frame

    schema = spark.read.parquet(f"{SF}/lineitem.parquet").schema
    for par in (None, 2):
        plan = _plan(roundtrip_files(spark, f"{SF}/lineitem.parquet", schema, ["l_orderkey"], parallelism=par))
        assert_range_task_frame(plan)
        assert "Scan parquet" not in plan


def test_roundtrip_files_transform_args_must_pair(spark):
    from datafusion_orc_spark.operators.encode import roundtrip_files

    with pytest.raises(ValueError, match="batch_transform"):
        roundtrip_files(
            spark, f"{SF}/lineitem.parquet", None, batch_transform=lambda t: t
        )
