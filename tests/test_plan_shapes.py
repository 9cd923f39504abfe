"""Physical-plan assertions: the optimizations SURVEY.md §4.1 promises
must actually appear in `.explain` output — pushed filters, pruned scan
schemas, broadcast joins, whole-stage codegen, and no shuffle in the
encode hot path."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def assert_range_task_frame(plan: str) -> None:
    """A split-planned job's frame: ``MapInArrow`` straight over a
    ``Range`` leaf. No ``ExistingRDD`` scan (a parallelize()d split list
    runs a Python stage per task to build its rows) and no Exchange."""
    import re

    assert re.search(r"^\+- (\* )?Range \(\d+\)$", plan, flags=re.M), plan
    assert re.search(r"^\(\d+\) Range ", plan, flags=re.M), plan
    assert "ExistingRDD" not in plan, plan
    assert "Exchange" not in plan, plan


def assert_one_task_tail(plan: str) -> None:
    """A sorted small aggregate's tail: the global ``Sort`` sits on
    ``Coalesce 1`` over the final aggregate, the plan holds exactly one
    Exchange (the hash exchange of the partial rows), and no range
    exchange, so no RangePartitioner sampling job runs."""
    import re

    tree = plan.split("\n\n")[0]
    assert re.search(r"\+- Sort \(\d+\)\n\s+\+- Coalesce \(\d+\)\n\s+\+- HashAggregate", tree), plan
    assert re.search(r"^\(\d+\) Coalesce\n.*\nArguments: 1$", plan, flags=re.M), plan
    assert len(re.findall(r"\+- Exchange \(\d+\)", tree)) == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") < 24)
        .select("l_returnflag", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,24.0)" in plan, plan
    # column pruning: ReadSchema must not include unprojected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" in read_schema


def test_broadcast_join_used_for_dims(spark):
    from datafusion_orc_spark.plans.queries import q_nation_revenue

    plan = _plan(q_nation_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle-join


def test_encode_plan_has_no_exchange(spark):
    """The encode hot path must be shuffle-free: scan -> mapInArrow."""
    from datafusion_orc_spark.operators.encode import encode_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(encode_table(df, stripe_rows=4096))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_decode_plan_has_no_exchange(spark):
    """The default decode path must not reshuffle the encoded bytes:
    encode -> mapInArrow decode, zero Exchange nodes (at 100 TB a
    groupBy(stripe_id) here would shuffle the whole dataset per read)."""
    from datafusion_orc_spark.operators.encode import decode_table, encode_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dec = decode_table(encode_table(df, stripe_rows=4096), None, df.schema)
    plan = _plan(dec)
    assert "Exchange" not in plan, plan


def test_decode_local_roundtrip_values(spark):
    """shuffle=False decode returns the exact rows (content-hash equal)."""
    from datafusion_orc_spark.operators.encode import verify_roundtrip

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(4)
    ok, stats = verify_roundtrip(df, stripe_rows=1000)
    assert ok, stats


def test_decode_shuffled_blobs_raises_then_fallback_works(spark):
    """Blob tables repartitioned after encode: the no-shuffle decode must
    fail loudly (not silently mis-decode); shuffle=True handles them."""
    from datafusion_orc_spark.operators.encode import decode_table, encode_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(4)
    blobs = encode_table(df, stripe_rows=500).repartition(16).cache()
    blobs.count()
    try:
        with pytest.raises(Exception, match="repartitioned|missing columns"):
            decode_table(blobs, None, df.schema).count()
        shuffled = decode_table(blobs, None, df.schema, shuffle=True)
        assert shuffled.count() == df.count()
        # one task body: a stripe_id hash exchange feeds the same
        # MapInArrow decode as shuffle=False, no group-by UDF. The cached
        # blob table's own plan (the encode) prints under InMemoryRelation
        plan = shuffled._sc._jvm.PythonSQLUtils.explainString(shuffled._jdf.queryExecution(), "simple")
        decode = plan.split("InMemoryRelation")[0]
        assert "FlatMapGroupsInArrow" not in plan, plan
        assert decode.count("MapInArrow") == 1, plan
        assert "Exchange hashpartitioning(stripe_id" in decode, plan
    finally:
        blobs.unpersist()


@pytest.mark.parametrize("qname", ["q_dedup_embedding", "q_ann_lsh_topk", "q_dedup_ngram_jaccard"])
def test_lsh_paths_have_no_cartesian_join(spark, qname):
    """The embedding dedup / ANN scale paths must candidate via the
    (band, bucket) equi-join — an all-pairs theta-join (CartesianProduct /
    BroadcastNestedLoopJoin) is O(n^2) and dead at 100 TB."""
    import datafusion_orc_spark.plans.queries as Q

    plan = _plan(getattr(Q, qname)(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_wholestage_codegen_in_agg(spark):
    from datafusion_orc_spark.plans.queries import q_pricing_summary

    df = q_pricing_summary(spark, SF_DIR)
    # AQE's pre-execution formatted plan hides codegen: ask for codegen mode
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in plan


def test_decode_prune_has_no_join(spark):
    """Stripe pruning happens inside the decode task, on a bound column
    that is projected and on one that is not: the blob table is scanned
    once, with no join and no Exchange."""
    from datafusion_orc_spark.operators.encode import decode_table, encode_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    blobs = encode_table(df, stripe_rows=2000)
    for columns in (None, ["l_partkey"]):
        dec = decode_table(blobs, None, df.schema, columns=columns, prune={"l_orderkey": (0, 100)})
        plan = _plan(dec)
        assert "Join" not in plan and "Exchange" not in plan, plan


def test_jaccard_candidate_join_is_thin(spark):
    """Candidate generation must not shuffle token payloads: the band
    union and the (band, bucket) self-join carry doc_id only; toksets
    join back by doc_id for the verify stage (the r2 verdict's #4 —
    the tokset array rode the 4x band union and both join sides)."""
    from datafusion_orc_spark.plans.queries import q_dedup_ngram_jaccard

    plan = _plan(q_dedup_ngram_jaccard(spark, SF_DIR))
    # every Exchange's output schema in the formatted plan lists its
    # columns; tokset must only appear in the post-candidate verify joins
    # (hashpartitioning on doc_a/doc_b), never under band/bucket exchanges
    for block in plan.split("Exchange")[1:]:
        head = block.split("\n", 1)[0]
        if "band" in head and "bucket" in head:
            assert "tokset" not in head, head


def test_lsh_bands_are_thin(spark):
    """The exploded LSH band rows must not carry the quantized embedding
    array through the candidate self-join."""
    from datafusion_orc_spark.plans.queries import _lsh_bands_df

    bands = _lsh_bands_df(spark, SF_DIR)
    assert bands.columns == ["vec_id", "band", "bucket"]


def test_min_label_components_chain_diameter_8(spark):
    """Chain graph a0-a1-...-a8 (diameter 8): propagation must converge
    (label eccentricity > the old 10-round cap's comfort zone is the
    regression this guards) and label every node with the chain min."""
    from datafusion_orc_spark.functions.graph import min_label_components

    chain = [(f"a{i}", f"a{i+1}") for i in range(8)]
    pairs = spark.createDataFrame(chain, "doc_a string, doc_b string")
    labels = {r["node"]: r["label"] for r in min_label_components(pairs).collect()}
    assert labels == {f"a{i}": "a0" for i in range(9)}


def test_min_label_components_raises_beyond_max_rounds(spark):
    from datafusion_orc_spark.functions.graph import min_label_components

    chain = [(f"b{i:02d}", f"b{i+1:02d}") for i in range(6)]
    pairs = spark.createDataFrame(chain, "doc_a string, doc_b string")
    with pytest.raises(RuntimeError, match="no convergence"):
        min_label_components(pairs, max_rounds=2)


def test_orc_scan_plan_has_no_exchange(spark, tmp_path):
    """read_orc_distributed must not plan an Exchange over its split
    list: its task frame is the ``spark.range`` frame encode_files uses
    (a repartition() frame added a stage barrier + AQE replan per scan;
    a parallelize() frame a Python stage per task)."""
    import numpy as np
    import pyarrow as pa

    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    t = pa.table({"a": pa.array(np.arange(5000, dtype=np.int64))})
    p = str(tmp_path / "scan.orc")
    write_orc(t, p, stripe_rows=1000)
    df = read_orc_distributed(spark, p)
    assert_range_task_frame(_plan(df))
    assert df.rdd.getNumPartitions() == 4  # 5 stripes over local[4]
    assert df.agg(F.sum("a")).collect()[0][0] == 5000 * 4999 // 2


def test_orc_pruned_scan_tail_is_one_task(spark):
    """The orc query sorts its per-flag result on the DataFrame, over
    ``Coalesce 1``: its SQL has no ORDER BY, so no range exchange."""
    from datafusion_orc_spark.plans.queries import q_orc_pruned_scan

    assert_one_task_tail(_plan(q_orc_pruned_scan(spark, SF_DIR)))


def test_quantized_emb_cache_released(spark):
    """release_quantized_emb drops the pinned executor storage (r3
    verdict #6: the session-lifetime cache was a memory tax at scale)."""
    from datafusion_orc_spark.plans import queries as Q

    df = Q._quantized_emb(spark, SF_DIR)
    df.count()
    assert df.storageLevel.useMemory
    assert Q._quantized_emb(spark, SF_DIR) is df  # registry reuse
    Q.release_quantized_emb(spark)
    assert not df.storageLevel.useMemory, df.storageLevel
    assert (id(spark), SF_DIR) not in Q._QUANT_CACHE


def test_pack_sequences_no_shuffle_before_sort(spark):
    """Sequence packing is scan -> transform -> posexplode; the only
    Exchange allowed is the final (tiny) sort of emitted stats."""
    from datafusion_orc_spark.plans.queries import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, SF_DIR))
    assert "Generate" in plan  # posexplode stayed JVM-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no hash shuffle (no groupBy/join) anywhere in the packing itself;
    # allowed Exchanges: the final sort's rangepartitioning plus (r8) the
    # scale-adaptive RoundRobin parallelism floor on the single-split
    # fixture scan — at production split counts that exchange is absent
    import re

    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" in plan, plan
    # every exchange is either the final sort or the parallelism floor
    for m in re.finditer(r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: ([^\n]*)", plan, flags=re.M):
        args = m.group(1)
        assert "rangepartitioning" in args or "RoundRobinPartitioning" in args, args


def test_contamination_broadcast_is_size_conditional(spark):
    """The benchmark side's size scales with the corpus (doc_id % 211),
    so the query must NOT force a broadcast hint — at 100 TB an
    unconditional BroadcastExchange on that side OOMs executors. The
    join strategy is left to AQE/autoBroadcastJoinThreshold: at test SF
    the side fits and Spark picks a broadcast on its own; above the
    threshold it degrades to a shuffle join instead of failing."""
    import inspect

    from datafusion_orc_spark.plans import queries
    from datafusion_orc_spark.plans.queries import q_contamination

    # structural: no forced hint in the query body (docstring aside)
    src = inspect.getsource(queries.q_contamination)
    assert "F.broadcast(" not in src and ".hint(" not in src
    # behavioral: still an equi-join on the gram key that Spark is free
    # to broadcast when the side fits — at this SF it does
    plan = _plan(q_contamination(spark, SF_DIR))
    assert "Join" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_banding_is_single_scan(spark):
    """r8: LSH banding computes the signature once and posexplodes into
    (band, bucket) rows — the r7 union-per-band shape scanned (and
    re-tokenized) `documents` once per band (r7 verdict task #4)."""
    import re

    from datafusion_orc_spark.plans.queries import (
        q_dedup_minhash,
        q_dedup_minhash_banded,
    )

    for q in (q_dedup_minhash, q_dedup_minhash_banded):
        plan = _plan(q(spark, SF_DIR))
        n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
        assert n_scans == 1, plan
        assert "Union" not in plan, plan
