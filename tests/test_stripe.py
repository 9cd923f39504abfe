"""Stripe-blob container round-trip tests (format/stripe.py) across all
supported types, F2 codec-trigger shapes, and the driver's parquet tables."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_orc_spark.format.stripe import (
    decode_column,
    decode_stripe,
    encode_column,
    encode_stripe,
)


def _roundtrip(arr: pa.Array):
    blob, stats = encode_column(arr)
    out = decode_column(blob, arr.type)
    assert out.equals(arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr), (
        f"codec={stats['codec']}: {arr[:10]} != {out[:10]}"
    )
    return blob, stats


def test_f2_codec_triggers():
    n = 20000
    rng = np.random.default_rng(42)
    state = rng.integers(0, 2**63, n)
    cases = {
        "c_const": (pa.array(np.full(n, 7, dtype=np.int32)), "int_rle2u"),
        "c_mono": (pa.array((1000 + 3 * np.arange(n)).astype(np.int32)), "int_rle2u"),
        "c_rand": (pa.array(state.astype(np.int64)), "int_rle2u"),
        "c_neg": (pa.array((state.astype(np.int64) - 2**62)), "int_rle2"),
        "c_small": (
            pa.array(np.where(np.arange(n) % 97 == 0, 10**9 + state % 1000, state % 100).astype(np.int64)),
            "int_rle2u",
        ),
        "c_for": (pa.array((1_000_000 + state % 256).astype(np.int32)), "int_for_bp"),
        "s_lowcard": (pa.array([f"src_{i % 8}" for i in range(n)]), "str_dict"),
        "s_highcard": (pa.array([f"doc-{s:016x}-{i}" for i, s in enumerate(state)]), "str_fsst"),
        "b_flag": (pa.array((np.arange(n) // 100) % 2 == 0), "bool_rle"),
    }
    for name, (arr, expected_codec) in cases.items():
        blob, stats = _roundtrip(arr)
        assert stats["codec"] == expected_codec, f"{name}: got {stats['codec']}, want {expected_codec}"

    # compression sanity: each trigger shape must actually compress
    for name in ("c_const", "c_mono", "c_small", "c_for", "s_lowcard", "b_flag"):
        arr, _ = cases[name]
        blob, stats = encode_column(arr)
        assert stats["enc_bytes"] < stats["raw_bytes"], name


def test_nulls_all_types():
    def with_nulls(values, typ):
        return pa.array([None if i % 5 == 0 else v for i, v in enumerate(values)], type=typ)

    _roundtrip(with_nulls(list(range(1000)), pa.int64()))
    _roundtrip(with_nulls(list(range(1000)), pa.int32()))
    _roundtrip(with_nulls([float(i) / 3 for i in range(1000)], pa.float64()))
    _roundtrip(with_nulls([i % 2 == 0 for i in range(1000)], pa.bool_()))
    _roundtrip(with_nulls([f"v{i % 7}" for i in range(1000)], pa.string()))
    _roundtrip(with_nulls([f"unique-{i}-{i*31}" for i in range(1000)], pa.string()))
    _roundtrip(with_nulls([[i, i + 1, i + 2] for i in range(1000)], pa.list_(pa.int32())))
    _roundtrip(with_nulls([[float(i)] * 3 for i in range(1000)], pa.list_(pa.float32())))


def test_tokens_array_column():
    # F1-shaped tokens: array<int32>, values in [0, 50257)
    rng = np.random.default_rng(42)
    tokens = [rng.integers(0, 50257, rng.integers(64, 2048)).astype(np.int32) for _ in range(200)]
    arr = pa.array([t.tolist() for t in tokens], type=pa.list_(pa.int32()))
    blob, stats = _roundtrip(arr)
    assert stats["codec"].startswith("arr_int")
    # per-row token-array equality (the north-rule invariant)
    out = decode_column(blob, arr.type)
    for i in range(len(tokens)):
        assert np.array_equal(np.array(out[i].as_py()), tokens[i])


def test_empty_and_singleton():
    _roundtrip(pa.array([], type=pa.int64()))
    _roundtrip(pa.array([], type=pa.string()))
    _roundtrip(pa.array([42], type=pa.int64()))
    _roundtrip(pa.array(["x"], type=pa.string()))
    _roundtrip(pa.array([None], type=pa.int64()))
    _roundtrip(pa.array([[]], type=pa.list_(pa.int32())))


def test_timestamp_and_date():
    ts = pa.array(np.arange(10**15, 10**15 + 5000, 7, dtype=np.int64)).cast(pa.timestamp("us"))
    _roundtrip(ts)
    d = pa.array(np.arange(0, 2000, dtype=np.int32)).cast(pa.date32())
    _roundtrip(d)


def test_raw_ipc_fallback():
    arr = pa.array([{"a": 1}, {"a": 2}, None], type=pa.struct([("a", pa.int64())]))
    blob, stats = _roundtrip(arr)
    assert stats["codec"] == "raw_ipc"


def test_malformed_blob_raises():
    """A blob whose streams do not end exactly at its last byte, whose
    version is not the current one, or whose codec id is unknown raises
    ValueError instead of decoding wrong values or a bare KeyError."""
    flags = pa.array(np.random.default_rng(4).random(5000) < 0.5)
    blob, stats = encode_column(flags)
    assert stats["codec"] == "bool_rle"
    for cut in (1, 7, 100, len(blob) - 20, len(blob) - 5):
        with pytest.raises(ValueError, match="malformed stripe blob"):
            decode_column(blob[:-cut], pa.bool_())
    with pytest.raises(ValueError, match="malformed stripe blob"):
        decode_column(blob + b"\0", pa.bool_())
    with pytest.raises(ValueError, match="version"):
        decode_column(bytes([1]) + blob[1:], pa.bool_())
    with pytest.raises(ValueError, match="codec id 99"):
        decode_column(blob[:1] + bytes([99]) + blob[2:], pa.bool_())


def _doc_ids(seed: int, hi: int, n: int = 8000) -> pa.RecordBatch:
    rng = np.random.default_rng(seed)
    return pa.RecordBatch.from_pydict({"doc_id": [f"doc-{i:012d}" for i in rng.integers(0, hi, n)]})


def test_encode_stripe_output_depends_on_its_batch_alone():
    """A stripe's blobs are a function of that stripe: encoding another
    table with a same-named FSST column in between changes no byte.
    ``a``'s wider ids train a different table than ``b``'s, and that
    table would still compress ``b`` well enough to pass for its own."""
    a, b = _doc_ids(1, 10**9), _doc_ids(2, 10**6)
    before, stats = encode_stripe(b)
    assert stats[0]["codec"] == "str_fsst"
    encode_stripe(a)
    after, _ = encode_stripe(b)
    assert after == before
    assert decode_stripe(after, b.schema).equals(b)


@pytest.mark.parametrize("table", ["lineitem", "orders", "events", "documents", "embeddings"])
def test_driver_tables_roundtrip(table):
    t = pq.read_table(f"/root/testdata/sf0.001/{table}.parquet")
    batch = t.combine_chunks().to_batches()[0]
    blobs, stats = encode_stripe(batch)
    out = decode_stripe(blobs, batch.schema)
    for name in batch.schema.names:
        assert out.column(out.schema.get_field_index(name)).equals(
            batch.column(batch.schema.get_field_index(name))
        ), f"{table}.{name}"


def test_projection_decode():
    t = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    batch = t.combine_chunks().to_batches()[0]
    blobs, _ = encode_stripe(batch)
    out = decode_stripe(blobs, batch.schema, columns=["l_orderkey", "l_quantity"])
    assert out.schema.names == ["l_orderkey", "l_quantity"]
    assert out.num_rows == batch.num_rows


def test_top_level_api_lazy_and_pyspark_free():
    """The package's public API resolves lazily (PEP 562): workers import
    this package for codec kernels, so the top level must not pull
    pyspark eagerly."""
    import subprocess
    import sys

    code = (
        "import sys; import datafusion_orc_spark as d; "
        "from datafusion_orc_spark import read_orc, write_orc, OrcReader; "
        "assert 'pyspark' not in sys.modules; "
        "assert sorted(d._API)[0] == 'OrcReader'"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd="/root/repo")
