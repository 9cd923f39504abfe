"""Regression: decode paths must accept SIGNED memoryviews.

pyarrow.Buffer's memoryview has format 'b' (signed), so single-byte
indexing returns negative ints for bytes >= 0x80. FsstTable.deserialize
read a 221-symbol count as -35 and returned an empty table, which made
every str_fsst column decode to empty strings with no error — first hit
by the stripeblob DataSource at sf0.1, the first fixture whose doc_id
stripes are large enough for the codec selector to pick str_fsst.
Two guards hold: the deserializer masks its byte reads (pinned here),
and the one blob-stripe grouping loop (operators/encode.py
``_stripe_groups``, which decode_table and the DataSource both read
through) casts its Arrow-buffer memoryview to unsigned.
"""
import numpy as np
import pyarrow as pa
import pytest

from datafusion_orc_spark.codecs.strings import FsstTable, fsst_encode, fsst_train
from datafusion_orc_spark.format.stripe import decode_stripe, encode_stripe


def _signed_mv(b: bytes) -> memoryview:
    """A memoryview with format 'b' over the same bytes (what
    pa.py_buffer/pa.Buffer hand out)."""
    mv = memoryview(pa.py_buffer(b))
    assert mv.format == "b", "pa.Buffer memoryview format changed"
    return mv


def test_fsst_table_deserialize_signed_memoryview():
    # >128 symbols so the count byte is >= 0x80 (the failing case)
    syms = [bytes([i, i]) for i in range(200)]
    table = FsstTable(syms)
    ser = table.serialize()
    assert ser[0] >= 0x80
    t_b = FsstTable.deserialize(ser)
    t_mv = FsstTable.deserialize(_signed_mv(ser))
    assert len(t_mv.symbols) == len(t_b.symbols) == 200
    assert t_mv.symbols == t_b.symbols


def test_decode_stripe_from_signed_memoryview_fsst_column():
    # strings shaped like doc ids: shared prefix -> selector picks fsst
    vals = [f"doc-{i:012d}" for i in range(600)]
    batch = pa.record_batch({"doc_id": pa.array(vals, type=pa.string())})
    blobs, _stats = encode_stripe(batch)
    # sanity: the roundtrip must go through the fsst (or at least a
    # string) codec and decode correctly from plain bytes
    out_b = decode_stripe(blobs, batch.schema, columns=["doc_id"])
    assert out_b.column(0).to_pylist() == vals
    got_mv = {k: _signed_mv(v) for k, v in blobs.items()}
    out_mv = decode_stripe(got_mv, batch.schema, columns=["doc_id"])
    assert out_mv.column(0).to_pylist() == vals


def test_decode_stripe_signed_memoryview_all_codecs():
    """Every codec the selector picks for a mixed batch must decode
    bit-identically from a signed memoryview (the fsst table parser was
    the only byte-indexing consumer, but pin the whole matrix)."""
    n = 600
    batch = pa.record_batch({
        "i64": pa.array([(i * 2654435761) % (1 << 40) for i in range(n)], type=pa.int64()),
        "i32n": pa.array([None if i % 7 == 0 else i for i in range(n)], type=pa.int32()),
        "f64": pa.array([i * 1.5 for i in range(n)], type=pa.float64()),
        "b": pa.array([i % 3 == 0 for i in range(n)], type=pa.bool_()),
        "sdict": pa.array([["alpha", "beta", "gamma", "delta"][i % 4] for i in range(n)], type=pa.string()),
        "sfsst": pa.array([f"doc-{i:012d}" for i in range(n)], type=pa.string()),
        "arr": pa.array([[i, i + 1, i + 2] for i in range(n)], type=pa.list_(pa.int32())),
        "date": pa.array([18000 + i for i in range(n)], type=pa.date32()),
    })
    blobs, stats = encode_stripe(batch)
    codecs = {s["column"]: s["codec"] for s in stats}
    assert codecs["sfsst"] == "str_fsst"  # the regression's trigger codec
    got_mv = {k: _signed_mv(v) for k, v in blobs.items()}
    out = decode_stripe(got_mv, batch.schema)
    for i, nm in enumerate(batch.schema.names):
        assert out.column(i).equals(batch.column(i)), (nm, codecs[nm])


def test_fsst_roundtrip_signed_memoryview_stream():
    blob = b"".join(f"doc-{i:012d}".encode() for i in range(400))
    table = fsst_train(blob)
    enc = fsst_encode(blob, table)
    from datafusion_orc_spark.codecs.strings import fsst_decode

    dec = fsst_decode(_signed_mv(bytes(enc)), FsstTable.deserialize(_signed_mv(table.serialize())))
    assert dec == blob


@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()])
def test_stripe_groups_yield_unsigned_slices_of_sliced_batches(typ):
    """The blob grouping loop hands out unsigned views of the Arrow data
    buffer for binary and large_binary blobs, through batch slice offsets."""
    from datafusion_orc_spark.operators.encode import _encode_stream, _stripe_batches, _stripe_groups

    vals = [f"doc-{i:012d}" for i in range(600)]
    batch = pa.record_batch({"doc_id": pa.array(vals), "n": pa.array(range(600), pa.int64())})
    blobs = pa.Table.from_batches(list(_encode_stream(iter([batch, batch]), 0, 1)))
    blobs = blobs.set_column(blobs.schema.get_field_index("data"), "data", blobs["data"].cast(typ))
    rows = blobs.combine_chunks().to_batches()[0]
    one_row = [rows.slice(i, 1) for i in range(rows.num_rows)]
    groups = list(_stripe_groups(iter(one_row), {"doc_id", "n"}, None))
    assert len(groups) == 2
    assert all(b.format == "B" for g in groups for b in g.values())
    out = list(_stripe_batches(iter(one_row), batch.schema, ["doc_id", "n"], None))
    assert [b.to_pydict() for b in out] == [batch.to_pydict()] * 2
