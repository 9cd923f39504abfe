"""Object-store seam (sources/objectstore.py) — the reference's
ObjectStoreReader contract (object_store_reader.rs:39-59): listing,
metadata, and data all go through one pluggable store; metadata reads
are RANGED (tail-only), never whole-file.

memory:// is the in-process store double whose reads are range-logged;
executor-distributed paths keep LocalStore (a memory:// file written on
the driver does not exist in worker processes by construction)."""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_orc_spark.sources.objectstore import (
    LocalStore,
    MemoryStore,
    StoreOpener,
    resolve_store,
)


@pytest.fixture(autouse=True)
def _clean_memory():
    MemoryStore.clear()
    yield
    MemoryStore.clear()


def test_resolve_store_schemes(tmp_path):
    st, p = resolve_store(str(tmp_path / "x.parquet"))
    assert isinstance(st, LocalStore) and p.endswith("x.parquet")
    st, p = resolve_store("file:///a/b.orc")
    assert isinstance(st, LocalStore) and p == "/a/b.orc"
    st, p = resolve_store("memory://bucket/t.orc")
    assert isinstance(st, MemoryStore)
    with pytest.raises(ValueError, match="no filesystem driver"):
        resolve_store("zz-nonexistent-scheme://x/y")


def test_memory_store_roundtrip_list_glob_rename():
    st = MemoryStore()
    for name in ("a.parquet", "b.parquet", "notes.txt"):
        with st.open_output(f"memory://d/{name}") as f:
            f.write(b"x" * 10)
    assert st.list("memory://d", suffix=".parquet") == [
        "memory://d/a.parquet",
        "memory://d/b.parquet",
    ]
    assert st.glob("memory://d/*.parquet") == [
        "memory://d/a.parquet",
        "memory://d/b.parquet",
    ]
    assert st.exists("memory://d/a.parquet") and st.exists("memory://d")
    assert st.isdir("memory://d") and not st.isdir("memory://d/a.parquet")
    assert st.size("memory://d/a.parquet") == 10
    st.rename("memory://d/a.parquet", "memory://d/z.parquet")
    assert not st.exists("memory://d/a.parquet")
    with st.open_input("memory://d/z.parquet") as f:
        assert f.read() == b"x" * 10


def _write_orc_to_memory(n=50_000, stripe_rows=5000) -> str:
    import io

    from datafusion_orc_spark.format.orc_writer import write_orc

    t = pa.table({
        "a": pa.array(np.arange(n, dtype=np.int64)),
        "b": pa.array((np.arange(n) % 97).astype(np.int32)),
    })
    import tempfile, os

    with tempfile.NamedTemporaryFile(suffix=".orc", delete=False) as tf:
        local = tf.name
    write_orc(t, local, stripe_rows=stripe_rows)
    uri = "memory://bucket/data/t.orc"
    st = MemoryStore()
    with open(local, "rb") as f, st.open_output(uri) as out:
        out.write(f.read())
    os.unlink(local)
    return uri


def test_orc_schema_read_is_ranged_tail_only():
    """Through the store seam, schema inference issues only small ranged
    reads near EOF — the ranged-GET contract (object_store_reader.rs)."""
    from datafusion_orc_spark.format.orc_reader import OrcReader

    uri = _write_orc_to_memory()
    st = MemoryStore()
    fsize = st.size(uri)
    r = OrcReader(uri, opener=StoreOpener(st))
    r.schema()
    log = MemoryStore.read_log[uri]
    assert log, "no reads logged"
    total = sum(ln for _off, ln in log)
    assert total < min(fsize, 64 * 1024), (total, fsize)
    # every read is positioned in the file tail (footer region)
    assert all(off > fsize / 2 for off, _ln in log), log[:5]


def test_plan_splits_over_memory_store():
    from datafusion_orc_spark.sources.orc_source import plan_splits

    uri = _write_orc_to_memory()
    st = MemoryStore()
    splits, schema = plan_splits([uri], 4, opener=StoreOpener(st))
    assert schema.names == ["a", "b"]
    assert len(splits) == 4  # one 10-stripe file fans out to the target
    assert sum(e - s for _p, _g, s, e in splits) == 10  # 50k rows / 5k stripe_rows


def _blob_table_to_memory(spark, base="memory://bt"):
    """Encode a small table and park the blob parquet + manifest in
    MemoryStore; returns (uri, original rows as pylist)."""
    from datafusion_orc_spark.operators.encode import encode_table

    df = spark.range(2000).selectExpr(
        "id", "cast(id % 7 as int) as grp", "concat('u-', id) as name"
    )
    blobs = encode_table(df.repartition(2), stripe_rows=256).collect()
    tbl = pa.Table.from_pylist([r.asDict() for r in blobs])
    st = MemoryStore()
    with st.open_output(f"{base}/part-0.parquet") as f:
        pq.write_table(tbl, f)
    manifest = {"schema_json": df.schema.json()}
    with st.open_output(f"{base}/_MANIFEST.json") as f:
        f.write(json.dumps(manifest).encode())
    return base, df


def test_stripeblob_reader_over_memory_store(spark):
    """The DataSource reader's partition read path against a non-local
    store, called the way Spark's python runner calls it."""
    from datafusion_orc_spark.sources.stripeblob_datasource import StripeBlobReader

    base, df = _blob_table_to_memory(spark)
    reader = StripeBlobReader(base, df.schema)
    parts = reader.partitions()
    # one file of one row group: one partition reading all of it
    assert [p.splits for p in parts] == [[(f"{base}/part-0.parquet", 0, 0, 1)]]
    batches = list(reader.read(parts[0]))
    got = pa.Table.from_batches(batches)
    assert got.num_rows == 2000
    assert sorted(got.column("id").to_pylist()) == list(range(2000))


def test_stripeblob_reader_projection_decodes_subset(spark, monkeypatch):
    """columns option: only projected blobs are decoded (S10 analogue)."""
    from pyspark.sql.types import StructType

    from datafusion_orc_spark.sources.stripeblob_datasource import StripeBlobReader
    import datafusion_orc_spark.operators.encode as encode_mod

    base, df = _blob_table_to_memory(spark)
    proj = StructType([f for f in df.schema.fields if f.name in ("id", "grp")])

    decoded_names, held_names = [], set()
    real_stripe = encode_mod.decode_stripe

    def spy_stripe(blobs, schema, columns=None, row_ranges=None):
        decoded_names.extend(columns if columns is not None else schema.names)
        held_names.update(blobs)
        return real_stripe(blobs, schema, columns=columns, row_ranges=row_ranges)

    monkeypatch.setattr(encode_mod, "decode_stripe", spy_stripe)
    reader = StripeBlobReader(base, proj)
    got = pa.Table.from_batches(list(reader.read(reader.partitions()[0])))
    assert got.schema.names == ["id", "grp"]
    assert got.num_rows == 2000
    # the name column is never decoded, nor even held for decode
    assert set(decoded_names) == held_names == {"id", "grp"}


def test_stripeblob_reader_streaming_memory_bound(spark):
    """Stripes decode as they complete: peak pending stripes stays far
    below the stripe count of the file (O(stripe) memory, not O(file))."""
    import gc
    import types

    from datafusion_orc_spark.operators.encode import _stripe_groups
    from datafusion_orc_spark.sources.stripeblob_datasource import StripeBlobReader

    def live_groupers():
        return [
            g for g in gc.get_objects()
            if isinstance(g, types.GeneratorType) and g.gi_code is _stripe_groups.__code__ and g.gi_frame
        ]

    base, df = _blob_table_to_memory(spark)
    reader = StripeBlobReader(base, df.schema)
    before = {id(g) for g in live_groupers()}
    gen = reader.read(reader.partitions()[0])
    first = next(gen)
    # after the first yield, remaining stripes must not all be buffered:
    # the read's suspended grouping loop exposes its pending dict
    (grouper,) = [g for g in live_groupers() if id(g) not in before]
    pending = grouper.gi_frame.f_locals["pending"]
    assert len(pending) <= 1, f"{len(pending)} stripes buffered"
    rest = list(gen)
    assert first.num_rows + sum(b.num_rows for b in rest) == 2000


def test_read_orc_distributed_accepts_directory(spark, tmp_path):
    """Directory paths now list through the store seam (not just globs)."""
    from datafusion_orc_spark.format.orc_writer import write_orc
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    for i in range(2):
        t = pa.table({"x": pa.array((np.arange(100) + 100 * i).astype(np.int64))})
        write_orc(t, str(tmp_path / f"f{i}.orc"), stripe_rows=64)
    df = read_orc_distributed(spark, str(tmp_path))
    assert df.count() == 200


def test_encode_files_job_lists_input_through_store(spark, tmp_path, monkeypatch):
    """encode_files_job lists its input directory and reads the manifest
    schema through the store seam, as encode_files does; the encode
    itself is stubbed (memory:// files do not exist in workers)."""
    from datafusion_orc_spark.operators import encode
    from datafusion_orc_spark.plans.pipeline import encode_files_job, read_manifest

    st = MemoryStore()
    uris = [f"memory://in/f{i}.parquet" for i in range(3)]
    for u in uris:
        with st.open_output(u) as f:
            pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), f)
    with st.open_output("memory://in/_SUCCESS") as f:
        f.write(b"")
    seen = []

    def fake_encode_files(spark_, paths, **kw):
        seen.append(paths)
        return spark_.createDataFrame(
            [(len(seen), 10, 4, 7)], "stripe_id long, raw_bytes long, enc_bytes long, crc32 long"
        )

    monkeypatch.setattr(encode, "encode_files", fake_encode_files)
    out = str(tmp_path / "enc")
    m = encode_files_job(spark, "memory://in", out, files_per_chunk=2)
    assert seen == [uris[:2], uris[2:]]
    assert [m["chunks"][k]["input_files"] for k in ("0", "1")] == seen
    assert json.loads(m["schema_json"])["fields"][0]["name"] == "k"
    assert read_manifest(out) == m


def test_projected_read_skips_unprojected_streams():
    """Column pruning reaches the IO layer: a projected iter_stripes
    fetches only the stripe footer + the projected column's stream byte
    ranges (physical_exec.rs:69-78 projects before opening streams).
    The wide column 'b' dominates stripe bytes; reading only 'a' must
    read far fewer data-region bytes than the full stripe span."""
    from datafusion_orc_spark.format.orc_reader import OrcReader

    uri = _write_orc_to_memory(n=20_000, stripe_rows=10_000)
    st = MemoryStore()
    fsize = st.size(uri)

    # full unprojected read: baseline data-region bytes
    r = OrcReader(uri, opener=StoreOpener(st))
    full = pa.Table.from_batches(list(r.iter_stripes()))
    MemoryStore.read_log[uri].clear()

    r2 = OrcReader(uri, opener=StoreOpener(st))
    got = pa.Table.from_batches(list(r2.iter_stripes(columns=["a"])))
    assert got.column_names == ["a"]
    assert got.column("a").to_pylist() == full.column("a").to_pylist()
    log = MemoryStore.read_log[uri]
    # 'a' is int64 (wider than b's int32 but b is modulo-97 so RLE-small);
    # the hard assertion: total bytes fetched < 85% of file, and no
    # single read spans a whole stripe's (index+data) region
    total = sum(ln for _off, ln in log)
    assert total < 0.85 * fsize, (total, fsize)
    last = r2.footer.stripes[-1]
    stripes_end = last.offset + last.index_length + last.data_length + last.footer_length
    data_reads = [(off, ln) for off, ln in log if off + ln <= stripes_end]
    stripe_span = r2.footer.stripes[0].index_length + r2.footer.stripes[0].data_length
    assert data_reads, log
    assert all(ln < stripe_span for _off, ln in data_reads), (data_reads, stripe_span)
