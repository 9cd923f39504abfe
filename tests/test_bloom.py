"""Bloom filter kernels (codecs/bloom.py) + ORC BLOOM_FILTER_UTF8
conformance against the Apache ORC C++ writer (via pyarrow.orc).

The conformance test is the adjudicator for the hash arithmetic: a file
written by ORC C++ with bloom_filter_columns is opened with OUR reader,
the kind-8 index streams parsed with OUR parser, and membership checked
with OUR Murmur3/Wang + k-probe implementation — every value the writer
inserted must test positive, and absent probes must miss at ~the
configured false-positive rate. Any deviation in seed, rotation, tail
handling, int32 wraparound, or bit order fails loudly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.orc as po
import pytest

from datafusion_orc_spark.codecs.bloom import (
    bloom_build,
    bloom_might_contain,
    hash_for_value,
    murmur3_hash64,
    optimal_params,
    parse_bloom_index,
    serialize_bloom_index,
    wang_hash64,
)


def _scalar_murmur3_hash64(data: bytes, seed: int = 104729) -> int:
    """Straightforward per-byte reference (ORC Murmur3.hash64) used to
    pin the vectorized kernel's masking/padding logic."""
    M = (1 << 64) - 1
    C1, C2 = 0x87C37B91114253D5, 0x4CF5AD432745937F

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    h = seed
    nblocks = len(data) >> 3
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8 : i * 8 + 8], "little")
        k = (k * C1) & M
        k = rotl(k, 31)
        k = (k * C2) & M
        h ^= k
        h = (rotl(h, 27) * 5 + 0x52DCE729) & M
    k1 = 0
    tail = data[nblocks * 8 :]
    for i in range(len(tail) - 1, -1, -1):
        k1 ^= tail[i] << (8 * i)
    if k1:
        k1 = (k1 * C1) & M
        k1 = rotl(k1, 31)
        k1 = (k1 * C2) & M
        h ^= k1
    h ^= len(data)
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & M
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & M
    h ^= h >> 33
    return h


def test_murmur3_vector_matches_scalar():
    rng = np.random.default_rng(7)
    vals = [rng.bytes(int(n)) for n in rng.integers(0, 40, size=200)]
    vals += [b"", b"a", b"12345678", b"123456789012345\xff", b"\x00" * 9]
    flat = b"".join(vals)
    offs = np.cumsum([0] + [len(v) for v in vals])
    got = murmur3_hash64(np.frombuffer(flat, np.uint8), offs)
    exp = np.array([_scalar_murmur3_hash64(v) for v in vals], dtype=np.uint64)
    assert (got == exp).all()


def test_wang_hash_known_identity():
    # pin the vectorized kernel against a direct scalar evaluation of
    # ORC's getLongHash — NOTE the right shifts are ARITHMETIC (signed
    # int64), which is what ORC Java/C++ do and what the C++
    # conformance fixture below adjudicates
    def scalar(key):
        M = (1 << 64) - 1

        def asr(x, s):  # arithmetic >> on the 64-bit two's-complement
            if x >= 1 << 63:
                x -= 1 << 64
            return (x >> s) & M

        key = ((~key) + (key << 21)) & M
        key ^= asr(key, 24)
        key = (key + (key << 3) + (key << 8)) & M
        key ^= asr(key, 14)
        key = (key + (key << 2) + (key << 4)) & M
        key ^= asr(key, 28)
        key = (key + (key << 31)) & M
        return key

    xs = np.array([0, 1, 2**31, 2**63 - 1, 2**64 - 1, 104729], dtype=np.uint64)
    got = wang_hash64(xs)
    assert [int(g) for g in got] == [scalar(int(x)) for x in xs]


def test_optimal_params_orc_formula():
    m, k = optimal_params(10000, 0.05)
    assert m % 64 == 0 and 62000 < m < 62500
    assert k == 4


def test_build_query_roundtrip_and_fpp():
    rng = np.random.default_rng(3)
    present = rng.integers(0, 1 << 62, size=5000, dtype=np.uint64)
    m, k = optimal_params(len(present), 0.05)
    words = bloom_build(wang_hash64(present), m, k)
    for v in present[:200]:
        h = int(wang_hash64(np.array([v]))[0])
        assert bloom_might_contain(words, k, h)
    absent = rng.integers(1 << 62, 1 << 63, size=2000, dtype=np.uint64)
    hits = sum(
        bloom_might_contain(words, k, int(wang_hash64(np.array([v]))[0]))
        for v in absent
    )
    assert hits / len(absent) < 0.15  # fpp 0.05 with slack


def test_bloom_index_wire_roundtrip():
    rng = np.random.default_rng(5)
    filters = []
    for n in (10, 1000):
        m, k = optimal_params(n, 0.05)
        h = wang_hash64(rng.integers(0, 1 << 60, size=n, dtype=np.uint64))
        filters.append((bloom_build(h, m, k), k))
    buf = serialize_bloom_index(filters)
    back = parse_bloom_index(buf)
    assert len(back) == len(filters)
    for (w0, k0), (w1, k1) in zip(filters, back):
        assert k0 == k1 and (w0 == w1).all()


@pytest.fixture(scope="module")
def cpp_bloom_file(tmp_path_factory):
    """ORC C++ writes string + int64 + float64 blooms; one row group."""
    n = 3000
    rng = np.random.default_rng(11)
    tbl = pa.table(
        {
            "s": pa.array([f"doc-{i:06d}" for i in range(n)]),
            "i": pa.array(rng.integers(-(1 << 40), 1 << 40, size=n)),
            "f": pa.array(rng.normal(size=n)),
        }
    )
    path = str(tmp_path_factory.mktemp("bloom") / "cpp.orc")
    po.write_table(
        # pyarrow/ORC-C++ take ORC TYPE IDS here (root=0): s=1, i=2, f=3
        tbl, path, bloom_filter_columns=[1, 2, 3], bloom_filter_fpp=0.05,
        compression="snappy",
    )
    return path, tbl


def _read_blooms(path):
    from datafusion_orc_spark.format.orc_reader import OrcReader, _StripeReader

    r = OrcReader(path)
    sr = _StripeReader(r, r.footer.stripes[0])
    out = {}
    for (col, kind) in list(sr.streams):
        if kind in (7, 8):  # BLOOM_FILTER / BLOOM_FILTER_UTF8
            out.setdefault(col, {})[kind] = parse_bloom_index(sr.stream(col, kind))
    return r, out


def test_cpp_bloom_conformance(cpp_bloom_file):
    path, tbl = cpp_bloom_file
    r, blooms = _read_blooms(path)
    names = r.footer.types[0].field_names
    assert blooms, "C++ writer emitted no bloom streams"

    def filters_for(colname):
        cid = r.footer.types[0].subtypes[names.index(colname)]
        per_kind = blooms[cid]
        # prefer the UTF8 (kind 8) representation when both exist
        return per_kind.get(8) or per_kind[7]

    # strings: every written value must hit; absent mostly miss
    words, k = filters_for("s")[0]
    for v in tbl["s"].to_pylist()[:300]:
        assert bloom_might_contain(words, k, hash_for_value(v, "bytes")), v
    misses = [
        bloom_might_contain(words, k, hash_for_value(f"doc-9{i:05d}x", "bytes"))
        for i in range(1000)
    ]
    assert sum(misses) / 1000 < 0.15

    words, k = filters_for("i")[0]
    for v in tbl["i"].to_pylist()[:300]:
        assert bloom_might_contain(words, k, hash_for_value(v, "int")), v
    misses = [
        bloom_might_contain(words, k, hash_for_value((1 << 50) + i, "int"))
        for i in range(1000)
    ]
    assert sum(misses) / 1000 < 0.15

    words, k = filters_for("f")[0]
    for v in tbl["f"].to_pylist()[:300]:
        assert bloom_might_contain(words, k, hash_for_value(v, "float")), v


# ------------------------- writer emission + point-predicate pruning


@pytest.fixture(scope="module")
def own_bloom_file(tmp_path_factory):
    """Our writer, bloom on string + int columns; values SHUFFLED so
    every row group's min/max spans the whole domain — min/max stats can
    never prune a point predicate, only the blooms can."""
    from datafusion_orc_spark.format.orc_writer import write_orc

    n = 40000
    rng = np.random.default_rng(23)
    perm = rng.permutation(n)
    tbl = pa.table(
        {
            "doc_id": pa.array([f"doc-{2 * i:07d}" for i in perm]),  # evens only
            "num": pa.array((perm * 2).astype(np.int64)),
            "payload": pa.array(rng.integers(0, 100, size=n)),
            # even day numbers only, every 9th row null
            "day": pa.array(
                [None if i % 9 == 0 else int(2 * p) for i, p in enumerate(perm)], type=pa.date32()
            ),
        }
    )
    path = str(tmp_path_factory.mktemp("ownbloom") / "own.orc")
    write_orc(
        tbl, path, stripe_rows=20000, row_index_stride=5000,
        compression="snappy", bloom_filter_columns=["doc_id", "num", "day"],
    )
    return path, tbl


def test_own_bloom_streams_parse_and_contain(own_bloom_file):
    path, tbl = own_bloom_file
    r, blooms = _read_blooms(path)
    names = r.footer.types[0].field_names
    sid = r.footer.types[0].subtypes[names.index("doc_id")]
    nid = r.footer.types[0].subtypes[names.index("num")]
    assert 8 in blooms[sid] and 8 in blooms[nid]
    assert len(blooms[sid][8]) == 4  # 20000-row stripe / 5000 stride
    # spot containment: row 0 lands in stripe 0 group 0
    words, k = blooms[sid][8][0]
    v = tbl["doc_id"][0].as_py()
    assert bloom_might_contain(words, k, hash_for_value(v, "bytes"))


def test_bloom_point_prune_int(own_bloom_file):
    from datafusion_orc_spark.format.orc_reader import OrcReader

    path, tbl = own_bloom_file
    r = OrcReader(path)
    # absent odd value: stats keep every group (full-domain min/max),
    # blooms must drop essentially everything
    got = r.read(prune={"num": (12345, 12345)})
    assert got.num_rows <= 10000  # <=1 surviving (false-positive) group/stripe
    assert 12345 not in got["num"].to_pylist()
    # present value: its group must survive and carry the row
    v = int(tbl["num"][7].as_py())
    got = r.read(prune={"num": (v, v)})
    assert v in got["num"].to_pylist()
    assert 0 < got.num_rows < tbl.num_rows


def test_bloom_point_prune_date(own_bloom_file):
    """A date32 bloom hashes the day number (nulls skipped): an absent
    day drops its groups, a present one keeps its row."""
    import datetime

    from datafusion_orc_spark.format.orc_reader import OrcReader

    path, tbl = own_bloom_file
    r = OrcReader(path)
    got = r.read(prune={"day": (12345, 12345)})  # odd: never written
    assert got.num_rows <= 10000
    assert datetime.date(1970, 1, 1) + datetime.timedelta(days=12345) not in got["day"].to_pylist()
    v = tbl["day"][1].as_py()
    days = (v - datetime.date(1970, 1, 1)).days
    got = r.read(prune={"day": (days, days)})
    assert v in got["day"].to_pylist()
    assert 0 < got.num_rows < tbl.num_rows


def test_bloom_point_prune_string(own_bloom_file):
    from datafusion_orc_spark.format.orc_reader import OrcReader

    path, tbl = own_bloom_file
    r = OrcReader(path)
    got = r.read(prune={"doc_id": ("doc-0000013", "doc-0000013")})
    assert got.num_rows <= 10000 and "doc-0000013" not in got["doc_id"].to_pylist()
    v = tbl["doc_id"][11].as_py()
    got = r.read(prune={"doc_id": (v, v)})
    assert v in got["doc_id"].to_pylist()


def test_bloom_range_predicates_ignore_bloom(own_bloom_file):
    """Non-point predicates must not consult blooms (a bloom can only
    answer equality) — the full range comes back."""
    from datafusion_orc_spark.format.orc_reader import OrcReader

    path, tbl = own_bloom_file
    r = OrcReader(path)
    got = r.read(prune={"num": (0, 10**9)})
    assert got.num_rows == tbl.num_rows


def test_bloom_file_readable_by_orc_cpp(own_bloom_file):
    """Index-region layout with bloom streams stays spec-valid: ORC C++
    (pyarrow) reads the file and sees identical values."""
    path, tbl = own_bloom_file
    back = po.ORCFile(path).read()
    assert back.num_rows == tbl.num_rows
    for name in ("num", "doc_id", "day"):
        assert back[name].combine_chunks().equals(tbl[name].combine_chunks()), name


def test_bloom_unsupported_column_type_raises(tmp_path):
    from datafusion_orc_spark.format.orc_writer import write_orc

    tbl = pa.table({"b": pa.array([True, False])})
    with pytest.raises((TypeError, ValueError)):
        write_orc(
            tbl, str(tmp_path / "x.orc"),
            row_index_stride=1000, bloom_filter_columns=["b"],
        )


def test_sink_threads_bloom_columns(spark, tmp_path):
    """write_orc_distributed(bloom_filter_columns=) -> every part file
    carries kind-8 streams; the distributed read with a point prune
    returns exactly the probed rows."""
    import glob

    from pyspark.sql import functions as F

    from datafusion_orc_spark.sources.orc_sink import write_orc_distributed
    from datafusion_orc_spark.sources.orc_source import read_orc_distributed

    df = (
        spark.range(0, 20000)
        .select(
            (F.col("id") * 7 % 20011).alias("k"),  # shuffled domain
            (F.col("id") % 100).alias("v"),
        )
        .repartition(2)
    )
    out = str(tmp_path / "sinkbloom")
    write_orc_distributed(
        df, out, stripe_rows=8192, row_index_stride=2048,
        bloom_filter_columns=["k"],
    ).collect()
    for p in glob.glob(f"{out}/*.orc"):
        _, blooms = _read_blooms(p)
        assert any(8 in per for per in blooms.values()), p
    got = read_orc_distributed(spark, out, prune={"k": (77, 77)}).filter(
        "k = 77"
    )
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["k"] == 77
