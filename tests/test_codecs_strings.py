"""String codec tests: dictionary (sorted symbol table) and FSST-lite."""

import numpy as np
import pytest

from datafusion_orc_spark.codecs.strings import (
    FsstTable,
    dict_decode,
    dict_encode,
    fsst_compress_column,
    fsst_decode,
    fsst_decompress_column,
    fsst_encode,
    fsst_train,
)


def _col(strs):
    blob = b"".join(strs)
    lengths = np.array([len(s) for s in strs], dtype=np.int64)
    return blob, lengths


def _split(blob, lengths):
    off = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    return [blob[off[i] : off[i + 1]] for i in range(len(lengths))]


def test_dict_roundtrip_lowcard():
    strs = [f"src_{i % 8}".encode() for i in range(20000)]
    blob, lengths = _col(strs)
    dblob, dlens, idx = dict_encode(blob, lengths)
    # sorted symbol table (D12 [spec] sortedness)
    entries = _split(dblob, dlens)
    assert entries == sorted(entries)
    assert len(entries) == 8
    assert idx.max() == 7
    blob2, lengths2 = dict_decode(dblob, dlens, idx)
    assert blob2 == blob and np.array_equal(lengths2, lengths)


def test_dict_roundtrip_unicode_and_empty():
    strs = [b"", "大熊和奏".encode(), b"a", b"", "🤔".encode(), b"a"]
    blob, lengths = _col(strs)
    dblob, dlens, idx = dict_encode(blob, lengths)
    blob2, lengths2 = dict_decode(dblob, dlens, idx)
    assert _split(blob2, lengths2) == strs


def test_fsst_roundtrip_docids():
    strs = [f"doc-{i*2654435761 % 2**32:08x}-{i}".encode() for i in range(5000)]
    blob, lengths = _col(strs)
    res = fsst_compress_column(blob, lengths)
    assert res is not None, "doc-id shape should be FSST-profitable"
    tbl, data = res
    assert len(tbl) + len(data) < len(blob)
    blob2, lengths2 = fsst_decompress_column(tbl, data, lengths)
    assert blob2 == blob
    assert _split(blob2, lengths2) == strs


def test_fsst_escape_heavy():
    # bytes including 0xff (the escape code) and full byte range
    rng = np.random.default_rng(7)
    raw = rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
    table = fsst_train(raw)
    enc = fsst_encode(raw, table)
    assert fsst_decode(enc, table) == raw


def test_fsst_all_escape_bytes():
    raw = b"\xff" * 1000
    table = FsstTable([])  # empty table: everything escapes
    enc = fsst_encode(raw, table)
    assert len(enc) == 2000
    assert fsst_decode(enc, table) == raw
    # trained table should make 0xff a single-byte symbol instead
    t2 = fsst_train(raw)
    enc2 = fsst_encode(raw, t2)
    assert len(enc2) <= 1000
    assert fsst_decode(enc2, t2) == raw


def test_fsst_boundary_isolation():
    # digram "ab" must not be matched across the boundary of "...a"|"b..."
    strs = [b"xxa", b"bxx"] * 100
    blob, lengths = _col(strs)
    res = fsst_compress_column(blob, lengths)
    if res is None:
        return  # unprofitable is acceptable; correctness covered elsewhere
    tbl, data = res
    blob2, lengths2 = fsst_decompress_column(tbl, data, lengths)
    assert _split(blob2, lengths2) == strs


def test_fsst_unprofitable_random():
    rng = np.random.default_rng(11)
    blob = rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes()
    lengths = np.full(1000, 100, dtype=np.int64)
    # random bytes: either None (fallback) or a valid roundtrip
    res = fsst_compress_column(blob, lengths)
    if res is not None:
        tbl, data = res
        blob2, _ = fsst_decompress_column(tbl, data, lengths)
        assert blob2 == blob


def test_fsst_empty():
    table = fsst_train(b"")
    assert fsst_encode(b"", table) == b""
    assert fsst_decode(b"", table) == b""


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fsst_fuzz(seed):
    rng = np.random.default_rng(seed)
    alphabet = b"abcdefgh-0123456789\xff"
    n = int(rng.integers(1, 2000))
    raw = bytes(alphabet[i] for i in rng.integers(0, len(alphabet), n))
    table = fsst_train(raw)
    enc = fsst_encode(raw, table)
    assert fsst_decode(enc, table) == raw


def test_fsst_sampled_merge_selection_matches_and_is_cheaper(monkeypatch):
    """r3 verdict #5: merge-pair SELECTION runs over a bounded sample
    (16 windows, counts scaled) instead of the full element stream.
    Compression must stay within 1% of full-stream selection on the
    doc_id fixture, and the sampled selection must count at most
    ``sample_elems`` pairs per merge round where the full one counts
    the whole stream (element counts, not walls: deterministic)."""
    import numpy as np

    from datafusion_orc_spark.codecs import strings as S

    rng = np.random.default_rng(1)
    n = 200_000
    vals = [f"doc-{i:012d}".encode() for i in rng.integers(0, 10**9, n)]
    blob = b"".join(vals)
    lengths = np.array([len(v) for v in vals], dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    base = S.fsst_train(blob, max_symbols=128)
    _d, elem_id, src = S.fsst_encode(blob, base, boundaries=offsets[1:-1], return_elements=True)
    string_id = np.searchsorted(offsets[1:], src, side="right")
    assert len(elem_id) > (1 << 18)  # the sample path actually engages

    class _CountingNumpy:
        """``numpy`` as ``codecs.strings`` sees it, recording the length
        of every pair-count (``bincount``) input: one per merge round."""

        def __init__(self):
            self.counted = []

        def __getattr__(self, name):
            return getattr(np, name)

        def bincount(self, x, *args, **kwargs):
            self.counted.append(len(x))
            return np.bincount(x, *args, **kwargs)

    def run(sample):
        counting = _CountingNumpy()
        monkeypatch.setattr(S, "np", counting)
        ei, tbl = S._merge_rounds(elem_id, base, string_id, sample_elems=sample)
        assert counting.counted
        return counting.counted, (ei, tbl)

    counted_full, (ef, tf) = run(None)
    counted_samp, (es, ts) = run(1 << 18)
    size_full = len(S._emit_elements(ef)) + len(tf.serialize())
    size_samp = len(S._emit_elements(es)) + len(ts.serialize())
    assert size_samp <= size_full * 1.01, (size_samp, size_full)
    assert max(counted_samp) <= 1 << 18, counted_samp
    assert min(counted_full) > 1 << 18, counted_full
    # decode round-trips bit-identically through the sampled table
    assert S.fsst_decode(S._emit_elements(es), ts) == blob
