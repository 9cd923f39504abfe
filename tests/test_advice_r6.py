"""Round-6 advice fixes: INT64_MIN-safe decimal vectorization guard."""

import numpy as np
import pyarrow as pa

from datafusion_orc_spark.format import orc_reader as R


def _decimal(mantissa, scales, precision=18, scale=2):
    t = pa.decimal128(precision, scale)
    m = np.asarray(mantissa, dtype=np.int64)
    s = np.asarray(scales, dtype=np.int64)
    valid = np.ones(len(m), dtype=bool)
    return R._decimal_array(t, m, s, valid, len(m))


def test_decimal_int64_min_mantissa_falls_back_loud():
    """np.abs(INT64_MIN) == INT64_MIN (negative), so an abs-based guard
    would admit it to the vectorized path and the 10**adj multiply would
    wrap to a silently wrong decimal. The both-signs guard must route it
    to the exact path, where the 19-digit value is rejected loudly (it
    cannot fit the file's declared precision-18 type — corrupt file)."""
    import pytest

    lo = -(1 << 63)
    with pytest.raises(pa.ArrowInvalid):
        _decimal([lo, 100], [2, 1])


def test_decimal_wellformed_still_vectorized():
    """Well-formed mantissas (|m| within 18 digits after scaling) keep
    the fast path: output identical to the exact loop."""
    m = np.array([10**18 - 1, -(10**18 - 1), 0, 12345], dtype=np.int64)
    s = np.array([2, 2, 2, 2], dtype=np.int64)
    arr = _decimal(m, s)
    import decimal as D
    for got, mi in zip(arr, m):
        assert got.as_py() == D.Decimal(int(mi)).scaleb(-2)

