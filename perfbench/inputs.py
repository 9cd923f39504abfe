"""Seeded benchmark inputs.

Everything the benchmark reads is generated here from ``--seed``, inside
the benchmark's own work directory: the same seed gives the same bytes.

- the F1 token table (``doc_id``, ``tokens``, ``n_tok``, ``source``) follows
  the recipe of the engine's ``sources.tokens.synthetic_sequences``
  (FIXTURES.md F1) in numpy, written as one parquet file per core. The
  Spark generator's first job costs several seconds of cold JVM per run,
  which the run budget cannot spare;
- ``lineitem.parquet`` is a TPC-H-shaped lineitem table (int64, int32,
  double, string and timestamp columns) made with numpy. Rows are
  clustered by ``l_orderkey`` the way TPC-H lineitem is, so ORC stripe
  statistics can prune a key-range predicate; order keys are sparse (one
  in ``_KEY_STRIDE``), as TPC-H's are.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one order has 1..7 lines, as in TPC-H
_MAX_LINES = 7
_KEY_STRIDE = 4


@dataclass(frozen=True)
class Scale:
    """Input sizes of one run. ``DEFAULT`` is what the benchmark measures;
    the self-test uses ``TINY``."""

    token_rows: int  # blob: the token table
    query_lineitem_rows: int  # blob: the lineitem its query reads
    lineitem_rows: int  # orc: the lineitem it writes and scans
    stripe_rows: int
    # the reference job's sample, the first rows of the input: sized so
    # one job takes about as long as the shortest op
    ref_token_rows: int
    ref_lineitem_rows: int


# Sized so a write op takes about a second on a 4-vCPU VM: long enough
# that Spark's per-job cost is a small share of it, short enough that a
# run of a minute holds five samples of every op. The token table is
# about half, the orc lineitem about a quarter, of the sizes first asked
# for (40k token rows, 600k lineitem rows); a run at those sizes holds
# two samples per op.
DEFAULT = Scale(
    token_rows=16_000, query_lineitem_rows=40_000, lineitem_rows=160_000, stripe_rows=8192,
    ref_token_rows=1200, ref_lineitem_rows=40_000,
)
TINY = Scale(
    token_rows=2000, query_lineitem_rows=6000, lineitem_rows=6000, stripe_rows=1024,
    ref_token_rows=200, ref_lineitem_rows=2000,
)


def token_table(rows: int, seed: int) -> pa.Table:
    """F1 token rows: ``n_tok`` in 64..2048; every 13th doc one repeated
    token (short-repeat), every 7th sorted ascending (delta-friendly),
    otherwise every 97th token an outlier (patched-base); half the rows
    in ``src_0`` (skew)."""
    from datafusion_orc_spark.sources.tokens import VOCAB

    rng = np.random.default_rng(seed)
    n_tok = rng.integers(64, 2049, size=rows).astype(np.int32)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    toks = rng.integers(0, VOCAB, size=offsets[-1]).astype(np.int32)
    row = np.arange(rows)
    const = row % 13 == 0
    ascending = (row % 7 == 0) & ~const
    # row by row, on views of the flat token array
    for r in np.nonzero(~const & ~ascending)[0]:
        seg = toks[offsets[r] : offsets[r + 1]]
        seg[::97] = VOCAB + seg[::97] % 1000
    for r in np.nonzero(ascending)[0]:
        toks[offsets[r] : offsets[r + 1]].sort()
    for r in np.nonzero(const)[0]:
        toks[offsets[r] : offsets[r + 1]] = r % VOCAB
    rnd = rng.integers(0, 2**62, size=rows)
    src = np.where(rnd % 2 == 0, 0, rnd % 8)
    return pa.table(
        {
            "doc_id": [f"doc-{r:016x}-{i}" for i, r in enumerate(rnd.tolist())],
            "tokens": pa.ListArray.from_arrays(offsets, toks),
            "n_tok": n_tok,
            "source": [f"src_{s}" for s in src.tolist()],
        }
    )


def write_tokens(path: str, rows: int, seed: int, files: int) -> None:
    """Write the token table as ``files`` parquet files (one encode split
    per file)."""
    os.makedirs(path, exist_ok=True)
    table = token_table(rows, seed)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def lineitem_table(rows: int, seed: int) -> pa.Table:
    """TPC-H-shaped lineitem rows, clustered by ``l_orderkey``."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, _MAX_LINES + 1, size=rows // 2 + _MAX_LINES)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, rows)) + 1
    orderkey = np.repeat(
        np.arange(n_orders, dtype=np.int64) * _KEY_STRIDE, lines[:n_orders]
    )[:rows]
    linenumber = (
        np.arange(rows) - np.repeat(ends[:n_orders] - lines[:n_orders], lines[:n_orders])[:rows] + 1
    ).astype(np.int32)
    n_parts = max(200, rows // 30)
    partkey = rng.integers(0, n_parts, size=rows, dtype=np.int64)
    suppkey = rng.integers(0, max(10, rows // 600), size=rows, dtype=np.int64)
    quantity = rng.integers(1, 51, size=rows).astype(np.float64)
    retail = 900.0 + (partkey % 1000) / 10.0
    extended = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, size=rows) / 100.0
    tax = rng.integers(0, 9, size=rows) / 100.0
    returnflag = np.array(["A", "N", "R"])[rng.integers(0, 3, size=rows)]
    linestatus = np.array(["F", "O"])[rng.integers(0, 2, size=rows)]
    day0 = np.datetime64("1995-01-02", "us")
    shipdate = day0 + rng.integers(0, 2499, size=rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": suppkey,
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": extended,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": returnflag,
            "l_linestatus": linestatus,
            "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        }
    )


def write_lineitem(sf_dir: str, rows: int, seed: int) -> pa.Table:
    """Write ``sf_dir/lineitem.parquet`` (the layout ``plans.queries``
    reads) and return the table."""
    os.makedirs(sf_dir, exist_ok=True)
    table = lineitem_table(rows, seed)
    pq.write_table(table, os.path.join(sf_dir, "lineitem.parquet"))
    return table


def prune_bound(table: pa.Table, seed: int) -> int:
    """The pruned scan's ``l_orderkey < K``: K falls between 20% and 20.2%
    of the key range, chosen by the seed (a narrow band, so the work per
    op does not depend on the seed)."""
    top = int(table.column("l_orderkey")[-1].as_py()) + 1
    frac = 0.2 + 0.002 * np.random.default_rng(seed + 1).random()
    return max(1, int(top * frac))
