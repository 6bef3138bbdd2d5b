"""Seeded inputs and the reference answers they are checked against.

The seed is the only source of variation: it picks the corpus row-id
window, draws the lineitem table, and draws every query constant. The
engine only ever sees the generated tables (as parquet in the run's work
directory), so a seed never used while tuning gives a same-shaped load.
"""

from __future__ import annotations

import io

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus ids 0-4 are the generator's fixed edge rows (empty, 1 byte, 64 KiB,
# a multi-MB outlier, UTF-8/NUL/CRLF); a window holding the multi-MB row
# would be a different-shaped load from every other seed, so windows start
# past them.
_CORPUS_FIRST_ID = 5
_CORPUS_WINDOWS = 1 << 20


def corpus_table(seed: int, n_rows: int) -> pa.Table:
    """Rows ``[start, start + n_rows)`` of the deterministic source-code
    corpus (``parzig_spark.sources.source_code``): one mega-repo holds ~40%
    of the rows, so the encode salts it across partitions."""
    from parzig_spark.sources.source_code import _gen_batch

    start = _CORPUS_FIRST_ID + (seed % _CORPUS_WINDOWS) * n_rows
    ids = np.arange(start, start + n_rows, dtype=np.int64)
    return pa.Table.from_pandas(_gen_batch(ids, 0.4), preserve_index=False)


def lineitem_table(seed: int, n_rows: int) -> pa.Table:
    """The repository's TPC-H-ish lineitem test table (TESTDATA.md), drawn
    afresh from ``seed``. Its schema, and the distributions measured on the
    sf0.001 / sf0.01 / sf0.1 files: every column independent and uniform,
    keys scaled to the row count (n/4 order keys, n/30 part keys, n/600
    supplier keys), line numbers 1-7 (so (l_orderkey, l_linenumber) is not
    unique), l_extendedprice in [900, 105000) unrelated to the quantity,
    discount and tax rounded to cents, ship days 1995-01-02 + [0, 2499).
    ``compare_lineitem.py`` checks a generated table against such a file."""
    rng = np.random.default_rng(seed)
    n = n_rows
    days = rng.integers(0, 2499, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, max(1, n // 4), n),
        "l_partkey": rng.integers(0, max(1, n // 30), n),
        "l_suppkey": rng.integers(0, max(1, n // 600), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1995-01-02") + days).astype("datetime64[us]"),
    })


def parquet_reference_bytes(table: pa.Table) -> int:
    """Size of ``table`` written by pyarrow with default settings — the
    north-star reference the stored blob bytes are compared against."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


class Oracle:
    """Expected query answers, computed by DuckDB straight from the source
    Arrow table (never through the engine)."""

    def __init__(self, table: pa.Table):
        self.con = duckdb.connect()
        self.con.register("src", table)

    def one(self, sql: str) -> tuple:
        return tuple(self.con.execute(sql).fetchone())

    def close(self) -> None:
        self.con.close()
