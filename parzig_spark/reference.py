"""Parquet-reference size oracle.

The north rule requires our per-column compressed bytes to come in at or
below "parzig's Parquet reference output". parzig is decode-only, so the
operative reference is a Parquet file written with the encodings its reader
exercises — dictionary+RLE with snappy pages (the `alltypes_plain.snappy` /
`rle-dict-snappy-checksum` fixture family,
/root/reference/src/parquet_testing.zig:56-77,834-856). pyarrow's writer
produces exactly those, so it plays the role here that Polars plays for the
reference's own fixtures (TESTING.md / SURVEY.md §5).
"""

from __future__ import annotations

import io
import json

import pyarrow as pa
import pyarrow.parquet as pq


def parquet_column_size(arr: pa.Array | pa.ChunkedArray, compression: str = "snappy") -> int:
    """Bytes pyarrow's Parquet writer spends storing this column as a
    self-describing single-column file — data+dict pages AND the footer
    metadata needed to decode them. Symmetric with :func:`our_column_size`,
    which likewise counts our blob plus its decode manifest entry."""
    table = pa.table({"c": arr})
    buf = io.BytesIO()
    pq.write_table(table, buf, compression=compression, use_dictionary=True)
    return buf.getbuffer().nbytes


def meta_size(meta: dict) -> int:
    return len(json.dumps(meta, separators=(",", ":")).encode())


def our_column_size(blob: bytes, meta: dict) -> int:
    """Fair total: payload plus the manifest metadata we need to decode."""
    return len(blob) + meta_size(meta)
