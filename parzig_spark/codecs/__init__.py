"""Codec registry: encode/decode any supported Arrow array with any codec.

The registry layers two concerns the reference keeps in its page reader:

- **nulls** — the reference reconstructs nulls from definition levels
  (/root/reference/src/parquet/rowGroupReader.zig:292-328, def < max → null);
  we store a validity stream RLE/bit-packed (bit width 1 — the same hybrid
  the reference uses for def levels) and scatter on decode via an Arrow
  null-masked take.
- **outer block compression** — the reference stacks a block decompressor
  under every page (/root/reference/src/parquet/rowGroupReader.zig:330-370,
  snappy/gzip/zstd/lz4); we optionally wrap the encoded blob with a pyarrow
  block codec, kept only when it actually shrinks the blob.

Blob layout: [validity (if any)] [codec payload (possibly outer-compressed)].
All metadata needed for decode lives in the JSON-serializable ``meta`` dict —
the role of the reference's ColumnMetaData
(/root/reference/src/generated/parquet.zig:382-419).
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa

from . import (
    bitpack,
    byte_stream_split,
    delta_byte,
    delta_for,
    delta_length,
    dictionary,
    dtypes,
    fsst,
    plain,
    rle_bitpack,
)
from .rle_bitpack import decode_u64, encode_u64

CODEC_NAMES = (
    "plain", "rle", "bitpack", "dict", "delta", "for",
    "delta_length", "delta_byte", "fsst", "byte_stream_split",
)

_ENCODERS = {
    "plain": plain.encode,
    "rle": rle_bitpack.encode,
    "bitpack": bitpack.encode,
    "dict": dictionary.encode,
    "delta": functools.partial(delta_for.encode, mode="delta"),
    "for": functools.partial(delta_for.encode, mode="for"),
    "delta_length": delta_length.encode,
    "delta_byte": delta_byte.encode,
    "fsst": fsst.encode,
    "byte_stream_split": byte_stream_split.encode,
}

_DECODERS = {
    "plain": plain.decode,
    "rle": rle_bitpack.decode,
    "bitpack": bitpack.decode,
    "dict": dictionary.decode,
    "delta": delta_for.decode,
    "for": delta_for.decode,
    "delta_length": delta_length.decode,
    "delta_byte": delta_byte.decode,
    "fsst": fsst.decode,
    "byte_stream_split": byte_stream_split.decode,
}

OUTER_KEEP_RATIO = 0.95  # keep outer compression only if ≥5% savings
_OUTER_TRIAL_BYTES = 256 << 10  # auto zstd-vs-lz4 trial prefix
# pyarrow's pa.Codec("zstd") default is level 1; level 3 (the zstd CLI
# default) is 10-15% denser on natural text at a modest encode cost and
# identical decode speed — needed to stay under the reference gzip budget
# on its Q&A fixture. Decompression reads meta["outer"]["codec"] only, so
# stored blobs remain self-describing regardless of level.
_ZSTD_LEVEL = 3


def _combine(arr: pa.Array | pa.ChunkedArray) -> pa.Array:
    if isinstance(arr, pa.ChunkedArray):
        return arr.combine_chunks()
    return arr


def _default_child_codec(t: pa.DataType) -> str:
    if pa.types.is_floating(t):
        return "plain"
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
        return "dict"
    return "for"


def encode_column(
    arr: pa.Array | pa.ChunkedArray,
    codec: str,
    outer: str | None = "auto",
    page_values: int | None = None,
) -> tuple[bytes, dict]:
    """Encode one column chunk. Returns (blob, meta); meta is JSON-safe.

    List columns (codec="list") store FOR-coded element counts plus the
    recursively encoded flattened child — the same lengths+values shape the
    reference's Dremel list reassembly produces
    (/root/reference/src/parquet/nestedReader.zig:85-144).

    ``page_values`` switches scalar columns to the PAGED layout: the column
    splits at a fixed value stride into independently decodable sections,
    each carrying its own min/max in meta — the engine's ColumnIndex analog
    (the reference parses ColumnIndex/OffsetIndex but never skips with them,
    /root/reference/src/generated/parquet.zig:506-515). Decoders can then
    read and decode only the sections a predicate may touch
    (:func:`page_byte_ranges` + :func:`decode_column` on each section).
    """
    arr = _combine(arr)
    if (
        page_values
        and len(arr) > page_values
        and not (
            pa.types.is_map(arr.type)
            or pa.types.is_struct(arr.type)
            or pa.types.is_list(arr.type)
            or pa.types.is_large_list(arr.type)
        )
    ):
        return _encode_paged(arr, codec, outer, page_values)
    if pa.types.is_map(arr.type) or codec == "map":
        # MAP == list<struct<key,value>> zipped by shared offsets — the same
        # shape the reference's readMap reassembles
        # (/root/reference/src/parquet/nestedReader.zig:12-62).
        n = len(arr)
        meta = {"codec": "map", "n": n}
        validity_blob = b""
        if arr.null_count:
            valid = ~np.asarray(arr.is_null())
            validity_blob, _ = encode_u64(valid.astype(np.uint64), width=1)
            meta["null_count"] = arr.null_count
            meta["validity_len"] = len(validity_blob)
            arr = arr.drop_null()
        lengths = pa.array(
            np.diff(np.asarray(arr.offsets.to_numpy(zero_copy_only=False))).astype("int64")
        )
        lens_blob, lens_meta = delta_for.encode(lengths, mode="for")
        keys_blob, keys_meta = encode_column(arr.keys, _default_child_codec(arr.keys.type), outer=outer)
        items_blob, items_meta = encode_column(arr.items, _default_child_codec(arr.items.type), outer=outer)
        meta["lens_meta"] = lens_meta
        meta["keys_meta"] = keys_meta
        meta["items_meta"] = items_meta
        meta["sections"] = [len(lens_blob), len(keys_blob), len(items_blob)]
        return validity_blob + lens_blob + keys_blob + items_blob, meta
    if pa.types.is_struct(arr.type) or codec == "struct":
        # STRUCT == consecutive child columns, like the reference's
        # readStruct (/root/reference/src/parquet/nestedReader.zig:64-83).
        n = len(arr)
        meta = {"codec": "struct", "n": n}
        validity_blob = b""
        if arr.null_count:
            valid = ~np.asarray(arr.is_null())
            validity_blob, _ = encode_u64(valid.astype(np.uint64), width=1)
            meta["null_count"] = arr.null_count
            meta["validity_len"] = len(validity_blob)
            arr = arr.drop_null()
        fields, blobs, metas, sections = [], [], [], []
        for i in range(arr.type.num_fields):
            field = arr.type.field(i)
            child = arr.field(i)
            cb, cm = encode_column(child, _default_child_codec(child.type), outer=outer)
            fields.append(field.name)
            blobs.append(cb)
            metas.append(cm)
            sections.append(len(cb))
        meta["fields"] = fields
        meta["children"] = metas
        meta["sections"] = sections
        return validity_blob + b"".join(blobs), meta
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type) or codec == "list":
        n = len(arr)
        meta = {"codec": "list", "n": n, "large": pa.types.is_large_list(arr.type)}
        validity_blob = b""
        if arr.null_count:
            valid = ~np.asarray(arr.is_null())
            validity_blob, _ = encode_u64(valid.astype(np.uint64), width=1)
            meta["null_count"] = arr.null_count
            meta["validity_len"] = len(validity_blob)
            arr = arr.drop_null()
        lengths = pa.array(arr.value_lengths().to_numpy(zero_copy_only=False).astype("int64"))
        child = arr.flatten()
        lens_blob, lens_meta = delta_for.encode(lengths, mode="for")
        child_blob, child_meta = encode_column(child, _default_child_codec(child.type), outer=outer)
        meta["lens_meta"] = lens_meta
        meta["child_meta"] = child_meta
        meta["sections"] = [len(lens_blob), len(child_blob)]
        return validity_blob + lens_blob + child_blob, meta
    if pa.types.is_decimal128(arr.type) or codec == "decimal":
        # DECIMAL: two int64 lanes (lo carries magnitude bits, hi the sign
        # extension) each FOR-coded — the lossless analog of the reference's
        # INT32/INT64/FIXED decimal reinterpretation
        # (/root/reference/src/parquet/rowGroupReader.zig:36-66).
        n = len(arr)
        meta = {"codec": "decimal", "n": n, "dtype": dtypes.dtype_token(arr.type)}
        validity_blob = b""
        if arr.null_count:
            valid = ~np.asarray(arr.is_null())
            validity_blob, _ = encode_u64(valid.astype(np.uint64), width=1)
            meta["null_count"] = arr.null_count
            meta["validity_len"] = len(validity_blob)
            arr = arr.drop_null()
        lo, hi = dtypes.decimal_lanes(arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr)
        lo_blob, lo_meta = delta_for.encode(pa.array(lo), mode="for")
        hi_blob, hi_meta = delta_for.encode(pa.array(hi), mode="for")
        meta["lo_meta"] = lo_meta
        meta["hi_meta"] = hi_meta
        meta["sections"] = [len(lo_blob), len(hi_blob)]
        # the two FOR lanes (near-constant hi, block headers in lo) compress
        # well — same outer pass every scalar codec gets
        payload = _outer_compress(lo_blob + hi_blob, meta, outer)
        return validity_blob + payload, meta
    n = len(arr)
    meta = {"codec": codec, "n": n}
    validity_blob = b""
    if arr.null_count:
        valid = ~np.asarray(arr.is_null())
        validity_blob, _ = encode_u64(valid.astype(np.uint64), width=1)
        meta["null_count"] = arr.null_count
        meta["validity_len"] = len(validity_blob)
        arr = arr.drop_null()
    if pa.types.is_fixed_size_binary(arr.type):
        # FIXED_LEN_BYTE_ARRAY (widths the reference dispatches at
        # /root/reference/src/parquet/dynamic.zig:47-55): encode through the
        # variable-width binary codecs; the constant width lives in meta and
        # the decoder casts back. Compact first: pyarrow 16's FSB→binary
        # cast mishandles non-zero offsets (worker SIGSEGV on sliced input).
        meta["fixed"] = arr.type.byte_width
        if arr.offset:
            arr = pa.concat_arrays([arr])
        arr = arr.cast(pa.binary())
    if arr.type == pa.float16():
        # Arrow lacks dictionary/unique kernels for halffloat; all codecs
        # run on the bit-identical uint16 lane (the reference's FIXED[2]
        # reinterpretation, /root/reference/src/parquet/logical.zig:216-228).
        meta["halffloat"] = True
        arr = arr.view(pa.uint16())
    payload, cmeta = _ENCODERS[codec](arr)
    meta["codec_meta"] = cmeta
    payload = _outer_compress(payload, meta, outer)
    return validity_blob + payload, meta


def _encode_paged(
    arr: pa.Array, codec: str, outer, page_values: int
) -> tuple[bytes, dict]:
    """PAGED layout: fixed value-stride sections, each a self-contained
    encode_column blob (own validity, own outer compression) with canonical
    min/max stats — so any subset of sections decodes without touching the
    rest of the blob. Row alignment across columns falls out of the shared
    stride: page i of every column of a partition covers the same rows.

    Integer-lane and string pages additionally carry a 1 KiB equality
    bloom (stats.bloom_build) — the BloomFilterHeader analog: min/max
    cannot prune `==` predicates on columns uncorrelated with the sort
    order, a bloom can."""
    from .stats import BLOOM_MAX_AVG_LEN, bloom_build, bloom_domain, column_minmax

    n = len(arr)
    dom = bloom_domain(arr.type)
    if dom == "str":
        # long-string columns skip blooms (document bodies aren't equality
        # targets; the key pass is a full data pass) — stats.column_bloom's
        # partition-level rule, mirrored per page
        nn = n - arr.null_count
        if nn and arr.nbytes / nn > BLOOM_MAX_AVG_LEN:
            dom = None
    pages: list[dict] = []
    blobs: list[bytes] = []
    for start in range(0, n, page_values):
        page = arr.slice(start, page_values)
        blob, pmeta = encode_column(page, codec, outer=outer)
        smin, smax = column_minmax(page)
        entry = {"len": len(blob), "n": len(page), "min": smin, "max": smax, "meta": pmeta}
        if dom:
            bl = bloom_build(page, dom)
            if bl:
                entry["bloom"] = bl
        pages.append(entry)
        blobs.append(blob)
    meta = {"codec": "paged", "n": n, "page_values": page_values, "pages": pages}
    if dom:
        meta["bloom_domain"] = dom
    return b"".join(blobs), meta


def page_byte_ranges(meta: dict, page_indices) -> list[tuple[int, int]]:
    """(offset, length) of each selected page inside a paged blob — the
    OffsetIndex role: callers read only these ranges off storage."""
    starts = [0]
    for p in meta["pages"]:
        starts.append(starts[-1] + p["len"])
    return [(starts[i], meta["pages"][i]["len"]) for i in page_indices]


def page_row_ranges(meta: dict, page_indices) -> list[tuple[int, int]]:
    """(row_offset, n_rows) each selected page covers — identical for every
    column of a partition (shared stride), so unpaged columns can be sliced
    to stay row-aligned with page-skipped ones."""
    pv = meta["page_values"]
    return [(i * pv, meta["pages"][i]["n"]) for i in page_indices]


def _outer_compress(payload: bytes, meta: dict, outer) -> bytes:
    """Optionally wrap ``payload`` with a block codec, recording the choice
    in ``meta["outer"]`` (kept only when it shrinks)."""
    if outer == "auto" and len(payload) > 64:
        # Per-blob dispatch between zstd (denser) and lz4 (~5× faster), the
        # role of the reference's per-page codec switch
        # (/root/reference/src/parquet/rowGroupReader.zig:330-370): measure
        # both on a bounded prefix; lz4 wins unless zstd is ≥10% smaller.
        head = payload[: _OUTER_TRIAL_BYTES] if len(payload) > _OUTER_TRIAL_BYTES else payload
        z = len(pa.Codec("zstd", compression_level=_ZSTD_LEVEL).compress(head, asbytes=True))
        l4 = len(pa.Codec("lz4").compress(head, asbytes=True))
        outer = "zstd" if z < 0.9 * l4 else "lz4"
    elif outer == "auto":
        outer = "zstd"
    if outer and len(payload) > 64:
        codec_obj = (
            pa.Codec("zstd", compression_level=_ZSTD_LEVEL) if outer == "zstd" else pa.Codec(outer)
        )
        if outer == "gzip" and len(payload) > (512 << 10):
            # gzip runs ~30 MB/s on high-entropy payloads; a heuristic
            # trial on the first 64 KB skips the full pass when that head
            # alone fails the keep-ratio gate. The rest of the payload is
            # never looked at, so a compressible tail can lose its outer
            # wrapping (per-blob metadata: bytes on disk change, values
            # never do)
            head_c = codec_obj.compress(payload[: 64 << 10], asbytes=True)
            if len(head_c) >= OUTER_KEEP_RATIO * (64 << 10):
                return payload
        compressed = codec_obj.compress(payload, asbytes=True)
        if len(compressed) < OUTER_KEEP_RATIO * len(payload):
            meta["outer"] = {"codec": outer, "orig": len(payload)}
            payload = compressed
    return payload


def decode_column(blob, meta: dict) -> pa.Array:
    n = meta["n"]
    mv = memoryview(blob)
    if meta["codec"] == "paged":
        parts, pos = [], 0
        for p in meta["pages"]:
            parts.append(decode_column(mv[pos : pos + p["len"]], p["meta"]))
            pos += p["len"]
        return pa.chunked_array(parts).combine_chunks()
    n_valid = n
    valid = None
    if meta.get("null_count"):
        vlen = meta["validity_len"]
        valid = decode_u64(mv[:vlen], n, 1).astype(bool)
        mv = mv[vlen:]
        n_valid = int(valid.sum())
    if meta["codec"] == "map":
        s0, s1, _ = meta["sections"]
        lengths = delta_for.decode(mv[:s0], meta["lens_meta"], n_valid).to_numpy(zero_copy_only=False)
        keys = decode_column(mv[s0 : s0 + s1], meta["keys_meta"])
        items = decode_column(mv[s0 + s1 :], meta["items_meta"])
        offsets = np.zeros(n_valid + 1, dtype="<i4")
        np.cumsum(lengths, out=offsets[1:])
        values = pa.MapArray.from_arrays(pa.array(offsets), keys, items)
        if valid is None:
            return values
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(n_valid)
        return values.take(pa.array(idx, type=pa.int64(), mask=~valid))
    if meta["codec"] == "struct":
        children = []
        pos = 0
        for cm, ln in zip(meta["children"], meta["sections"]):
            children.append(decode_column(mv[pos : pos + ln], cm))
            pos += ln
        values = pa.StructArray.from_arrays(children, names=meta["fields"])
        if valid is None:
            return values
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(n_valid)
        return values.take(pa.array(idx, type=pa.int64(), mask=~valid))
    if meta["codec"] == "list":
        s0, _ = meta["sections"]
        lengths = delta_for.decode(mv[:s0], meta["lens_meta"], n_valid).to_numpy(zero_copy_only=False)
        child = decode_column(mv[s0:], meta["child_meta"])
        offsets = np.zeros(n_valid + 1, dtype="<i8" if meta.get("large") else "<i4")
        np.cumsum(lengths, out=offsets[1:])
        cls = pa.LargeListArray if meta.get("large") else pa.ListArray
        values = cls.from_arrays(pa.array(offsets), child)
        if valid is None:
            return values
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(n_valid)
        return values.take(pa.array(idx, type=pa.int64(), mask=~valid))
    if meta["codec"] == "decimal":
        if "outer" in meta:
            mv = memoryview(
                pa.Codec(meta["outer"]["codec"]).decompress(
                    mv, decompressed_size=meta["outer"]["orig"], asbytes=True
                )
            )
        s0, _ = meta["sections"]
        lo = delta_for.decode(mv[:s0], meta["lo_meta"], n_valid).to_numpy(zero_copy_only=False)
        hi = delta_for.decode(mv[s0:], meta["hi_meta"], n_valid).to_numpy(zero_copy_only=False)
        values = dtypes.decimal_from_lanes(lo, hi, meta["dtype"])
        if valid is None:
            return values
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(n_valid)
        return values.take(pa.array(idx, type=pa.int64(), mask=~valid))
    payload = mv
    if "outer" in meta:
        codec_obj = pa.Codec(meta["outer"]["codec"])
        payload = memoryview(
            codec_obj.decompress(payload, decompressed_size=meta["outer"]["orig"], asbytes=True)
        )
    values = _DECODERS[meta["codec"]](payload, meta["codec_meta"], n_valid)
    if meta.get("fixed"):
        values = values.cast(pa.binary(meta["fixed"]))
    if meta.get("halffloat"):
        values = values.view(pa.float16())
    if valid is None:
        return values
    # Scatter non-null values back: null-masked take (Arrow-native, no loop),
    # the vectorized analog of the reference's decodeValues null scatter.
    idx = np.zeros(n, dtype=np.int64)
    idx[valid] = np.arange(n_valid)
    indices = pa.array(idx, type=pa.int64(), mask=~valid)
    return values.take(indices)
