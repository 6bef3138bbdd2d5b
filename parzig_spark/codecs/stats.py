"""Column min/max statistics in a canonical string domain.

Shared by the partition-level manifest stats (operators/encode.py) and the
sub-partition page stats (the ``paged`` layout in codecs/__init__.py) — the
engine's analog of the Parquet ``Statistics`` / ``ColumnIndex`` structures
the reference parses but never consults
(/root/reference/src/generated/parquet.zig:55-76,506-515).
"""

from __future__ import annotations

import base64

import numpy as np
import pyarrow as pa

from . import dtypes

STR_STAT_CHARS = 16

# --- per-page bloom filters (equality skipping) ----------------------------
# The BloomFilterHeader analog (/root/reference/src/generated/parquet.zig:
# 312-325 — parsed by the reference, never consulted): min/max cannot prune
# equality predicates on columns uncorrelated with the sort order (every
# page's range spans the domain); a bloom can. Sized at ~8 bits/value
# (power-of-2, 2 Kbit..128 Kbit) with k=4 double-hashed probes — ~2-3%
# false positives at full load; m rides implicitly in the bitmap length.
_BLOOM_K = 4
# strings longer than this on average skip the partition/page blooms —
# equality probes target identifiers, not document bodies
BLOOM_MAX_AVG_LEN = 256
_BLOOM_C1 = np.uint64(0x9E3779B97F4A7C15)
_BLOOM_C2 = np.uint64(0xC2B2AE3D27D4EB4F)


def _bloom_m_for(n: int) -> int:
    import math

    return 1 << max(11, min(17, math.ceil(math.log2(max(8 * n, 2048)))))


def bloom_domain(t: pa.DataType) -> str | None:
    """Key domain for equality blooms: "i64" for integer-lane scalars,
    "str" for strings. None (no bloom) for types where equality predicates
    are rare or the key derivation would be lossy (floats, bool, decimal,
    fixed, half) — min/max still applies there."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t) or pa.types.is_floating(t):
        return None
    try:
        token = dtypes.dtype_token(t)
    except TypeError:
        return None
    if token.startswith(("decimal", "fixed")) or token in ("halffloat", "bool"):
        return None
    if token in ("binary", "large_binary"):
        return None
    if dtypes.is_int_like(token):
        return "i64"
    return None


def _bloom_probes(keys: np.ndarray, m: int):
    """k=4 positions per key via Kirsch-Mitzenmacher double hashing: two
    multiplicative mixes supply (a, b); probe i = (a + i*b) mod m."""
    k = keys.astype(np.uint64, copy=False)
    s = np.uint64(64 - 17)
    a = (k * _BLOOM_C1) >> s
    b = ((k * _BLOOM_C2) >> s) | np.uint64(1)
    mask = np.uint64(m - 1)
    return [(a + np.uint64(i) * b) & mask for i in range(_BLOOM_K)]


def string_bloom_key(b: bytes) -> int:
    """PREFIX key: big-endian first-8 bytes XOR byte length. Sound for
    equality blooms — distinct strings may share a key (false positives
    only), but equal strings always produce the same key."""
    return int.from_bytes(b[:8].ljust(8, b"\0"), "big") ^ len(b)


def bloom_build(arr: pa.Array, domain: str) -> str | None:
    """base64 bloom of one page's non-null values (k=4 double-hashed probes
    into a ~8-bits/value power-of-2 bitmap); None for empty/all-null
    pages."""
    a = arr.drop_null() if arr.null_count else arr
    if len(a) == 0:
        return None
    if domain == "i64":
        keys = dtypes.to_int64_lane(a).view(np.uint64)
    else:
        lengths, data = dtypes.string_buffers(a)
        starts = np.zeros(len(lengths), np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        padded = np.zeros(len(data) + 8, np.uint8)
        padded[: len(data)] = data
        win = np.lib.stride_tricks.sliding_window_view(padded, 8)
        keys = win[starts].view("<u8").reshape(-1).byteswap()
        # zero the tail bytes of strings shorter than 8 — the window reads
        # into the NEXT string's bytes, but the probe key zero-pads
        # (string_bloom_key); without the mask, build and probe keys
        # disagree and the bloom produces FALSE NEGATIVES (silent row loss)
        shift = ((8 - np.minimum(lengths, 8)) * 8).astype(np.uint64)
        full = shift >= 64  # empty string: whole key masks to 0
        shift = np.where(full, 0, shift).astype(np.uint64)
        keys = (keys >> shift) << shift
        keys[full] = 0
        keys = keys ^ lengths.astype(np.uint64)
    m = _bloom_m_for(len(keys))
    bits = np.zeros(m, bool)
    for pos in _bloom_probes(keys, m):
        bits[pos] = True
    return base64.b64encode(np.packbits(bits).tobytes()).decode()


def column_bloom(arr: pa.Array) -> tuple[str | None, str | None]:
    """(base64 bloom, domain) over ALL non-null values of a column — the
    PARTITION-level equality filter stored in the manifest's
    ``stat_bloom``/``stat_bloom_dom`` columns (the page entries carry their
    own). Min/max cannot prune an equality predicate on a column
    uncorrelated with the sort order (e.g. a point lookup on a random-hex
    ``commit`` — every partition's envelope spans the domain); this bloom
    lets the pruning evaluator (plans/prune.py) drop whole partitions
    before any task is scheduled. (None, None) for unbloomable types or
    empty/all-null columns. Capacity caps at 128 Kbit (16 KiB bitmap): partitions holding
    more than ~16 k distinct values overload toward higher false-positive
    rates — over-reading only, never row loss.

    LONG-string columns (mean non-null length > ``BLOOM_MAX_AVG_LEN``
    bytes) skip the bloom: a point-equality probe on a multi-KB document
    body is not a real query shape, and the key derivation is a full pass
    over the dominant column of a text corpus (~20% of the per-partition
    stat budget measured at 70 MB). Short identifier-like strings
    (commits, paths, languages) keep theirs — those are what equality
    pruning actually serves. Missing bloom = conservative keep, never
    row loss."""
    dom = bloom_domain(arr.type)
    if dom is None:
        return None, None
    if dom == "str":
        nn = len(arr) - arr.null_count
        if nn and arr.nbytes / nn > BLOOM_MAX_AVG_LEN:
            return None, None
    bl = bloom_build(arr, dom)
    return (bl, dom) if bl is not None else (None, None)


def bloom_key(domain: str, val) -> "np.uint64 | None":
    """Probe key of ``val`` in a ``domain`` bloom, or None when the pairing
    cannot be probed soundly (type/domain mismatch, fractional float,
    integer outside int64) — callers then keep the page/partition."""
    if domain == "i64":
        if isinstance(val, bool) or not isinstance(val, (int, float)):
            return None
        if isinstance(val, float):
            if not val.is_integer():
                return None  # fractional/NaN/inf: min/max handles it
            val = int(val)
        if not -(2**63) <= val < 2**63:
            return None
        return np.uint64(np.int64(val))
    if domain == "str" and isinstance(val, str):
        return np.uint64(string_bloom_key(val.encode()))
    return None


def bloom_may_contain(bloom_b64: str, domain: str, val) -> bool:
    """False only when the bloom PROVES `val` absent from the page; any
    type/domain mismatch conservatively returns True (never unsound)."""
    key = bloom_key(domain, val)
    if key is None:
        return True
    buf = np.frombuffer(base64.b64decode(bloom_b64), np.uint8)
    m = len(buf) * 8  # power of 2 by construction
    # index the packed bytes directly (packbits is MSB-first) — probing a
    # page must not unpack the whole bitmap per call
    return all(
        (int(buf[int(pos[0]) >> 3]) >> (7 - (int(pos[0]) & 7))) & 1
        for pos in _bloom_probes(np.array([key], np.uint64), m)
    )


def increment_string(s: str) -> str | None:
    """Smallest string strictly greater than EVERY string prefixed by ``s``:
    increment the last incrementable code point (skipping the unencodable
    surrogate gap). None when no such bound exists (all-U+10FFFF).
    Comparison domain is code points — identical to UTF-8 byte order, which
    both Spark's UTF8String and Python use. Shared by the truncated stat
    upper bound here and the decode-side LIKE-prefix interval — one
    arithmetic, so the two can never diverge."""
    for i in range(len(s) - 1, -1, -1):
        cp = ord(s[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:  # skip the unencodable surrogate gap
                nxt = 0xE000
            return s[:i] + chr(nxt)
    return None


def string_upper_bound(s: str, limit: int = STR_STAT_CHARS) -> str | None:
    """Truncated-but-SOUND upper bound for a string max — the Parquet
    Statistics trick (the reference parses exactly these Statistics,
    /root/reference/src/generated/parquet.zig:55-76): truncate to ``limit``
    code points, then :func:`increment_string` so the result is strictly
    greater than every string sharing the truncated prefix. Returns ``s``
    itself when it already fits; None when no bound exists."""
    if len(s) <= limit:
        return s
    return increment_string(s[:limit])


DISTINCT_CAP = 64
DISTINCT_MAX_CHARS = 64
DISTINCT_MAX_JSON = 4096


def column_distinct(arr: pa.Array) -> str | None:
    """Capped EXACT distinct-value set for one partition's column — JSON
    ``{"d": "i64"|"str", "v": [canonical strings, sorted]}`` (the Iceberg
    partition-stats / NDV-sketch analog, but exact rather than
    approximate).

    Recorded only when the column is integer-typed or string-typed AND the
    partition holds at most ``DISTINCT_CAP`` distinct non-null values, each
    ≤ ``DISTINCT_MAX_CHARS`` chars, total JSON ≤ ``DISTINCT_MAX_JSON`` —
    low-cardinality columns (enums, categories, language tags, status
    codes) where the set is tiny and worth its manifest bytes. Integers
    canonicalize as decimal strings (exact for every integer lane incl.
    uint64); strings are stored verbatim. An all-null or empty partition
    records an empty ``v`` — itself an exact (empty) set, which lets
    equality predicates prune partitions min/max stats cannot (their
    bounds are null there). The ``d`` domain tag lets readers refuse a
    cross-type comparison instead of trusting a lossy coercion.

    Unlike the bloom (false positives) and the truncated string bounds
    (sound but inexact), this set is EXACT, so it supports membership
    proofs in BOTH directions: exclusion (value not in set → prune,
    plans/prune.py) and inclusion (every set value satisfies the
    predicate → partition fully covered), plus exact COUNT(DISTINCT) by
    unioning sets across partitions (operators/aggregate.py). None =
    unknown (high cardinality or ineligible type); readers must stay
    conservative."""
    import json

    t = arr.type
    is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
    if not (is_str or pa.types.is_integer(t)):
        return None
    dom = "str" if is_str else "i64"
    a = arr.drop_null() if arr.null_count else arr
    if len(a) == 0:
        return json.dumps({"d": dom, "v": []}, separators=(",", ":"))
    # Chunked early-bail: almost every high-cardinality column reveals
    # itself in the first few thousand values — never pay a full-column
    # hash pass (it showed up as a multi-second encode regression on the
    # document text column) just to learn the set is over cap. Low-
    # cardinality columns still take one full pass (the set must be exact
    # over every value), which is the same order of work their dict
    # encoding already does.
    if is_str:
        # Instant bail for long-text columns: a value over 4×MAX_CHARS
        # BYTES is over MAX_CHARS characters for certain (UTF-8 ≤ 4
        # bytes/char), so the per-value loop below would return None on
        # reaching it anyway — but only after pa.compute.unique had
        # hashed megabytes of text and to_pylist had materialized it
        # (measured ~1 ms/MB of the encode task on the corpus content
        # column). One vectorized length scan decides it up front; the
        # recorded stat is unchanged for every eligible column.
        max_bytes = pa.compute.max(pa.compute.binary_length(a)).as_py()
        if max_bytes is not None and max_bytes > 4 * DISTINCT_MAX_CHARS:
            return None
    seen: set = set()
    pos, chunk = 0, 4096
    while pos < len(a):
        sl = a.slice(pos, chunk)
        for v in pa.compute.unique(sl).to_pylist():
            s = str(v)
            if is_str and len(s) > DISTINCT_MAX_CHARS:
                return None
            seen.add(s)
            if len(seen) > DISTINCT_CAP:
                return None
        pos += chunk
        chunk = 65536
    vals = sorted(seen)
    out = json.dumps({"d": dom, "v": vals}, ensure_ascii=False, separators=(",", ":"))
    return out if len(out) <= DISTINCT_MAX_JSON else None


def column_agg_stats(arr: pa.Array) -> tuple[str | None, int]:
    """Exact per-partition aggregate stats for metadata-only queries
    (the Parquet footer / Iceberg partition-stats aggregate-pushdown
    analog): ``(sum as a decimal string for integer-lane columns, null
    count)``.

    The sum accumulates in decimal128(38, 0) — exact far beyond int64
    (2^40 int64 values sum to < 1e31, well inside 38 digits) and
    independent of partition iteration order, so it is bit-reproducible
    across task counts. Non-integer types record no sum (float sums are
    order-dependent; string/temporal sums are meaningless); the null
    count is recorded for every type."""
    nulls = int(arr.null_count)
    if pa.types.is_integer(arr.type) and len(arr) != nulls:
        s = pa.compute.sum(arr.cast(pa.decimal128(38, 0))).as_py()
        return str(int(s)), nulls
    return None, nulls


def column_minmax(arr: pa.Array) -> tuple[str | None, str | None]:
    """Canonical-string min/max for orderable scalar types (pruning stats).

    Numerics parse back as double; date/timestamp ISO strings order
    lexicographically. Strings record a truncated 16-code-point lower bound
    (a prefix is ≤ the full value) and a truncated-then-incremented upper
    bound (:func:`string_upper_bound`) — both sound, never exact beyond 16
    chars, so manifests stay small while equality/range predicates on e.g.
    ``lang`` or ``repo`` prune partitions. Binary/nested are skipped."""
    t = arr.type
    if (pa.types.is_string(t) or pa.types.is_large_string(t)) and len(arr) != arr.null_count:
        mm = pa.compute.min_max(arr)
        smin, smax = mm["min"].as_py(), mm["max"].as_py()
        return smin[:STR_STAT_CHARS], string_upper_bound(smax)
    orderable = (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_date(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_time(t)
        or pa.types.is_decimal(t)
    )
    if not orderable or len(arr) == arr.null_count:
        return None, None
    if t == pa.float16():  # no Arrow min_max kernel for halffloat
        vals = arr.drop_null().to_numpy(zero_copy_only=False)
        return str(float(vals.min())), str(float(vals.max()))
    mm = pa.compute.min_max(arr)
    return str(mm["min"].as_py()), str(mm["max"].as_py())
