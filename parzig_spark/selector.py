"""Per-column codec auto-selector from sampled statistics + trial encodes.

The reference has no encoder, hence no selector — this implements the north
star's requirement: "a per-column codec auto-selector (sampled
cardinality/run-length/entropy stats) choosing among dict, RLE, FSST,
bit-pack, and FOR".

Strategy: compute cheap vectorized stats on a bounded sample, shortlist 2–3
candidate codecs from the stats, then *trial-encode the sample* with each
candidate and pick the smallest (ties break toward the faster codec). Trial
encoding makes the choice measurable rather than heuristic — the stats only
bound how many trials we pay for. Stats and trial sizes are returned so the
encode manifest can record full lineage per partition-column.

Trial order: the fast codecs first, then the slow ones of
``SLOW_CODEC_FACTOR`` (FSST). A slow codec must come in under ``factor ×``
the best fast trial, and FSST has a size floor known without encoding:
every token emits one code byte and covers at most ``MAX_SYMBOL_LEN`` = 8
input bytes, so no FSST blob of ``payload_bytes`` string bytes is smaller
than ``payload_bytes // 8``. When that floor already exceeds the bar, the
FSST trial (a training and one or two encodes) is skipped. On a column
trialled whole the skip cannot change a choice; on a larger column the
floor bounds the column's true FSST size, so it changes one only where the
extrapolated estimate had fallen below that floor.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from .codecs import dtypes, encode_column
from .codecs.fsst import MAX_SYMBOL_LEN

SAMPLE_VALUES = 4096
SAMPLE_BYTES = 1 << 18  # cap string sample payload at 256 KiB

# Tie-break preference: earlier = faster/simpler, wins within TIE_TOLERANCE.
SPEED_ORDER = (
    "plain", "byte_stream_split", "bitpack", "for", "rle", "delta",
    "dict", "delta_length", "fsst",
)
TIE_TOLERANCE = 1.02
# Codecs that trade encode throughput for size must EARN it: selected only
# when their (extrapolated) size is below this fraction of the best fast
# codec. FSST encodes ~2-5 MB/s/core vs ~500 MB/s for delta_length+zstd —
# a few percent of extra compression never pays for 100× the CPU at 100 TB.
SLOW_CODEC_FACTOR = {"fsst": 0.80}


def _sample(arr: pa.Array, k: int = SAMPLE_VALUES) -> pa.Array:
    n = len(arr)
    if n <= k:
        return arr
    # Deterministic stride sample (no RNG: stable across retries, per
    # SURVEY.md §7 hard-part (d) — idempotent manifests).
    idx = np.linspace(0, n - 1, k).astype(np.int64)
    return arr.take(pa.array(idx))


def column_stats(arr: pa.Array | pa.ChunkedArray) -> dict:
    """Sampled stats: cardinality, run length, sortedness, entropy, sizes."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    stats: dict = {"n": n, "null_frac": (arr.null_count / n) if n else 0.0}
    if n == 0:
        return stats
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        token = "list"
    elif pa.types.is_map(arr.type):
        token = "map"
    elif pa.types.is_struct(arr.type):
        token = "struct"
    else:
        token = dtypes.dtype_token(arr.type)
    stats["dtype"] = token
    if token in ("list", "map", "struct") or token.startswith("decimal128("):
        return stats
    sample = _sample(arr.drop_null() if arr.null_count else arr)
    if token == "halffloat":
        # Arrow has no unique/compare kernels for halffloat; stats run on
        # the bit-identical uint16 lane (the codec does the same).
        sample = sample.view(pa.uint16())
    m = len(sample)
    if m == 0:
        return stats
    distinct = len(sample.unique())
    stats["distinct_ratio"] = distinct / m
    stats["sample_card"] = distinct
    if token.startswith("fixed["):
        stats["avg_len"] = float(int(token[len("fixed[") : -1]))
        return stats
    if dtypes.is_string_like(token):
        lengths, data = dtypes.string_buffers(sample)
        stats["avg_len"] = float(lengths.mean()) if m else 0.0
        ent_data = data[:SAMPLE_BYTES]
        if len(ent_data):
            counts = np.bincount(ent_data, minlength=256)
            p = counts[counts > 0] / len(ent_data)
            stats["byte_entropy"] = float(-(p * np.log2(p)).sum())
        else:
            stats["byte_entropy"] = 0.0
        same = np.asarray(pa.compute.equal(sample[1:], sample[:-1]), dtype=bool) if m > 1 else np.zeros(0, bool)
        stats["mean_run_len"] = m / max(1, m - int(same.sum())) if m else 1.0
        if m > 1 and stats["avg_len"] > 0:
            from .codecs.delta_byte import PREFIX_CAP, _first_bytes_matrix

            fb = _first_bytes_matrix(lengths, data)
            eq = fb[1:] == fb[:-1]
            run = np.cumprod(eq, axis=1, dtype=np.int64).sum(axis=1)
            cap = np.minimum(lengths[1:], lengths[:-1])
            stats["prefix_ratio"] = float(
                np.minimum(run, np.minimum(cap, PREFIX_CAP)).mean() / max(stats["avg_len"], 1.0)
            )
    elif token in ("float32", "float64"):
        pass
    else:
        lane = dtypes.to_int64_lane(sample)
        if m > 1:
            deltas = lane[1:].astype(np.float64) - lane[:-1].astype(np.float64)
            stats["sortedness"] = float((deltas >= 0).mean())
            stats["mean_run_len"] = m / max(1, int((deltas != 0).sum()) + 1)
        else:
            stats["sortedness"] = 1.0
            stats["mean_run_len"] = 1.0
        span = int(lane.max()) - int(lane.min())
        stats["range_bits"] = max(1, span).bit_length() if span > 0 else 0
    return stats


def candidate_codecs(stats: dict) -> list[str]:
    token = stats.get("dtype")
    if token is None or stats["n"] == 0:
        return ["plain"]
    if token in ("list", "map", "struct"):
        return [token]
    if token.startswith("decimal128("):
        return ["decimal"]
    if token.startswith("fixed["):
        # fixed-width binary encodes through the variable-width binary
        # codecs (cast inside encode_column); dict wins on low cardinality.
        if stats.get("distinct_ratio", 1.0) <= 0.5:
            return ["dict", "delta_length"]
        return ["delta_length", "dict"]
    if dtypes.is_string_like(token):
        cands = []
        if stats.get("distinct_ratio", 1.0) <= 0.5:
            cands.append("dict")
        if stats.get("byte_entropy", 8.0) < 6.5 and stats.get("avg_len", 0) >= 4:
            cands.append("fsst")
        if stats.get("prefix_ratio", 0.0) >= 0.25:
            cands.append("delta_byte")
        cands.append("delta_length")
        return cands
    if token in ("float32", "float64"):
        # byte-plane split groups exponent bytes → outer codec bites harder
        cands = ["byte_stream_split", "plain"]
        if stats.get("distinct_ratio", 1.0) <= 0.2:
            cands.insert(0, "dict")
        return cands
    # integer lane
    cands = []
    if stats.get("mean_run_len", 1.0) >= 2.0:
        cands.append("rle")
    if stats.get("distinct_ratio", 1.0) <= 0.05:
        cands.append("dict")
    if stats.get("sortedness", 0.0) >= 0.85:
        cands.append("delta")
    if stats.get("range_bits", 64) <= 48:
        cands.append("for")
    if stats.get("range_bits", 64) <= 16:
        # narrow lanes (bools, enums, small deltas): a single frameless
        # bit-packed span beats FOR's per-block headers
        cands.append("bitpack")
    if not cands:
        cands.append("plain")
    return cands


def choose_codec(
    arr: pa.Array | pa.ChunkedArray, outer: str | None = "auto"
) -> tuple[str, dict]:
    """Pick the codec by trial-encoding a sample. Returns (codec, lineage)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    stats = column_stats(arr)
    cands = candidate_codecs(stats)
    if len(cands) == 1:
        return cands[0], {"stats": stats, "trials": {}}
    nn = len(arr)
    values = arr.drop_null() if arr.null_count else arr
    avg_len = max(stats.get("avg_len", 8.0), 1.0)
    total_bytes = nn * avg_len if dtypes.is_string_like(stats.get("dtype", "")) else nn * 8

    def trial_encode(sample: pa.Array, codec: str) -> int:
        # Count the serialized meta too — FSST symbol tables and dict
        # values live there; comparing blobs alone would be unfair.
        if codec == "fsst":
            # Cheap trial training — full training happens once, on the
            # winner, at encode time.
            from .codecs import fsst as fsst_mod

            _, data = dtypes.string_buffers(sample)
            symbols = fsst_mod.train(data.tobytes(), sample_bytes=8192, iterations=2)
            blob, meta = fsst_mod.encode(sample, symbols=symbols)
            meta = {"codec": codec, "n": len(sample), "codec_meta": meta}
        else:
            blob, meta = encode_column(sample, codec, outer=outer)
        return len(blob) + len(json.dumps(meta).encode())

    if total_bytes <= 512 << 10:
        # Small column: trial-encode the whole thing — exact sizes, no
        # sampling machinery (the real encode of the winner costs the same
        # again, which is negligible at this size).
        def trial_size(codec: str) -> int:
            return trial_encode(values, codec)
    else:
        # Two-point trials: encode a small and a larger sample, extrapolate
        # linearly to the full column so flat-cost codecs (RLE on long runs)
        # are not mistaken for per-value-cost ones (bit-pack/FOR) at sample
        # size. Trial payload bounded so wide string columns don't push MBs
        # through every candidate just to pick one.
        budget_vals = max(64, int((256 << 10) / avg_len))
        m1, m2 = min(512, nn, max(64, budget_vals // 4)), min(2048, nn, budget_vals)
        s_small = _sample(values, m1)
        s_big = _sample(values, m2)

        def trial_size(codec: str) -> int:
            size2 = trial_encode(s_big, codec)
            if m2 > m1 and nn > m2:
                size1 = trial_encode(s_small, codec)
                per_value = max(0.0, (size2 - size1) / (m2 - m1))
                return int(size1 + per_value * (nn - m1))
            return size2

    trials: dict[str, int] = {}
    # fast codecs first: a slow codec's bar is set by the best of them
    for codec in sorted(cands, key=lambda c: c in SLOW_CODEC_FACTOR):
        if codec == "fsst":
            # no FSST blob is smaller than one code byte per token of at
            # most MAX_SYMBOL_LEN input bytes
            floor = len(dtypes.string_buffers(values)[1]) // MAX_SYMBOL_LEN
            fast = [s for c, s in trials.items() if c not in SLOW_CODEC_FACTOR]
            if fast and floor > SLOW_CODEC_FACTOR[codec] * min(fast):
                continue  # FSST cannot earn its CPU here
        try:
            trials[codec] = trial_size(codec)
        except (TypeError, ValueError):
            continue
    if not trials:
        return "plain", {"stats": stats, "trials": {}}
    fast_sizes = {c: s for c, s in trials.items() if c not in SLOW_CODEC_FACTOR}
    best_fast = min(fast_sizes.values()) if fast_sizes else None
    eligible = {}
    for c, s in trials.items():
        factor = SLOW_CODEC_FACTOR.get(c)
        if factor is not None and best_fast is not None and s > best_fast * factor:
            continue  # slow codec didn't earn its CPU
        eligible[c] = s
    best_size = min(eligible.values())
    # Among near-ties, prefer the faster codec.
    ok = [c for c, s in eligible.items() if s <= best_size * TIE_TOLERANCE]
    ok.sort(key=lambda c: SPEED_ORDER.index(c) if c in SPEED_ORDER else 99)
    return ok[0], {"stats": stats, "trials": trials}
