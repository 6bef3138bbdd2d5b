"""In-memory span recorder and the patches that time calls into the
engine's public functions from outside the engine.

A span is (id, name, start, end, parent, run id); spans stay in memory and
are written once when the run ends. A span's self time is its duration
minus the union of its children's intervals. Counters sit beside the spans
so ratios are taken where the work happens.

Two patch sets, both restored on exit:

- ``driver_patches``: calls the driver makes inside ``decode_table`` /
  ``aggregate_store`` (snapshot compaction, manifest pruning). Only
  driver-side names are patched, so no wrapper is ever pickled into a
  Spark task.
- ``kernel_patches``: the functions ``encode_partition_arrays`` and
  ``decode_pid_rows`` call per (partition, column). Active only while the
  benchmark replays partitions in its own process, never while Spark
  jobs are being planned.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid
from collections import defaultdict


class Recorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "run": self.run_id, "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[name] += value

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], ())):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        """Wall seconds summed over every span called ``name``."""
        return sum(self.durations(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": self.spans,
                 "self_s": self.self_times(), "counters": dict(self.counters)},
                f,
            )


@contextlib.contextmanager
def _patched(patches: list[tuple[object, str, object]]):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    try:
        for obj, name, new in patches:
            setattr(obj, name, new)
        yield
    finally:
        for obj, name, old in saved:
            setattr(obj, name, old)


def _timed(rec: Recorder, name: str, fn):
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


def driver_patches(rec: Recorder):
    from parzig_spark.operators import aggregate, decode
    from parzig_spark.plans.manifest import ManifestStore

    return _patched([
        (ManifestStore, "fresh_snapshot",
         _timed(rec, "manifest.fresh_snapshot", ManifestStore.fresh_snapshot)),
        (decode, "prune_manifests", _timed(rec, "decode.prune_manifests", decode.prune_manifests)),
        (aggregate, "prune_manifests",
         _timed(rec, "decode.prune_manifests", aggregate.prune_manifests)),
    ])


def kernel_patches(rec: Recorder):
    from parzig_spark import selector
    from parzig_spark.operators import decode, encode
    from parzig_spark.plans.manifest import ManifestStore

    enc_col, dec_col, trial_col = encode.encode_column, decode.decode_column, selector.encode_column

    def encode_column(arr, codec, *args, **kwargs):
        with rec.span(f"codecs.encode.{codec}"):
            blob, meta = enc_col(arr, codec, *args, **kwargs)
        rec.count(f"codecs.bytes_in.{codec}", arr.nbytes)
        rec.count(f"codecs.bytes_out.{codec}", len(blob))
        return blob, meta

    def decode_column(blob, meta):
        codec = meta.get("codec", "?")
        if codec == "paged" and meta.get("pages"):
            codec = meta["pages"][0]["meta"].get("codec", codec)
        with rec.span(f"codecs.decode.{codec}"):
            return dec_col(blob, meta)

    def trial_encode_column(*args, **kwargs):
        rec.count("selector.trial_encodes")
        return trial_col(*args, **kwargs)

    read_blob, read_ranges, write_partition = (
        ManifestStore.read_blob, ManifestStore.read_blob_ranges, ManifestStore.write_partition,
    )

    def read_blob_w(self, pid, column):
        with rec.span("manifest.read_blob"):
            blob = read_blob(self, pid, column)
        rec.count("manifest.blob_bytes_read", len(blob))
        return blob

    def read_ranges_w(self, pid, column, ranges):
        with rec.span("manifest.read_blob"):
            parts = read_ranges(self, pid, column, ranges)
        rec.count("manifest.blob_bytes_read", sum(len(p) for p in parts))
        return parts

    def write_partition_w(self, pid, rows, blobs, *args, **kwargs):
        with rec.span("manifest.write_partition"):
            write_partition(self, pid, rows, blobs, *args, **kwargs)
        rec.count("manifest.files_written", len(blobs) + 2)  # blobs + manifest + marker

    stats = [
        (encode, fn, _timed(rec, "codecs.stats", getattr(encode, fn)))
        for fn in ("column_minmax", "column_bloom", "column_agg_stats", "column_distinct")
    ]
    return _patched([
        (encode, "encode_column", encode_column),
        (encode, "column_digest", _timed(rec, "codecs.digest", encode.column_digest)),
        (encode, "choose_codec", _timed(rec, "selector.choose", encode.choose_codec)),
        (selector, "encode_column", trial_encode_column),
        (decode, "decode_column", decode_column),
        (ManifestStore, "read_blob", read_blob_w),
        (ManifestStore, "read_blob_ranges", read_ranges_w),
        (ManifestStore, "write_partition", write_partition_w),
        *stats,
    ])
