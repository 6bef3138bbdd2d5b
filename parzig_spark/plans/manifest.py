"""Manifest checkpoint store — the engine's FileMetaData/ColumnMetaData.

A manifest row plays the role of the reference's ColumnMetaData
(/root/reference/src/generated/parquet.zig:382-419): codec choice, symbol
tables (inside meta_json), value counts, compressed/uncompressed sizes,
sha256 digest, plus per-partition throughput metrics and selector lineage —
everything BASELINE.json's north_rule requires for resumable runs.

Backend: an Iceberg-shaped append-only layout on a filesystem the executors
share — one parquet manifest file + one blob directory per partition, made
visible by an atomically-created ``_committed_{pid}`` marker (write-ahead
blobs, rename, then marker: a partition is committed iff its marker exists,
so a killed run leaves only invisible garbage, never a halfapplied commit;
the same role Iceberg snapshot manifests play). The driver docstring notes
the production swap: with an Iceberg runtime jar on the classpath this
interface maps 1:1 onto an Iceberg metadata table (no jar in this sandbox —
SURVEY.md §7).

Resume = anti-join the input's partition ids against committed markers.
Idempotence: partition ids are content-derived hashes, not task ids, and
rows are canonically sorted before encoding, so Spark retries rewrite
byte-identical blobs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..codecs import decode_u64, encode_u64

MANIFEST_SCHEMA = pa.schema(
    [
        ("pid", pa.int64()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("meta_json", pa.string()),  # codec meta incl. dict/FSST symbol table
        ("lineage_json", pa.string()),  # selector stats + trial sizes
        ("sha256", pa.string()),  # digest of the decoded column's canonical bytes
        ("encode_s", pa.float64()),
        ("blob_file", pa.string()),
        # Per-column min/max (canonical strings; numerics parse as double,
        # temporals are ISO-ordered) — decode-side partition pruning, the
        # role of Parquet Statistics the reference parses but never uses
        # (/root/reference/src/generated/parquet.zig:55-76).
        ("stat_min", pa.string()),
        ("stat_max", pa.string()),
        # Partition-level equality bloom (base64 bitmap + key domain) — the
        # BloomFilterHeader analog at partition granularity
        # (/root/reference/src/generated/parquet.zig:312-325): prunes whole
        # partitions on point predicates where min/max can't (columns
        # uncorrelated with the sort order). Null for unbloomable types.
        ("stat_bloom", pa.string()),
        ("stat_bloom_dom", pa.string()),
        # Exact per-partition aggregates (v6) — metadata-only COUNT/SUM/
        # MIN/MAX answers without opening a blob (the Parquet footer /
        # Iceberg partition-stats aggregate-pushdown analog). stat_sum is
        # a decimal string (exact, order-independent) for integer-lane
        # columns, null otherwise; stat_nulls is the column's null count.
        ("stat_sum", pa.string()),
        ("stat_nulls", pa.int64()),
        # Capped EXACT distinct-value set (v7) — JSON array of canonical
        # strings when the partition holds ≤64 distinct non-null values of
        # an integer/string column ("[]" for all-null partitions), null
        # otherwise. Exact membership both directions: equality/IN pruning
        # with no bloom false positives, IN-list full-coverage proofs, and
        # metadata-only COUNT(DISTINCT) by set union (codecs/stats.py
        # column_distinct; operators/aggregate.py).
        ("stat_distinct", pa.string()),
    ]
)


# Bump whenever blob layouts or the manifest schema change incompatibly
# (v2: sectioned RLE/delta headers, stat_min/stat_max manifest columns,
# leveled zstd outer; v3: streaming pid layout 47-bit namespace × 16-bit
# bucket + namespace claim markers, truncated string min/max stats; v4:
# optional PAGED column layout — fixed value-stride sections with per-page
# min/max stats for sub-partition skipping; v5: partition-level equality
# blooms in the stat_bloom/stat_bloom_dom manifest columns; v6: exact
# per-partition stat_sum/stat_nulls aggregate stats for metadata-only
# COUNT/SUM/MIN/MAX — operators/aggregate.py; v7: capped exact
# distinct-value sets in stat_distinct for exact equality/IN pruning and
# metadata-only COUNT(DISTINCT)).
# ensure_config embeds it in the store identity, so a resume against an
# older store fails loudly instead of mixing formats; check_format gives
# decoders the same loud failure.
FORMAT_VERSION = 7


_MARK = "_committed_"
_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


class ManifestStore:
    """The store's one owner of its on-disk layout: no other module names,
    lists, writes or removes a store file. Under ``root``:

    - ``store_config.json``: the pinned partitioning identity
      (:meth:`config`, :meth:`ensure_config`);
    - ``blobs/<pid>/<column>.bin``: one encoded blob per partition column;
    - ``manifests/part-<pid>.parquet``: the partition's manifest rows;
    - ``markers/_committed_<pid>``: a partition is visible iff its marker
      exists;
    - ``snapshots/snap-NNNNNN.parquet`` + ``snap-NNNNNN.deletes.json``:
      the manifest list of one version and the delete ops it pins
      (versions compare as integers, :meth:`versions`);
    - ``deletes/<op>/<pid>.bin`` + ``deletes/_committed_<op>``: a delete
      op's per-partition bitmaps and its commit marker;
    - ``refs/<name>.json``: a named snapshot ref (:meth:`read_ref`,
      :meth:`write_ref`, :meth:`claim_ref`);
    - ``rewrites/rw-<16 hex>.json``: the durable intent of one in-place
      rewrite (:meth:`write_rewrite_record`, :meth:`rewrite_records`);
    - ``namespaces/ns_<n>``: the batch fingerprint that claimed a pid
      namespace (:func:`claim_namespace`);
    - ``*.tmp-*``: an unfinished write, reclaimed by :meth:`reclaim`.

    A file with content lands through one of two primitives:
    :func:`_write_file` (tmp + rename, last writer wins) or
    :func:`_claim_file` (tmp + hardlink, first writer wins); markers are
    empty ``O_EXCL`` files (:func:`_create_marker`). Reads never create a
    directory; each write creates the ones it needs, so a read of a
    mistyped root leaves nothing behind."""

    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "manifests")
        self.blob_dir = os.path.join(root, "blobs")
        self.marker_dir = os.path.join(root, "markers")
        self.snapshot_dir = os.path.join(root, "snapshots")

    # -- store config (partitioning identity) --------------------------------
    def config(self) -> dict | None:
        """The pinned store config; None when ``root`` holds no store."""
        try:
            return _read_json(os.path.join(self.root, "store_config.json"))
        except FileNotFoundError:
            return None

    def ensure_config(self, config: dict) -> None:
        """First writer pins the store's partitioning identity; later runs
        must match or fail loudly. pid derivation is a pure data function of
        (group_cols, salt_cols, target_bytes, columns) — resuming with
        different parameters would interleave incompatible partitionings in
        one store and decode duplicated rows."""
        existing = self.config()
        if existing is not None:
            if existing != config:
                raise ValueError(
                    f"store {self.root} was encoded with {existing}; "
                    f"refusing to resume with {config} (pids would not match)"
                )
            return
        os.makedirs(self.root, exist_ok=True)
        _write_file(
            os.path.join(self.root, "store_config.json"),
            json.dumps(config, sort_keys=True).encode(),
        )

    def check_format(self) -> None:
        """Fail loudly when the store was written by an incompatible engine
        version (or isn't one of our stores at all) instead of mis-parsing
        its blobs/manifests downstream."""
        config = self.config()
        if config is None:
            raise ValueError(f"{self.root}: no store_config.json — not an encoded store")
        found = config.get("format")
        if found != FORMAT_VERSION:
            raise ValueError(
                f"{self.root}: store format {found!r} != engine format "
                f"{FORMAT_VERSION} — re-encode with this engine version"
            )

    # -- commit protocol ----------------------------------------------------
    def _marker_path(self, pid: int) -> str:
        return os.path.join(self.marker_dir, f"{_MARK}{pid}")

    def is_committed(self, pid: int) -> bool:
        return os.path.exists(self._marker_path(pid))

    def committed_pids(self) -> set[int]:
        return {
            int(f[len(_MARK):]) for f in _listdir(self.marker_dir) if f.startswith(_MARK)
        }

    def manifest_path(self, pid: int) -> str:
        return os.path.join(self.manifest_dir, f"part-{pid}.parquet")

    def write_partition(
        self, pid: int, rows: list[dict], blobs: dict[str, bytes],
        commit: bool = True,
    ) -> None:
        """Atomic per-partition commit: blobs → manifest → marker.

        ``commit=False`` stages the data WITHOUT the marker (invisible to
        every reader) — the executor half of a two-phase write like the
        DataSource writer, whose driver-side commit() later seals exactly
        the partitions its tasks reported via :meth:`commit_partition`.
        Uncommitted leftovers from failed attempts are gc_store orphans."""
        if self.is_committed(pid):
            return  # retry of an already-committed partition: no-op
        os.makedirs(os.path.join(self.blob_dir, str(pid)), exist_ok=True)
        for column, blob in blobs.items():
            _write_file(self.blob_path(pid, column), blob)
        os.makedirs(self.manifest_dir, exist_ok=True)
        _write_file(
            self.manifest_path(pid), pa.Table.from_pylist(rows, schema=MANIFEST_SCHEMA)
        )
        if commit:
            self.commit_partition(pid)

    def commit_partition(self, pid: int) -> None:
        """Seal a staged partition: O_CREAT|O_EXCL marker creation is the
        commit point (idempotent — a second sealer is a no-op)."""
        _create_marker(self._marker_path(pid))

    def retire_partition(self, pid: int) -> bool:
        """Hide ``pid`` by removing its marker; its files stay for
        :meth:`reclaim` (and for a roll-forward). False when it had none."""
        return _remove(self._marker_path(pid))

    def is_staged(self, pid: int) -> bool:
        """Whether ``pid``'s blob dir and manifest exist, committed or not."""
        return os.path.isdir(os.path.join(self.blob_dir, str(pid))) and os.path.exists(
            self.manifest_path(pid)
        )

    def drop_staged(self, pid: int) -> None:
        """Remove an uncommitted partition's blobs and manifest (a failed
        write's abort); sealed data is never touched."""
        if self.is_committed(pid):
            return
        shutil.rmtree(os.path.join(self.blob_dir, str(pid)), ignore_errors=True)
        _remove(self.manifest_path(pid))

    def link_partition(
        self, src: "ManifestStore", pid: int, columns: list[str] | None = None,
        rows: list[dict] = (), blobs: dict[str, bytes] | None = None,
    ) -> None:
        """Commit ``src``'s partition ``pid`` into this store without moving
        its bytes: hardlink its blobs (copy fallback) — only ``columns``
        when given — re-point their manifest rows' ``blob_file`` here, add
        ``rows`` whose ``blobs`` are written fresh, then
        :meth:`write_partition` (manifest tmp+rename, then marker). The
        passthrough of compaction and both schema-evolution operators."""
        if self.is_committed(pid):
            return
        kept = [
            r for r in pq.read_table(src.manifest_path(pid)).to_pylist()
            if columns is None or r["column"] in columns
        ]
        os.makedirs(os.path.join(self.blob_dir, str(pid)), exist_ok=True)
        for r in kept:
            r["blob_file"] = self.blob_path(pid, r["column"])
            link_file(src.blob_path(pid, r["column"]), r["blob_file"])
        self.write_partition(pid, kept + list(rows), blobs or {})

    # -- snapshots (manifest-list) -------------------------------------------
    def _snap_path(self, version: int, suffix: str = ".parquet") -> str:
        return os.path.join(self.snapshot_dir, f"snap-{version:06d}{suffix}")

    def versions(self) -> list[int]:
        """Snapshot versions on disk, ascending — as integers: past version
        999999 a name sorts below its predecessor's."""
        return sorted(
            version_of(f) for f in _listdir(self.snapshot_dir)
            if f.startswith("snap-") and f.endswith(".parquet")
        )

    def write_snapshot(self) -> str:
        """Compact the committed manifest set into one snapshot parquet —
        the Iceberg manifest-list analog. At 10^12-file scale a reader must
        not listdir millions of markers; it reads the latest snapshot in
        O(1). Written by the (single) job driver after the encode action, so
        plain last-writer-wins versioned files suffice (Iceberg swaps a
        catalog pointer for the same reason)."""
        table = self._read_manifest_files()
        # max+1, NOT len(): gc_store deletes superseded snapshot files, and a
        # len()-derived version would then sort BELOW the surviving latest —
        # an invisible snapshot that readers never pick up.
        existing = self.versions()
        version = existing[-1] + 1 if existing else 0
        os.makedirs(self.snapshot_dir, exist_ok=True)
        # sidecar first, manifest parquet second: the snapshot "exists" only
        # once its parquet lands, so it never appears without its op list
        ops = self.committed_delete_ops()
        _write_file(self._snap_path(version, ".deletes.json"), json.dumps(ops).encode())
        final = self._snap_path(version)
        _write_file(final, table)
        return final

    def snapshot_delete_ops(self, version: int) -> list[str]:
        """Delete ops committed when this snapshot was written — a pinned
        (time-travel) read applies exactly these. Pre-sidecar snapshots
        (older stores) fall back to the empty list: their rows were written
        before row-level deletes existed."""
        try:
            return _read_json(self._snap_path(version, ".deletes.json"))
        except FileNotFoundError:
            return []

    def latest_snapshot(self) -> str | None:
        existing = self.versions()
        return self._snap_path(existing[-1]) if existing else None

    def snapshot_path(self, version: int) -> str:
        """Path of a specific snapshot version — the time-travel handle.
        Versions are the monotonically increasing suffix write_snapshot
        assigns (the Iceberg snapshot-id analog). Raises if absent."""
        path = self._snap_path(version)
        if not os.path.exists(path):
            raise ValueError(f"{self.root}: no snapshot version {version}")
        return path

    def snapshot_pids(self, version: int) -> set[int]:
        """Partition ids visible at a snapshot version (O(1) driver read of
        that snapshot's pid column)."""
        t = pq.read_table(self.snapshot_path(version), columns=["pid"])
        return {int(p) for p in t.column("pid").to_pylist()}

    # -- row-level deletes (merge-on-read) -----------------------------------
    # Layout: deletes/{op_id}/{pid}.bin (RLE width-1 bitmap over the
    # partition's physical rows, 1 = deleted) + deletes/_committed_{op_id}.
    # An op is visible iff its marker exists — the same write-ahead shape as
    # partition commits, lifted to store level so a multi-partition delete
    # is atomic: a crash mid-op leaves invisible garbage, never a
    # half-applied delete. Snapshots record the committed op set at write
    # time, so time travel replays exactly the deletes that existed then.
    def deletes_dir(self, op_id: str | None = None) -> str:
        d = os.path.join(self.root, "deletes")
        return os.path.join(d, op_id) if op_id else d

    def _delete_marker_path(self, op_id: str) -> str:
        return os.path.join(self.deletes_dir(), f"{_MARK}{op_id}")

    def committed_delete_ops(self) -> list[str]:
        return sorted(
            f[len(_MARK):] for f in _listdir(self.deletes_dir()) if f.startswith(_MARK)
        )

    def is_delete_op_committed(self, op_id: str) -> bool:
        return os.path.exists(self._delete_marker_path(op_id))

    def is_delete_op_staged(self, op_id: str) -> bool:
        """Whether ``op_id``'s bitmap dir exists, sealed or not."""
        return os.path.isdir(self.deletes_dir(op_id))

    def delete_touched_pids(self, ops: "list[str] | None" = None) -> set[int]:
        """Partitions carrying a delete bitmap of ``ops`` (default: every
        committed op) — one listdir per op (each returns only the pids
        that op touched), never a scan over all partitions. Metadata
        answers over these pids are stale by construction; the aggregation
        core behind aggregate_store and check_store passes its view's op
        list (``resolve_view``), so a pinned snapshot sees the pids dirty
        AT THAT VIEW and a delete committed mid-query cannot split the
        metadata and decoded halves."""
        return {
            int(f[:-len(".bin")])
            for op in (self.committed_delete_ops() if ops is None else ops)
            for f in _listdir(self.deletes_dir(op))
            if f.endswith(".bin")
        }

    def write_delete_bitmap(self, op_id: str, pid: int, mask: np.ndarray) -> None:
        """Write ``pid``'s bitmap of ``op_id`` (``mask`` True = deleted,
        RLE width 1) into the op's dir, which stays invisible until
        :meth:`seal_delete_op`; tmp+rename, so a racing speculative task
        never exposes a partial file."""
        blob, _ = encode_u64(mask.astype(np.uint64), width=1)
        os.makedirs(self.deletes_dir(op_id), exist_ok=True)
        _write_file(os.path.join(self.deletes_dir(op_id), f"{pid}.bin"), blob)

    def seal_delete_op(self, op_id: str) -> bool:
        """Seal a written delete op — :meth:`commit_partition`'s twin.
        Returns False when its marker already existed. An op that touched
        no partition still gets its (empty) dir: :meth:`is_delete_op_staged`
        tells a live op from one gc reclaimed."""
        os.makedirs(self.deletes_dir(op_id), exist_ok=True)
        return _create_marker(self._delete_marker_path(op_id))

    def retire_delete_op(self, op_id: str) -> bool:
        """Hide a delete op by removing its marker (bitmaps stay for
        :meth:`reclaim`). False when it had none."""
        return _remove(self._delete_marker_path(op_id))

    def link_delete_ops(self, src: "ManifestStore") -> None:
        """Hardlink every committed delete op of ``src`` here and seal it —
        an evolved store keeps its source's pids, so the row deletes stay
        in force."""
        for op in src.committed_delete_ops():
            os.makedirs(self.deletes_dir(op), exist_ok=True)
            for f in _listdir(src.deletes_dir(op)):
                if not _is_tmp(f):
                    link_file(
                        os.path.join(src.deletes_dir(op), f),
                        os.path.join(self.deletes_dir(op), f),
                    )
            self.seal_delete_op(op)

    def delete_bitmap_paths(self, pid: int, op_ids: list[str] | None = None) -> list[str]:
        """Bitmap files affecting ``pid`` across the given (default: all
        committed) delete ops — decode ORs them together."""
        if op_ids is None:
            op_ids = self.committed_delete_ops()
        paths = (os.path.join(self.deletes_dir(op), f"{pid}.bin") for op in op_ids)
        return [p for p in paths if os.path.exists(p)]

    def load_delete_mask(
        self, pid: int, n_phys: int, op_ids: list[str]
    ) -> np.ndarray | None:
        """OR of ``pid``'s bitmaps across ``op_ids``; None when untouched."""
        paths = self.delete_bitmap_paths(pid, op_ids)
        if not paths:
            return None
        deleted = np.zeros(n_phys, bool)
        for p in paths:
            with open(p, "rb") as f:
                deleted |= decode_u64(f.read(), n_phys, 1).astype(bool)
        return deleted

    # -- refs (operators/refs.py) and rewrite intents (operators/compact.py) --
    def _ref_path(self, name: str) -> str:
        # a ref name is outside input: check it before it becomes a path
        if not _REF_NAME_RE.match(name):
            raise ValueError(
                f"invalid ref name {name!r} (allowed: [A-Za-z0-9._-], "
                "must start alphanumeric, <=128 chars)"
            )
        return os.path.join(self.root, "refs", f"{name}.json")

    def read_ref(self, name: str) -> dict | None:
        """The ref record ``name``, or None if absent."""
        try:
            return _read_json(self._ref_path(name))
        except FileNotFoundError:
            return None

    def write_ref(self, rec: dict) -> None:
        """Publish ``rec`` at its name, replacing any record there (a
        branch move: last writer wins)."""
        path = self._ref_path(rec["name"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write_file(path, _record_bytes(rec), durable=True)

    def claim_ref(self, rec: dict) -> dict | None:
        """Publish ``rec`` iff its name is free (a tag); None when this
        call created it, else the record already there."""
        existing = _claim_file(self._ref_path(rec["name"]), _record_bytes(rec))
        return None if existing is None else json.loads(existing)

    def drop_ref(self, name: str) -> bool:
        """Remove ref ``name``. False when it was absent."""
        return _remove(self._ref_path(name))

    def refs(self) -> list[dict]:
        """Every ref record, name-sorted."""
        d = os.path.join(self.root, "refs")
        return [_read_json(os.path.join(d, f)) for f in sorted(_listdir(d)) if f.endswith(".json")]

    def write_rewrite_record(self, rec: dict) -> None:
        """Durably record one in-place rewrite's intent under a name
        derived from its content, so a replayed rewrite rewrites it."""
        data = _record_bytes(rec)
        d = os.path.join(self.root, "rewrites")
        os.makedirs(d, exist_ok=True)
        name = f"rw-{hashlib.sha256(data).hexdigest()[:16]}.json"
        _write_file(os.path.join(d, name), data, durable=True)

    def rewrite_records(self) -> list[dict]:
        """Every rewrite intent record, each ``{"groups": [{"dst": pid,
        "src": [pids]}], "purged_ops": [...]}``: the crash-repair log, and
        the lineage changes_table and the stream reader consult to keep
        pure rewrites CDC-silent."""
        d = os.path.join(self.root, "rewrites")
        return [
            _read_json(os.path.join(d, f)) for f in sorted(_listdir(d))
            if f.startswith("rw-") and f.endswith(".json")
        ]

    # -- readers ------------------------------------------------------------
    def blob_path(self, pid: int, column: str) -> str:
        return os.path.join(self.blob_dir, str(pid), f"{column}.bin")

    def read_blob(self, pid: int, column: str) -> bytes:
        with open(self.blob_path(pid, column), "rb") as f:
            return f.read()

    def read_blob_ranges(
        self, pid: int, column: str, ranges: list[tuple[int, int]]
    ) -> list[bytes]:
        """Selected (offset, length) byte ranges of one blob — the paged
        layout's OffsetIndex read path: bytes touched = sum of the ranges,
        never the file size."""
        out = []
        with open(self.blob_path(pid, column), "rb") as f:
            for off, ln in ranges:
                f.seek(off)
                out.append(f.read(ln))
        return out

    def _read_manifest_files(self) -> pa.Table:
        tables = [pq.read_table(self.manifest_path(pid)) for pid in sorted(self.committed_pids())]
        if not tables:
            return MANIFEST_SCHEMA.empty_table()
        return pa.concat_tables(tables)

    def read_one_manifest(self) -> pa.Table | None:
        """Any single committed partition's manifest (schema discovery) —
        O(1) driver I/O: first marker found, one parquet file read."""
        try:
            with os.scandir(self.marker_dir) as it:
                for entry in it:
                    if entry.name.startswith(_MARK):
                        return pq.read_table(self.manifest_path(int(entry.name[len(_MARK):])))
        except FileNotFoundError:
            pass
        return None

    def fresh_snapshot(self) -> str:
        """Path of a snapshot covering every committed partition; compacts
        one if the latest is stale or absent. Production flow: the encode
        job driver calls write_snapshot() once post-commit, so readers hit
        the O(1) fast path."""
        snap = self.latest_snapshot()
        if snap is not None:
            # Exact-set check, not superset: a strict-superset snapshot means
            # partitions were RETIRED since it was written (rollback_store
            # crashed between marker removal and its sealing snapshot) —
            # serving it would resurrect rolled-back rows. Recompacting from
            # the markers self-heals either direction of staleness.
            if set(pq.read_table(snap, columns=["pid"]).column("pid").to_pylist()) == self.committed_pids():
                return snap
        return self.write_snapshot()

    def read_manifests(self) -> pa.Table:
        """All committed manifest rows (uncommitted partitions invisible).

        Reads the latest snapshot when one covers every committed partition;
        falls back to per-partition manifests otherwise (snapshot stale or
        absent)."""
        snap = self.latest_snapshot()
        if snap is not None:
            table = pq.read_table(snap)
            # exact-set check — see fresh_snapshot for the rollback rationale
            if set(table.column("pid").to_pylist()) == self.committed_pids():
                return table
        return self._read_manifest_files()

    def column_meta(self, pid: int, column: str) -> dict:
        t = pq.read_table(self.manifest_path(pid), filters=[("column", "=", column)])
        return json.loads(t.column("meta_json")[0].as_py())

    # -- garbage collection -------------------------------------------------
    def reclaim(
        self, live_pids: set[int], live_ops: set[str], pinned: set[int],
        min_age_s: float, keep_snapshots: int,
    ) -> dict:
        """Remove what no live partition, op or snapshot references, and
        ``.tmp-`` litter — the file walk behind ``gc_store``, which owns
        the liveness rules and documents the arguments and counts."""
        now = time.time()
        stats = dict.fromkeys(
            ("orphan_dirs", "orphan_manifests", "tmp_files", "old_snapshots",
             "bytes_reclaimed"), 0,
        )

        def old_enough(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= min_age_s
            except OSError:
                return False

        def drop(path: str, kind: str) -> None:
            if os.path.isdir(path):
                for dirpath, _, files in os.walk(path):
                    for f in files:
                        try:
                            stats["bytes_reclaimed"] += os.path.getsize(os.path.join(dirpath, f))
                        except OSError:
                            pass
                shutil.rmtree(path, ignore_errors=True)
            else:
                stats["bytes_reclaimed"] += os.path.getsize(path)
                os.unlink(path)
            stats[kind] += 1

        def drop_tmp(d: str) -> None:
            for f in _listdir(d):
                if _is_tmp(f) and old_enough(os.path.join(d, f)):
                    drop(os.path.join(d, f), "tmp_files")

        # uncommitted blob dirs + stray tmp files inside committed ones
        for entry in _listdir(self.blob_dir):
            p = os.path.join(self.blob_dir, entry)
            if entry.isdigit() and int(entry) not in live_pids:
                if old_enough(p):
                    drop(p, "orphan_dirs")
            elif os.path.isdir(p):
                drop_tmp(p)

        # manifests without a marker, and manifest tmp litter
        drop_tmp(self.manifest_dir)
        for f in _listdir(self.manifest_dir):
            if f.startswith("part-") and f.endswith(".parquet"):
                fp = os.path.join(self.manifest_dir, f)
                if int(f[len("part-"):-len(".parquet")]) not in live_pids and old_enough(fp):
                    drop(fp, "orphan_manifests")

        # uncommitted delete-op dirs (crashed delete job) + tmp litter inside
        # committed ones — the marker is the visibility boundary, so an
        # unmarked op dir was never observable by any reader
        for entry in _listdir(self.deletes_dir()):
            p = self.deletes_dir(entry)
            if entry.startswith(_MARK) or not os.path.isdir(p):
                continue
            if entry not in live_ops:
                if old_enough(p):
                    drop(p, "orphan_dirs")
            else:
                drop_tmp(p)

        # superseded snapshots (readers only ever open the latest); the
        # delete-op sidecar travels with its snapshot
        for version in self.versions()[: -(1 + max(0, int(keep_snapshots)))]:
            fp = self._snap_path(version)
            if version not in pinned and old_enough(fp):
                drop(fp, "old_snapshots")
                side = self._snap_path(version, ".deletes.json")
                if os.path.exists(side):
                    stats["bytes_reclaimed"] += os.path.getsize(side)
                    os.unlink(side)
        drop_tmp(self.snapshot_dir)
        for d in ("refs", "rewrites", "namespaces"):
            drop_tmp(os.path.join(self.root, d))
        return stats


def version_of(snapshot_path: str) -> int:
    """The version of a snapshot file (``snap-NNNNNN.parquet``)."""
    return int(os.path.basename(snapshot_path)[len("snap-"):-len(".parquet")])


def _listdir(d: str) -> list[str]:
    """Entries of ``d``; none when it does not exist (reads create no dirs)."""
    try:
        return os.listdir(d)
    except FileNotFoundError:
        return []


def _write_file(final: str, data: "bytes | pa.Table", durable: bool = False) -> None:
    """Write ``data`` (bytes, or a table as parquet) through a ``.tmp-``
    sibling and an atomic rename: no reader ever sees a partial file.
    ``durable`` fsyncs the bytes before the rename."""
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    if isinstance(data, pa.Table):
        pq.write_table(data, tmp)
    else:
        with open(tmp, "wb") as f:
            f.write(data)
            if durable:
                f.flush()
                os.fsync(f.fileno())
    os.replace(tmp, final)


def _claim_file(final: str, data: bytes) -> bytes | None:
    """Create ``final`` holding ``data`` iff no file is there: write and
    fsync a ``.tmp-`` sibling, then hardlink it, which fails iff ``final``
    exists, so the file appears WITH its content. None when this call
    created it, else the content already there. An empty ``final`` (a
    crash between create and write in an older protocol) was never owned:
    it is unlinked and the link retried, so two racing claimers cannot
    both adopt it."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    for _ in range(4):
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return None
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
        try:
            with open(final, "rb") as f:
                existing = f.read()
        except FileNotFoundError:
            continue  # a racing claimer unlinked it: retry the link
        if existing:
            return existing
        _remove(final)
    raise RuntimeError(f"could not claim {final} after repeated empty-file races")


def _record_bytes(rec: dict) -> bytes:
    return json.dumps(rec, sort_keys=True).encode()


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _is_tmp(name: str) -> bool:
    """Whether ``name`` is an unfinished write's ``.tmp-`` sibling. Final
    names end in ``.bin``, ``.parquet`` or ``.json`` (or are ``ns_<n>``),
    which a ``.tmp-`` suffix never does, so a column or ref whose name
    holds ``.tmp-`` is still a live file."""
    return ".tmp-" in name and not name.endswith((".bin", ".parquet", ".json"))


def _remove(path: str) -> bool:
    try:
        os.unlink(path)
        return True
    except FileNotFoundError:
        return False


def _create_marker(path: str) -> bool:
    """The one commit primitive: create ``path`` iff absent (O_CREAT|O_EXCL).
    Returns False when another sealer got there first."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        return True
    except FileExistsError:
        return False


def link_file(src: str, dst: str) -> None:
    """Hardlink ``src`` at ``dst`` (copy when the filesystems differ);
    an existing ``dst`` is kept."""
    if os.path.exists(dst):
        return
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def claim_namespace(store_root: str, namespace: int, digest_hex: str) -> None:
    """Loud cross-batch aliasing guard: even a (47-bit) namespace collision
    can never silently drop rows — the namespace is claimed with the FULL
    256-bit batch fingerprint (:func:`_claim_file`); a different batch
    landing on a claimed namespace fails here instead of being anti-joined
    away, while an identical replayed batch (crash recovery) matches and
    proceeds to its normal resume skip."""
    path = os.path.join(store_root, "namespaces", f"ns_{namespace}")
    existing = (_claim_file(path, digest_hex.encode()) or b"").decode()
    if existing and existing != digest_hex:
        raise RuntimeError(
            f"pid namespace collision in {store_root}: namespace {namespace} "
            f"was claimed by a different batch (fingerprint {existing[:16]}… "
            f"!= {digest_hex[:16]}…) — refusing to encode; rows would be "
            "silently dropped by the resume anti-join"
        )
