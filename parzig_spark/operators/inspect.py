"""Store inspection tables and snapshot rollback.

The Iceberg metadata-table analogs (``db.table.files`` /
``db.table.snapshots``) plus ``rollback_to_snapshot`` over the manifest
store: the same per-column physical metadata the reference surfaces from a
Parquet footer (FileMetaData/ColumnMetaData,
/root/reference/src/generated/parquet.zig:382-419, dumped by its CLI) —
codec, value counts, raw/encoded sizes, digests, min/max stats — exposed
as ordinary DataFrames so operators, monitoring, and ad-hoc SQL can query
the store ABOUT itself without decoding a single blob.

Scale notes: ``files_table`` is one ``spark.read.parquet`` over the
compacted snapshot (one file today, a partitioned manifest set at 10^12
rows) — distributed, never a driver loop over partitions.
``snapshots_table`` loops snapshot files driver-side, which is O(snapshot
count): snapshots are produced at maintenance cadence (per encode job /
rollback), not per partition, so tens-to-hundreds of rows at any scale.

Rollback is METADATA-ONLY, like every maintenance op here: commit markers
are the single source of visibility, so restoring snapshot N's view means
deleting the partition/delete-op markers that postdate it (their blobs
stay on disk until ``gc_store`` reclaims them — pinned time-travel reads
of rolled-back versions keep working until then) and re-creating markers
for artifacts the target snapshot references whose markers a previous
rollback removed (roll-forward). No data file is read, moved, or
rewritten.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..plans.manifest import ManifestStore
from ..session import arrow_frame
from .decode import resolve_view

FILES_COLUMNS = [
    "pid",
    "column",
    "codec",
    "n_values",
    "raw_bytes",
    "enc_bytes",
    "sha256",
    "blob_file",
    "encode_s",
    "stat_min",
    "stat_max",
    "stat_sum",
    "stat_nulls",
]

SNAPSHOTS_SCHEMA = pa.schema(
    [
        ("version", pa.int64()),
        ("path", pa.string()),
        ("n_partitions", pa.int64()),
        ("n_manifest_rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("n_delete_ops", pa.int64()),
    ]
)


def files_table(
    spark: SparkSession,
    root: str,
    snapshot: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """One row per (partition, column) blob — the ``table.files`` metadata
    view. ``snapshot`` pins the listing to a historical version; ``ref``
    to a named tag/branch (the same handles ``decode_table`` takes). Heavy
    internals (codec meta JSON, selector lineage, bloom bitmaps) are
    deliberately excluded; query the snapshot parquet directly when
    debugging those."""
    _version, snap, _ops = resolve_view(ManifestStore(root), snapshot, ref)
    return spark.read.parquet(snap).select(*FILES_COLUMNS)


def snapshots_table(spark: SparkSession, root: str) -> DataFrame:
    """One row per snapshot version — the ``table.snapshots`` metadata
    view: partition/row/byte totals plus the delete-op count its sidecar
    pinned. Versions reclaimed by ``gc_store`` no longer appear."""
    store = ManifestStore(root)
    store.check_format()
    rows = []
    for version in store.versions():
        path = store.snapshot_path(version)
        t = pq.read_table(path, columns=["pid", "raw_bytes", "enc_bytes"])
        rows.append(
            (
                version,
                path,
                len(set(t.column("pid").to_pylist())),
                t.num_rows,
                sum(t.column("raw_bytes").to_pylist()),
                sum(t.column("enc_bytes").to_pylist()),
                len(store.snapshot_delete_ops(version)),
            )
        )
    return arrow_frame(spark, rows, SNAPSHOTS_SCHEMA)


def rollback_store(root: str, version: int) -> dict:
    """Restore the store's DEFAULT view to snapshot ``version`` — the
    Iceberg ``rollback_to_snapshot`` analog.

    Marker surgery only: partition and delete-op markers not in the target
    snapshot are removed (their artifacts become orphans for ``gc_store``);
    markers the target references that a prior rollback removed are
    re-created when their artifacts still exist (roll-FORWARD works until
    gc reclaims them) and raise otherwise. A sealing ``write_snapshot``
    then records the restored state as the new latest version, so readers
    using the snapshot fast path flip atomically; if the process dies
    before sealing, ``fresh_snapshot``'s exact-set check recompacts from
    the markers — the rollback still holds.

    Returns ``{"retired_partitions", "restored_partitions",
    "retired_delete_ops", "restored_delete_ops", "snapshot"}``.
    """
    store = ManifestStore(root)
    store.check_format()
    target_pids = store.snapshot_pids(version)
    target_ops = set(store.snapshot_delete_ops(version))
    committed = store.committed_pids()
    committed_ops = set(store.committed_delete_ops())

    to_restore = target_pids - committed
    missing = [pid for pid in to_restore if not store.is_staged(pid)]
    missing_ops = [
        op for op in target_ops - committed_ops if not store.is_delete_op_staged(op)
    ]
    if missing or missing_ops:
        raise ValueError(
            f"{root}: cannot roll back to snapshot {version} — artifacts "
            f"already reclaimed by gc (partitions {sorted(missing)[:5]}, "
            f"delete ops {sorted(missing_ops)[:5]})"
        )

    retired = sorted(committed - target_pids)
    for pid in retired:
        store.retire_partition(pid)
    for pid in sorted(to_restore):
        store.commit_partition(pid)
    retired_ops = sorted(committed_ops - target_ops)
    for op in retired_ops:
        store.retire_delete_op(op)
    restored_ops = sorted(target_ops - committed_ops)
    for op in restored_ops:
        store.seal_delete_op(op)

    snap = store.write_snapshot()
    return {
        "retired_partitions": len(retired),
        "restored_partitions": len(to_restore),
        "retired_delete_ops": len(retired_ops),
        "restored_delete_ops": len(restored_ops),
        "snapshot": snap,
    }
