"""Named snapshot refs — tags and branches over the manifest store.

The Iceberg ``refs`` analog (``table.refs`` / ``CREATE TAG`` / ``CREATE
BRANCH``): a ref is a NAMED pointer at a snapshot version, so humans and
jobs can address store history by intent ("audit-2026q3", "prod") instead
of by integer. Two kinds, matching Iceberg semantics:

- ``tag``: immutable once created — re-creating it at a different version
  fails loudly (an audit pin must never drift).
- ``branch``: movable via :func:`update_ref` (a release pointer the
  maintenance job advances).

Refs change GC liveness, which is their real operational weight: plain
snapshots are superseded-and-reclaimed by ``gc_store``, but a ref PINS its
snapshot — the snapshot file, every partition (blob dir + manifest) it
references, and every delete op its sidecar recorded all survive GC for as
long as the ref exists (``expire_snapshots`` respecting refs). Dropping
the ref releases the pin; the next GC reclaims whatever nothing else
holds.

Storage: one JSON record per ref, which ``ManifestStore`` owns
(``refs/<name>.json``; it checks the name before building a path).
Metadata-scale (bytes per ref), driver-written. A tag is created with
the store's first-writer-wins claim, so it appears WITH its content and
a second creator sees the first one's record; a branch move replaces
the record (last writer wins), the same single-driver maintenance
discipline as ``write_snapshot``. The reference is read-only
and has no history surface; the nearest citation is the footer
``FileMetaData`` its CLI dumps per file (one immutable version per file —
/root/reference/src/parquet/File.zig:58-91), which refs generalize to a
multi-version store.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..plans.manifest import ManifestStore, version_of
from ..session import arrow_frame

REFS_SCHEMA = pa.schema([("name", pa.string()), ("kind", pa.string()), ("snapshot", pa.int64())])


def create_ref(
    root: str, name: str, kind: str = "tag", version: int | None = None
) -> dict:
    """Create a named ref at ``version`` (default: the latest snapshot,
    compacting one if stale — tagging always pins a complete view).

    Tags are immutable: creating an existing tag at the SAME version is an
    idempotent no-op (replay-safe), at a different version an error.
    Creating an existing branch re-points it (same as update_ref).
    Returns the ref record ``{"name", "kind", "snapshot"}``."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"ref kind must be 'tag' or 'branch', got {kind!r}")
    store = ManifestStore(root)
    store.check_format()
    if version is None:
        version = version_of(store.fresh_snapshot())
    else:
        store.snapshot_path(version)  # raises if the snapshot doesn't exist
    rec = {"name": name, "kind": kind, "snapshot": int(version)}
    if kind == "branch":
        store.write_ref(rec)  # movable pointer: last writer wins
        return rec
    existing = store.claim_ref(rec)
    if existing is None or existing == rec:
        return rec  # created, or an idempotent replay
    raise ValueError(
        f"{root}: ref {name!r} already exists as {existing} — tags are "
        "immutable (drop_ref first, or use a branch)"
    )


def update_ref(root: str, name: str, version: int) -> dict:
    """Move a BRANCH to ``version``. Tags refuse (immutability is the
    point of a tag); missing refs refuse (create_ref is the explicit
    intent)."""
    existing = read_ref(root, name)
    if existing is None:
        raise ValueError(f"{root}: no ref {name!r} — create_ref first")
    if existing["kind"] != "branch":
        raise ValueError(
            f"{root}: ref {name!r} is a {existing['kind']} — tags are "
            "immutable"
        )
    store = ManifestStore(root)
    store.snapshot_path(version)  # must exist
    rec = {"name": name, "kind": "branch", "snapshot": int(version)}
    store.write_ref(rec)
    return rec


def read_ref(root: str, name: str) -> dict | None:
    """The ref record, or None if absent."""
    return ManifestStore(root).read_ref(name)


def resolve_ref(root: str, name: str) -> int:
    """Snapshot version a ref points at; raises on unknown names (a typo'd
    ref must never silently fall back to the head view)."""
    rec = read_ref(root, name)
    if rec is None:
        raise ValueError(f"{root}: no ref named {name!r}")
    return int(rec["snapshot"])


def drop_ref(root: str, name: str) -> bool:
    """Remove a ref (releasing its GC pin). Returns False if absent."""
    return ManifestStore(root).drop_ref(name)


def list_refs(root: str) -> list[dict]:
    """All ref records, name-sorted (driver-side; refs are metadata-scale)."""
    return ManifestStore(root).refs()


def pinned_versions(root: str) -> set[int]:
    """Snapshot versions any ref pins — gc_store's liveness input."""
    return {int(r["snapshot"]) for r in list_refs(root)}


def refs_table(spark: SparkSession, root: str) -> DataFrame:
    """The ``table.refs`` metadata view: one row per ref."""
    ManifestStore(root).check_format()
    rows = [(r["name"], r["kind"], int(r["snapshot"])) for r in list_refs(root)]
    return arrow_frame(spark, rows, REFS_SCHEMA)
