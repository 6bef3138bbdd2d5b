"""Write-audit-publish (WAP): stage a batch on a branch, audit it, then
publish or discard — the Iceberg ``wap.id`` / branch-staging workflow,
composed from this store's own primitives (namespaced append + snapshot +
marker-surgery rollback + ref pin + refs-aware gc).

Flow, all metadata-scale except the encode itself:

1. :func:`stage_batch` appends the batch under a ``wap_id``-derived pid
   namespace (the streaming/upsert aliasing guard — a replayed batch
   resumes, a DIFFERENT batch reusing the id fails loudly), seals the
   combined view as a snapshot, then rolls the DEFAULT view back to the
   pre-stage snapshot and pins the staged one under a branch ref. Readers
   of the head keep seeing the published view; ``decode_table(ref=...)``
   sees published + staged.
2. Audit however suits — :func:`parzig_spark.operators.verify.verify_store`
   with ``ref=`` scrubs blob integrity at the staged view;
   ``decode_table(ref=...)`` feeds content checks.
3. :func:`publish_ref` rolls the head FORWARD to the staged snapshot
   (marker surgery; the branch pin guarantees the artifacts survived gc)
   and drops the branch. Discard = ``drop_ref`` — the next ``gc_store``
   reclaims the staged partitions.

Isolation caveat (single-writer discipline, like every maintenance op
here): between the staging encode and the rollback inside
:func:`stage_batch` there is a window where a reader resolving a FRESH
snapshot would see the staged rows; readers pinned to snapshots or refs
never do. Iceberg closes the same window with a catalog swap; a store
whose readers go through snapshots (the scale posture) has it closed in
practice.

Reference parity: the reference is a read-only decoder with one immutable
version per file (/root/reference/src/parquet/File.zig:58-91); WAP
generalizes that to audited multi-version publication.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from ..plans.manifest import ManifestStore, claim_namespace, version_of
from .encode import append_pinned, batch_fingerprint
from .inspect import rollback_store
from .refs import create_ref, drop_ref, read_ref, resolve_ref


def stage_batch(
    spark: SparkSession,
    df: DataFrame,
    store_root: str,
    wap_id: str,
    branch: str | None = None,
) -> dict:
    """Stage ``df`` as an UNPUBLISHED batch of an existing store.

    ``wap_id`` is the caller's idempotency key (Iceberg's ``wap.id``): the
    batch encodes under a namespace derived from it, so replaying the same
    (wap_id, batch) after a crash converges — committed partitions resume,
    the branch re-points — while a different batch under a claimed id
    fails loudly instead of aliasing. The batch encodes with the store's
    OWN pinned config (group/salt/sort/size/target), exactly like rows
    written through the front door.

    Returns ``{"wap_id", "branch", "base_version", "staged_version",
    "rows_staged"}``. The default view stays at ``base_version``;
    ``decode_table(spark, root, ref=branch)`` reads the staged view."""
    store = ManifestStore(store_root)
    store.check_format()
    cfg = store.config()
    store_cols = cfg.get("columns") or []
    missing = [c for c in store_cols if c not in df.columns]
    if missing:
        raise ValueError(f"staged batch missing store columns: {missing}")
    branch = branch or f"wap-{wap_id}"
    existing = read_ref(store_root, branch)
    if existing is not None and existing["kind"] != "branch":
        raise ValueError(
            f"{store_root}: ref {branch!r} is a {existing['kind']} — staging "
            "needs a branch name"
        )

    base_version = version_of(store.fresh_snapshot())
    namespace = int.from_bytes(
        hashlib.sha256(("wap:" + wap_id).encode()).digest()[:6], "big"
    ) & ((1 << 47) - 1)
    # claim the namespace with the batch's CONTENT fingerprint (the
    # streaming aliasing guard's, map columns included): a replayed
    # identical batch passes and resumes, a DIFFERENT batch reusing the
    # wap_id fails loudly here instead of interleaving two datasets under
    # one namespace
    batch = df.select(store_cols)
    fp, n_rows = batch_fingerprint(batch)
    claim_namespace(
        store_root, namespace,
        hashlib.sha256(f"wap:{wap_id}:{fp.hex()}".encode()).hexdigest(),
    )
    append_pinned(batch, store_root, cfg, namespace)
    staged_version = version_of(store.write_snapshot())
    # flip the default view back to the published snapshot; the staged
    # partitions become head-orphans that ONLY the branch pin keeps alive
    rollback_store(store_root, base_version)
    create_ref(store_root, branch, kind="branch", version=staged_version)
    return {
        "wap_id": wap_id,
        "branch": branch,
        "base_version": base_version,
        "staged_version": staged_version,
        "rows_staged": n_rows,
    }


def publish_ref(store_root: str, name: str, drop: bool = True) -> dict:
    """Make a ref's snapshot the DEFAULT view — the audited-publication
    step (Iceberg ``fast_forward``/cherry-pick endpoint, as a view swap:
    the head becomes EXACTLY the ref's snapshot, not a merge). Marker
    surgery + sealing snapshot, same crash-safety as ``rollback_store``;
    the ref's gc pin guarantees every referenced artifact still exists.
    ``drop`` releases the ref afterwards (a published branch has served
    its purpose; pass False to keep a tag-style pin). Returns the
    rollback stats plus ``{"published_version"}``."""
    version = resolve_ref(store_root, name)
    stats = rollback_store(store_root, version)
    out = {"published_version": version_of(stats["snapshot"]), **stats}
    if drop:
        drop_ref(store_root, name)
    return out
