"""Row-level changelog between two snapshots — the Iceberg CDC /
``create_changelog_view`` analog.

``changes_table(spark, root, from_snapshot, to_snapshot)`` returns every
row whose VISIBILITY differs between the two views, tagged
``_change_type`` = ``insert`` (visible at ``to`` only) or ``delete``
(visible at ``from`` only). All change sources compose through one
mechanism, because ``(_pid, _pos)`` is a stable physical row address
(decode.py include_pid_pos):

- appended partitions → inserts;
- merge-on-read delete ops committed in the window → deletes;
- rollbacks that retire partitions or ops → deletes / re-appearing
  inserts (the diff is symmetric — swapping the versions swaps the tags);
- compaction rewrites surface as delete+insert pairs of identical rows
  (physical addresses change; Iceberg changelogs have the same property —
  diff across a pure rewrite boundary only if that noise is acceptable).

Scale: the decode is restricted to AFFECTED partitions only — the
symmetric difference of the two snapshots' pid sets plus the partitions
touched by delete ops present in exactly one sidecar. Partitions outside
that set have identical visibility in both views and are never opened, so
a day's CDC over a 100-TB store costs O(changed data), not O(table). The
anti-joins run on (_pid, _pos) longs — shuffle bounded by the affected
rows.

The reference decodes one immutable file version
(/root/reference/src/parquet/File.zig:58-91); the changelog is what its
users would build the moment versions exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.manifest import ManifestStore, version_of
from .decode import decode_table


def _rewrite_silent_pids(
    store_root, pids_a, pids_b, ops_a, ops_b, touched
) -> set[int]:
    """Pids a PURE in-place rewrite moved between the two views — provably
    identical row sets, so the changelog (and the stream reader, via the
    same helper) skips them entirely: a compaction is CDC-silent, like an
    Iceberg rewrite. A group qualifies only when the rewrite's durable
    intent record (operators/compact.py rewrite_store) proves:

    - the sources are all visible in exactly one view and the destination
      in exactly the other (the flip happened inside this window);
    - every delete op the rewrite purged was already applied in BOTH views
      (a purge of an in-window delete is a REAL row retraction);
    - no in-window delete op touches the group (those rows' visibility
      genuinely changed).

    Anything murkier falls through to the decode diff — correct either
    way, this is purely noise suppression."""
    silent: set[int] = set()
    for rec in ManifestStore(store_root).rewrite_records():
        if not set(rec.get("purged_ops", [])) <= (ops_a & ops_b):
            continue
        for g in rec["groups"]:
            dst = int(g["dst"])
            src = {int(p) for p in g["src"]}
            group = src | {dst}
            forward = (
                src <= pids_a and not (src & pids_b)
                and dst in pids_b and dst not in pids_a
            )
            backward = (
                src <= pids_b and not (src & pids_a)
                and dst in pids_a and dst not in pids_b
            )
            if not (forward or backward):
                continue
            if group & touched:
                continue  # an in-window delete op touches it: real changes
            # purged ops must not delete rows from the sources in only one
            # view — covered by the purged_ops ⊆ (ops_a ∩ ops_b) guard
            silent |= group
    return silent


def changes_table(
    spark: SparkSession,
    store_root: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Rows whose visibility changed between two snapshot versions, with
    ``_change_type`` ∈ {insert, delete} appended after the (optionally
    projected) data columns. ``to_snapshot`` defaults to the latest
    snapshot (compacting a fresh one if stale)."""
    store = ManifestStore(store_root)
    store.check_format()
    if to_snapshot is None:
        to_snapshot = version_of(store.fresh_snapshot())

    pids_from = store.snapshot_pids(from_snapshot)
    pids_to = store.snapshot_pids(to_snapshot)
    ops_from = set(store.snapshot_delete_ops(from_snapshot))
    ops_to = set(store.snapshot_delete_ops(to_snapshot))

    touched = store.delete_touched_pids(sorted(ops_from ^ ops_to))
    affected = (pids_from ^ pids_to) | touched
    affected -= _rewrite_silent_pids(
        store_root, pids_from, pids_to, ops_from, ops_to, touched
    )
    affected_list = sorted(affected)

    def view(version):
        return decode_table(
            spark, store_root, columns=columns, snapshot=version,
            pids=affected_list, include_pid_pos=True,
        )

    a, b = view(from_snapshot), view(to_snapshot)
    data_cols = [c for c in a.columns if c not in ("_pid", "_pos")]

    def tagged(df, other, tag):
        return (
            df.join(other.select("_pid", "_pos"), ["_pid", "_pos"], "left_anti")
            .select(*data_cols, F.lit(tag).alias("_change_type"))
        )

    return tagged(b, a, "insert").unionByName(tagged(a, b, "delete"))
