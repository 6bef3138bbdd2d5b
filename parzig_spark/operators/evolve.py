"""Schema evolution: add derived columns to a store without re-encoding it.

The backfill shape a training-data pipeline hits constantly: a new feature
(token counts, quality score, language id) must land next to a 100-TB
content column. Re-encoding the whole store moves every byte; this operator
moves only the NEW column's bytes. The reference has no write path at all —
the store layout both sides maintain is its ColumnMetaData analog
(/root/reference/src/generated/parquet.zig:382-419); column-set evolution
itself is the Iceberg ``ADD COLUMN`` + backfill analog.

How alignment works (and is *proven*, not assumed): partition ids and
in-partition order are pure functions of the data (the store invariant), so
running the SAME original columns through the SAME plan reproduces each
partition's exact row order. Each task then re-digests one original column
from its batch and compares it to the source manifest's recorded sha256 —
any drift between the caller's DataFrame and the stored data (edited rows,
different row set, wrong source) fails the task loudly before anything is
written. Existing blobs hardlink into the destination (byte-moves ∝ new
columns only); manifests merge; the commit protocol is unchanged.

Every write step is the engine's shared one, so an evolved partition is
indistinguishable from an encoded one: ``add_columns`` re-derives pids and
row order through encode_table's own pid shuffle (``map_pid_slices``,
``skip_committed`` for resume), builds the new columns' manifest rows —
stats, digests, blooms, distinct sets — in ``encode_partition_arrays``,
and both operators link and commit through
``ManifestStore.link_partition`` (hardlinked blobs, re-pointed
``blob_file``, ``write_partition``'s tmp+rename, then the marker).

Limitations: batch-encoded stores only (a streaming store's pid namespaces
are per-batch fingerprints this operator cannot re-derive — its missing
source manifests fail loudly); the caller's DataFrame must carry every
original column plus the new ones.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..plans.manifest import ManifestStore
from .decode import manifest_rows
from .encode import (
    column_digest,
    encode_partition_arrays,
    map_pid_slices,
    plan_partitions,
    skip_committed,
    summary_batch,
)


def drop_columns(src_root: str, dst_root: str, cols: list[str]) -> dict:
    """Produce ``dst_root`` = ``src_root`` minus ``cols`` — the DROP COLUMN
    analog. Purely metadata + hardlinks (no Spark job, no data pass): kept
    blobs hardlink across, manifests rewrite without the dropped rows, and
    the store config's column list shrinks. Returns
    {"partitions", "dropped_blobs"}. Dropping every column, or an unknown
    column, fails loudly."""
    src = ManifestStore(src_root)
    src.check_format()
    src_config = src.config()
    orig_cols: list[str] = src_config["columns"]
    unknown = [c for c in cols if c not in orig_cols]
    if unknown:
        raise ValueError(f"drop_columns: not in store: {unknown}")
    kept = [c for c in orig_cols if c not in cols]
    if not kept:
        raise ValueError("drop_columns: cannot drop every column")
    dst = ManifestStore(dst_root)
    dst.ensure_config({**src_config, "columns": kept})
    dst.link_delete_ops(src)
    n_parts = 0
    for pid in sorted(src.committed_pids()):
        if dst.is_committed(pid):
            continue
        dst.link_partition(src, pid, columns=kept)
        n_parts += 1
    return {"partitions": n_parts, "dropped_blobs": n_parts * len(cols)}


def add_columns(
    df: DataFrame,
    src_root: str,
    dst_root: str,
    new_cols: list[str],
    resume: bool = True,
    outer: str | None = "auto",
) -> DataFrame:
    """Produce ``dst_root`` = ``src_root`` + encoded ``new_cols``.

    ``df`` must hold every column the source store was encoded from PLUS
    ``new_cols`` (the backfill recompute shape). Returns the per-column
    summary for the new columns; materializing it runs the job. Existing
    blobs/manifests transfer via hardlink (copy fallback), so bytes moved
    scale with the new columns, not the store.
    """
    src = ManifestStore(src_root)
    src.check_format()
    src_config = src.config()
    orig_cols: list[str] = src_config["columns"]
    missing = [c for c in orig_cols + new_cols if c not in df.columns]
    if missing:
        raise ValueError(f"add_columns: df lacks required columns {missing}")
    overlap = [c for c in new_cols if c in orig_cols]
    if overlap:
        raise ValueError(f"add_columns: columns already in store: {overlap}")
    sort_cols: list[str] = src_config.get("sort_cols") or []
    page_values = src_config.get("page_values")
    # one original column per task re-digests as the alignment proof; the
    # first sort column is the cheapest that uniquely witnesses row order
    check_col = sort_cols[0] if sort_cols else orig_cols[0]

    dst = ManifestStore(dst_root)
    dst.ensure_config({**src_config, "columns": orig_cols + new_cols})
    # deletes carry over (pids identical); note the alignment digest below
    # checks PHYSICAL rows — the caller passes the original full data, not
    # a post-delete decode (a decoded-then-widened frame fails loudly)
    dst.link_delete_ops(src)

    with_pid, n_buckets = plan_partitions(
        df,
        src_config["group_cols"],
        src_config["salt_cols"],
        src_config["target_bytes"],
        src_config.get("size_col"),
    )
    if resume:
        with_pid = skip_committed(with_pid, dst)

    def backfill_one(pid, table):
        src_local = ManifestStore(src_root)
        if not src_local.is_staged(pid):
            raise ValueError(
                f"add_columns: pid {pid} has no source manifest in "
                f"{src_root} — the DataFrame's rows do not reproduce the "
                "stored partitioning (edited data, or a streaming-"
                "namespaced store)"
            )
        # alignment proof: this batch's check column must digest to the
        # byte-identical value the source store recorded for this pid
        recorded = manifest_rows(src_root, pid, ["sha256"], [check_col])
        check = table.column(check_col).combine_chunks()
        if not recorded or column_digest(check) != recorded[0]["sha256"]:
            raise ValueError(
                f"add_columns: pid {pid} column {check_col!r} does not "
                "match the stored digest — the DataFrame's rows drifted "
                "from the stored data; refusing to write misaligned "
                "columns"
            )
        dst_local = ManifestStore(dst_root)
        if dst_local.is_committed(pid):
            return summary_batch([])  # speculative retry of a committed partition
        rows, blobs = encode_partition_arrays(
            dst_root, pid, table, new_cols, outer=outer, page_values=page_values
        )
        for r in rows:  # the selector's lineage, tagged with this operator
            r["lineage_json"] = json.dumps(
                {"plan": "add_columns", **json.loads(r["lineage_json"])},
                separators=(",", ":"),
            )
        # existing blobs hardlink across; the merged manifest (source rows
        # re-pointed + new rows), new blobs, then marker
        dst_local.link_partition(src_local, pid, rows=rows, blobs=blobs)
        return summary_batch(rows)

    return map_pid_slices(
        with_pid, n_buckets, sort_cols, list(dict.fromkeys([check_col, *new_cols])),
        backfill_one,
    )
