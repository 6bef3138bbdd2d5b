"""Row-level deletes: merge-on-read delete bitmaps over immutable blobs.

The capability a 100-TB training-data store cannot live without (takedown /
GDPR erasure, contaminated-shard removal): delete rows matching a predicate
WITHOUT rewriting the content blobs. The Iceberg v2 positional-delete
analog, expressed in this store's own primitives: one RLE width-1 bitmap
per touched partition (the same hybrid lane the engine uses for validity
streams — the reference's def-level encoding,
/root/reference/src/parquet/physical.zig:71-94), grouped under a
content-derived op id and made visible by a single store-level marker.

Atomicity & determinism:

- the op id is a pure function of (predicates, committed pid set), so a
  retried or replayed delete writes byte-identical bitmaps to the same op
  dir and the marker creation (O_EXCL) commits exactly once — a crash
  mid-op leaves an invisible op dir that gc_store reclaims;
- bitmap content is the FULL current match mask (not the increment), so
  bitmaps are idempotent and order-independent: decode ORs every committed
  op's bitmap;
- tasks write their own partitions' bitmaps directly (no driver collect of
  bitmap bytes — the driver only confirms the job and creates the marker).

Readers: decode_table applies all committed ops at head, and exactly the
ops recorded in a snapshot's sidecar for pinned (time-travel) reads — a
snapshot taken before a delete still reproduces the pre-delete view.
Compaction PURGES deletes: rewritten and delete-carrying partitions
materialize the post-delete rows, so the destination store carries no
delete files (the merge-on-read → copy-on-write handoff).
"""

from __future__ import annotations

import hashlib
import json

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..plans import prune
from ..plans.manifest import ManifestStore
from .decode import decoded_schema, map_pids, plan_read, read_pid

DELETE_SUMMARY_SCHEMA = "pid long, n_rows long, n_match long, n_new long"


def delete_op_id(predicates, committed_pids) -> str:
    """Content-derived op id: same predicates over the same committed set →
    same id (idempotent replay); new appends change the set → a fresh op
    that also covers the new partitions."""
    payload = json.dumps(
        {"predicates": [[c, o, v] for c, o, v in predicates],
         "pids": sorted(int(p) for p in committed_pids)},
        separators=(",", ":"),
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def write_bitmap(store_root: str, op_id: str, pid: int, mask, prior_ops) -> dict:
    """Write ``pid``'s bitmap of ``op_id`` (``mask`` over its physical
    rows, True = deleted) write-ahead into the op's unmarked, invisible
    dir, and return its summary row: ``n_new`` counts the rows no op of
    ``prior_ops`` had deleted yet."""
    local = ManifestStore(store_root)
    prior = local.load_delete_mask(pid, len(mask), prior_ops)
    n_match = int(mask.sum())
    n_new = n_match if prior is None else int((mask & ~prior).sum())
    local.write_delete_bitmap(op_id, pid, mask)
    return {"pid": pid, "n_rows": len(mask), "n_match": n_match, "n_new": n_new}


def delete_rows(
    spark: SparkSession, store_root: str, predicates: list[tuple]
) -> dict:
    """Delete every row matching ALL ``predicates`` (conjunctive, the same
    (column, op, value) triples decode_table reads with, matched by the
    same row evaluator — ``plans.prune.row_mask``, SQL semantics — so a
    delete removes exactly the rows a read with those predicates returns).
    A predicate that is not row-exact raises ValueError before any Spark
    job. Returns
    {"op_id", "committed", "partitions_touched", "rows_deleted",
    "rows_matched"}; ``committed=False`` means the identical op was already
    applied (replay no-op)."""
    store = ManifestStore(store_root)
    store.check_format()
    committed = store.committed_pids()
    op_id = delete_op_id(predicates, committed)
    if store.is_delete_op_committed(op_id):
        return {
            "op_id": op_id, "committed": False,
            "partitions_touched": 0, "rows_deleted": 0, "rows_matched": 0,
        }

    # stats pruning on the driver: partitions whose stats prove no row can
    # match write no bitmap. A head plan: existing_ops = every committed op
    _snap, pids, existing_ops = plan_read(store_root, predicates=predicates)
    pred_cols, _ddl, casts = decoded_schema(store, sorted({p[0] for p in predicates}))

    def scan(pid):
        # physical rows (no delete ops, no page skipping) at the decoded
        # types a read compares at
        table = pa.Table.from_batches(list(read_pid(store_root, pid, pred_cols, casts)))
        mask = prune.row_mask(table, predicates)
        if mask.any():
            yield pa.RecordBatch.from_pylist([write_bitmap(store_root, op_id, pid, mask, existing_ops)])

    summary = map_pids(spark, pids, scan, DELETE_SUMMARY_SCHEMA).toArrow()
    # the job succeeded and every touched partition's bitmap is in place —
    # the marker is the store-level atomic commit point
    committed_now = store.seal_delete_op(op_id)
    return {
        "op_id": op_id,
        "committed": committed_now,
        "partitions_touched": summary.num_rows,
        "rows_deleted": int(pc.sum(summary.column("n_new")).as_py() or 0),
        "rows_matched": int(pc.sum(summary.column("n_match")).as_py() or 0),
    }

