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
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs import decode_column, decode_u64, encode_u64
from ..plans import prune
from ..plans.manifest import ManifestStore

DELETE_SUMMARY_SCHEMA = "pid long, n_rows long, n_match long, n_new long"

def _match_mask(arr: pa.Array, op: str, val) -> np.ndarray:
    """Boolean match mask for one (column, op, value) predicate — nulls
    never match (SQL semantics)."""
    import pyarrow.compute as pc

    if op in ("startswith", "like_prefix"):
        m = pc.starts_with(arr, pattern=str(val))
    elif op == "in":
        m = pc.is_in(arr, value_set=pa.array(list(val), type=arr.type))
    else:
        try:
            kernel = {
                "==": pc.equal, "=": pc.equal, "!=": pc.not_equal,
                ">": pc.greater, ">=": pc.greater_equal,
                "<": pc.less, "<=": pc.less_equal,
            }[op]
        except KeyError:
            raise ValueError(f"delete_rows: unsupported predicate op {op!r}")
        m = kernel(arr, pa.scalar(val))
    if m.null_count:
        m = m.fill_null(False)
    return np.asarray(m.to_numpy(zero_copy_only=False)).astype(bool)


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


def delete_rows(
    spark: SparkSession, store_root: str, predicates: list[tuple]
) -> dict:
    """Delete every row matching ALL ``predicates`` (conjunctive, the same
    (column, op, value) triples decode_table prunes with). Returns
    {"op_id", "committed", "partitions_touched", "rows_deleted",
    "rows_matched"}; ``committed=False`` means the identical op was already
    applied (replay no-op)."""
    store = ManifestStore(store_root)
    store.check_format()
    committed = store.committed_pids()
    op_id = delete_op_id(predicates, committed)
    marker = os.path.join(store.deletes_dir(), f"_committed_{op_id}")
    if os.path.exists(marker):
        return {
            "op_id": op_id, "committed": False,
            "partitions_touched": 0, "rows_deleted": 0, "rows_matched": 0,
        }
    existing_ops = store.committed_delete_ops()

    # stats pruning on the driver: partitions whose stats prove no row can
    # match write no bitmap
    snap = store.fresh_snapshot()
    _stats, pids, state = prune.plan(store, snap, predicates)
    pred_cols = sorted({p[0] for p in predicates})
    manifests = spark.read.parquet(snap).select("pid", "column", "meta_json").filter(
        F.col("pid").isin(pids[state != prune.EXCLUDED].tolist())
        & F.col("column").isin(pred_cols)
    )

    def scan(batches):
        local = ManifestStore(store_root)
        op_dir = local.deletes_dir(op_id)
        os.makedirs(op_dir, exist_ok=True)
        rows: dict[int, dict[str, str]] = {}
        for batch in batches:
            for row in batch.to_pylist():
                rows.setdefault(int(row["pid"]), {})[row["column"]] = row["meta_json"]
        out = []
        for pid, by_col in rows.items():
            mask = None
            n_phys = None
            for col_name, op, val in predicates:
                meta = json.loads(by_col[col_name])
                n_phys = meta["n"]
                arr = decode_column(local.read_blob(pid, col_name), meta)
                m = _match_mask(arr, op, val)
                mask = m if mask is None else (mask & m)
            if mask is None or not mask.any():
                continue
            prior = np.zeros(n_phys, bool)
            for p in local.delete_bitmap_paths(pid, existing_ops):
                with open(p, "rb") as f:
                    prior |= decode_u64(f.read(), n_phys, 1).astype(bool)
            n_new = int((mask & ~prior).sum())
            blob, _ = encode_u64(mask.astype(np.uint64), width=1)
            # write-ahead into the (unmarked, invisible) op dir; tmp+rename
            # so a racing speculative task never exposes a partial file
            final = os.path.join(op_dir, f"{pid}.bin")
            tmp = final + f".tmp-{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, final)
            out.append(
                {"pid": pid, "n_rows": n_phys, "n_match": int(mask.sum()),
                 "n_new": n_new}
            )
        schema = pa.schema(
            [("pid", pa.int64()), ("n_rows", pa.int64()),
             ("n_match", pa.int64()), ("n_new", pa.int64())]
        )
        yield pa.RecordBatch.from_pylist(out, schema=schema)

    summary = (
        manifests.repartition(spark.sparkContext.defaultParallelism * 2, "pid")
        .mapInArrow(scan, schema=DELETE_SUMMARY_SCHEMA)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("parts"),
            F.sum("n_new").alias("new"),
            F.sum("n_match").alias("match"),
        )
        .first()
    )
    # the job succeeded and every touched partition's bitmap is in place —
    # the marker is the store-level atomic commit point
    committed_now = store.commit_delete_op(op_id, {})
    return {
        "op_id": op_id,
        "committed": committed_now,
        "partitions_touched": int(summary["parts"] or 0),
        "rows_deleted": int(summary["new"] or 0),
        "rows_matched": int(summary["match"] or 0),
    }


def load_delete_mask(
    store: ManifestStore, pid: int, n_phys: int, op_ids: list[str]
) -> np.ndarray | None:
    """OR of ``pid``'s bitmaps across ``op_ids``; None when untouched."""
    paths = store.delete_bitmap_paths(pid, op_ids)
    if not paths:
        return None
    deleted = np.zeros(n_phys, bool)
    for p in paths:
        with open(p, "rb") as f:
            deleted |= decode_u64(f.read(), n_phys, 1).astype(bool)
    return deleted
