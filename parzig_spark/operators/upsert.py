"""UPSERT (MERGE): replace-by-key over immutable blobs — delete bitmaps
for the matched old rows + an append of the new rows, under one
content-derived op.

The Iceberg ``MERGE INTO ... WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED
THEN INSERT`` analog (replace-all-matches semantics), composed entirely
from machinery the store already trusts:

- **match** — one key-column decode with ``include_pid_pos`` joined
  against the update keys (a plain shuffle join, data scale, no driver
  materialization) yields the ``(pid, pos)`` set of stored rows to retire;
- **retire** — tasks write per-partition delete bitmaps into an UNMARKED
  op dir (invisible), exactly like delete_rows;
- **insert** — the updates encode into the same store under a pid
  namespace derived from the op id (the streaming-batch aliasing guard:
  new pids can never collide with committed ones, and a replay lands on
  the same pids and resume-skips);
- **commit** — the op marker (store-level, atomic) makes the deletes
  visible; a snapshot written afterwards gives downstream readers the
  merged view as one version.

Crash/replay: the op id is a pure function of (key columns, update-key
content digest, committed pid set). Replaying an INCOMPLETE op (crash
before the marker, no insert partitions committed yet) derives the same
id and resumes it in place — bitmaps rewritten byte-identical, inserts
resume-skipped, marker re-committed. A replay after the committed set
changed (including by this op's own partial or full inserts) derives a
FRESH op that re-matches the live keys — retiring whatever version is
current and inserting again — so any number of replays converge to the
same final table; superseded op dirs and fully-retired partitions are
gc/compaction fodder. Visibility caveat (documented; Iceberg needs a
metadata swap for the same): a HEAD reader between insert-commit and
op-marker sees both versions of a matched key; snapshot readers never do —
pin with ``decode_table(snapshot=...)`` for full isolation.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.manifest import ManifestStore, claim_namespace
from ..session import task_slots
from .decode import decode_table, manifest_rows
from .delete import DELETE_SUMMARY_SCHEMA, write_bitmap
from .encode import append_pinned


def upsert_op_id(spark_updates_digest: str, key_cols: list[str], committed_pids) -> str:
    """Content-derived op id: same update keys over the same committed set
    → same id (idempotent replay); different updates or later appends → a
    fresh op."""
    payload = json.dumps(
        {
            "keys": list(key_cols),
            "updates": spark_updates_digest,
            "pids": sorted(int(p) for p in committed_pids),
        },
        separators=(",", ":"),
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def upsert_rows(
    spark: SparkSession,
    store_root: str,
    updates: DataFrame,
    key_cols: list[str],
) -> dict:
    """Merge ``updates`` into the store: stored rows whose ``key_cols``
    tuple appears in ``updates`` are retired (all matches — callers wanting
    SQL MERGE's one-match rule enforce key uniqueness upstream), and every
    update row is appended. Returns {"op_id", "committed",
    "partitions_touched", "rows_replaced", "rows_inserted"}.

    ``updates`` must carry every store column (they become full stored
    rows); duplicate keys WITHIN ``updates`` are inserted as-is —
    deduplicate upstream if last-writer-wins is wanted."""
    store = ManifestStore(store_root)
    store.check_format()
    cfg = store.config()
    store_cols = cfg.get("columns") or []
    missing = [c for c in store_cols if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing store columns: {missing}")
    bad_keys = [c for c in key_cols if c not in store_cols]
    if bad_keys:
        raise ValueError(f"key_cols not in store schema: {bad_keys}")
    updates = updates.select(store_cols)

    # one deterministic, order-independent digest pass over the update keys
    # (sum of per-row xxhash64 in a 38-digit accumulator never overflows
    # and never depends on partitioning)
    dig_row = updates.select(
        F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    n_updates = int(dig_row["n"] or 0)
    digest = f"{dig_row['s']}/{n_updates}"
    committed = store.committed_pids()
    op_id = upsert_op_id(digest, key_cols, committed)
    if n_updates == 0 or store.is_delete_op_committed(op_id):
        return {
            "op_id": op_id, "committed": False,
            "partitions_touched": 0, "rows_replaced": 0, "rows_inserted": 0,
        }
    existing_ops = store.committed_delete_ops()

    # ---- match: (pid, pos) of stored rows whose key is being replaced ----
    stored_keys = decode_table(
        spark, store_root, columns=list(key_cols), include_pid_pos=True
    )
    upd_keys = updates.select(key_cols).distinct()
    matches = stored_keys.join(upd_keys, on=list(key_cols), how="left_semi").select(
        F.col("_pid").alias("pid"), F.col("_pos").alias("pos")
    )
    ref_col = store_cols[0]

    def write_bitmaps(batches):
        by_pid: dict[int, list[int]] = {}
        for batch in batches:
            for p, q in zip(batch.column("pid").to_pylist(), batch.column("pos").to_pylist()):
                by_pid.setdefault(p, []).append(q)
        for pid, positions in by_pid.items():
            # the partition's physical row count, from its manifest
            n_phys = manifest_rows(store_root, pid, ["n_values"], [ref_col])[0]["n_values"]
            mask = np.zeros(n_phys, dtype=bool)
            mask[np.asarray(positions, dtype=np.int64)] = True
            yield pa.RecordBatch.from_pylist([write_bitmap(store_root, op_id, pid, mask, existing_ops)])

    summary = (
        matches.repartition(task_slots(spark), "pid")
        .mapInArrow(write_bitmaps, schema=DELETE_SUMMARY_SCHEMA)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("parts"),
            F.sum("n_new").alias("new"),
        )
        .first()
    )

    # ---- insert: append under an op-derived pid namespace ------------------
    namespace = int.from_bytes(
        hashlib.sha256(("upsert:" + op_id).encode()).digest()[:6], "big"
    ) & ((1 << 47) - 1)
    claim_namespace(store_root, namespace, "upsert-" + op_id)
    append_pinned(updates, store_root, cfg, namespace)

    # ---- commit: the op marker retires the old rows atomically -------------
    committed_now = store.seal_delete_op(op_id)
    store.write_snapshot()
    return {
        "op_id": op_id,
        "committed": committed_now,
        "partitions_touched": int(summary["parts"] or 0),
        "rows_replaced": int(summary["new"] or 0),
        "rows_inserted": n_updates,
    }
