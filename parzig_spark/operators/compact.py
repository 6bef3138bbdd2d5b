"""Store maintenance: partition compaction and orphan-blob GC.

The 100-TB operational gap the encode/decode pair leaves open: a store fed
by many small encode jobs (streaming micro-batches, incremental backfills)
accumulates thousands of under-sized partitions, and every decode then pays
per-partition fixed costs (task schedule, manifest row, blob open, outer
decompress) out of proportion to the bytes moved. Compaction is the
Iceberg ``rewrite_data_files`` analog over our manifest store; GC is
``remove_orphan_files``. The reference has no write path at all, so there
is nothing to cite beyond the store layout both operators maintain (the
ColumnMetaData analog, /root/reference/src/generated/parquet.zig:382-419).

Scale shape: NO shuffle anywhere. The plan is pure driver arithmetic over
the manifest summary (bytes per pid — KBs even at 10^12 files via the
snapshot), and the rewrite is an embarrassingly parallel map over the
group indexes (``map_pids``: at most one task per core slot, each
rewriting a run of groups): a merge group reads only its own source blobs,
re-encodes, and commits one destination partition. Wall-clock scales with
bytes rewritten / executors, exactly like the encode job itself.

No step has a compaction-only copy: a merge group decodes through the read
path (``manifest_rows`` + ``decode_pid_rows``, which also applies the
delete bitmaps being purged), its manifest rows — stats, digests, blooms,
distinct sets — come from encode_table's ``encode_partition_arrays`` with
the source codecs as the plan, and passthrough partitions link and commit
through ``ManifestStore.link_partition``. A compacted partition's stats are
therefore exactly the ones an encode of the same rows would record, which
is what metadata-answered aggregates rely on.

Determinism/resume: a merge group's destination pid is a pure function of
its sorted source pids (content-derived themselves), rows are re-sorted by
the store's canonical sort_cols before encoding, and the destination commit
is the same first-marker-wins protocol — so retries rewrite byte-identical
blobs and a resumed compaction skips committed groups before reading any
blob.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..plans.manifest import FORMAT_VERSION, ManifestStore
from ..session import arrow_frame
from .decode import _arrow_type, decode_pid_rows, manifest_rows, map_pids
from .encode import SUMMARY_ARROW, SUMMARY_SCHEMA, encode_partition_arrays, summary_batch


def _dst_pid(src_pids: list[int]) -> int:
    """Destination pid for a merge group: pure function of the (sorted)
    source pids, which are themselves content-derived — so compaction
    preserves the store invariant that pids never depend on task ids,
    parallelism, or wall clock (CLAUDE.md)."""
    h = hashlib.sha256(json.dumps(sorted(int(p) for p in src_pids)).encode()).digest()
    return int.from_bytes(h[:8], "big") & ((1 << 62) - 1)


def _zorder_indices(table: pa.Table, zorder_cols: list[str]) -> pa.Array:
    """Row order interleaving the bits of the given columns' RANKS — the
    Iceberg ``rewrite_data_files(strategy => 'zorder')`` analog: after the
    rewrite, pages are Morton-curve tiles of the k-dimensional value
    space, so per-page [min, max] stats stay tight on EVERY z-ordered
    column and a selective predicate on any one of them skips most pages
    (a linear sort only ever serves its leading column).

    Ranks (dense, via np.unique inverse) rather than raw values: the curve
    is then skew- and scale-invariant — a column with values {1, 2, 10^9}
    tiles as evenly as {1, 2, 3}. Nulls rank lowest. Each column gets
    64 // k bits of the interleaved key; ranks wider than that are
    right-shifted first (coarser tiles, still a valid curve). Pure numpy,
    O(n log n) per rewrite group, no driver involvement."""
    import numpy as np

    k = len(zorder_cols)
    bits = 64 // k
    rank_arrs = []
    for name in zorder_cols:
        col = table.column(name)
        arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        mask = np.asarray(arr.is_null().to_numpy(zero_copy_only=False), dtype=bool)
        vals = arr.to_numpy(zero_copy_only=False)
        ranks = np.zeros(len(vals), dtype=np.uint64)
        if (~mask).any():
            valid = vals[~mask]
            _, inv = np.unique(valid, return_inverse=True)
            # nulls occupy rank 0; real values start at 1
            ranks[~mask] = inv.astype(np.uint64) + 1
            width = int(ranks.max()).bit_length()
            if width > bits:
                ranks >>= width - bits
        rank_arrs.append(ranks)
    key = np.zeros(len(table), dtype=np.uint64)
    for b in range(bits):
        for j, ranks in enumerate(rank_arrs):
            key |= ((ranks >> np.uint64(b)) & np.uint64(1)) << np.uint64(b * k + j)
    return pa.array(np.argsort(key, kind="stable"))


def plan_compaction(
    store: ManifestStore, target_bytes: int = 64 << 20
) -> list[list[int]]:
    """Greedy bin-pack of committed partitions into merge groups.

    Driver cost is O(partitions) over the manifest snapshot's (pid,
    raw_bytes) summary — KBs per million partitions, no blob I/O. Packing
    key is RAW bytes (decoded size bounds the rewrite task's memory, and it
    is the same unit encode_table targets). Partitions already at ≥ half
    the target stay untouched (rewriting them buys nothing), matching the
    ``min-input-files``-style guard of Iceberg's rewrite action. Groups are
    built over ascending pids, so the plan is deterministic for a given
    committed set."""
    m = store.read_manifests()
    if m.num_rows == 0:
        return []
    per_pid: dict[int, int] = {}
    for pid, nbytes in zip(
        m.column("pid").to_pylist(), m.column("raw_bytes").to_pylist()
    ):
        per_pid[int(pid)] = per_pid.get(int(pid), 0) + int(nbytes or 0)
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_bytes = 0
    for pid in sorted(per_pid):
        b = per_pid[pid]
        if b >= target_bytes // 2:
            continue  # already big enough — leave in place
        if cur and cur_bytes + b > target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(pid)
        cur_bytes += b
    if cur:
        groups.append(cur)
    # a group of one small partition still rewrites into the destination
    # store (compaction's contract: dst holds EVERY source row), but two
    # stores sharing no partitions is the common outcome worth noting in
    # the summary rather than skipping here.
    return groups


def compact_store(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    target_bytes: int = 64 << 20,
    resume: bool = True,
    outer: str | None = "auto",
    sort_cols: list[str] | None = None,
    page_values: int | None = None,
    zorder_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite ``src_root``'s under-sized partitions into ``dst_root``.

    Returns the per-column summary DataFrame (same schema as encode_table);
    materializing it runs the job. Partitions already ≥ target/2 raw bytes
    are copied through blob-for-blob (no re-encode — their bytes are
    already the right shape), so ``dst_root`` always holds the complete
    row set of ``src_root`` and can be decoded/verified standalone.

    ``sort_cols`` overrides the canonical in-partition order for REWRITTEN
    partitions and ``page_values`` stores them in the PAGED layout — the
    Iceberg ``rewrite_data_files(strategy => 'sort')`` analog at page
    granularity: ordering cannot change a PARTITION's [min, max] envelope
    (membership does that — re-cluster across partitions by re-encoding
    with different group_cols), but inside a partition it concentrates
    each value range into few pages, so per-page stats/bloom skipping on
    the sorted column reads far fewer sections. Default keeps the source
    store's order and unpaged layout.

    ``zorder_cols`` instead orders rewritten rows along a Morton curve
    over the given columns' ranks (``strategy => 'zorder'``): pages become
    k-dimensional tiles, so per-page pruning works on EVERY listed column
    — the right rewrite when queries filter on more than one axis (a
    linear sort serves only its leading column). Mutually exclusive with
    ``sort_cols``; pair with ``page_values``.
    """
    if zorder_cols is not None:
        if sort_cols:
            raise ValueError("zorder_cols and sort_cols are mutually exclusive")
        if len(zorder_cols) < 2:
            raise ValueError("zorder_cols needs >= 2 columns (use sort_cols for 1)")
    src = ManifestStore(src_root)
    src.check_format()
    src_config, sort_cols, groups, delete_ops = _plan_rewrite(
        src, target_bytes, sort_cols, zorder_cols
    )
    passthrough = sorted(src.committed_pids() - {p for g in groups for p in g})

    dst = ManifestStore(dst_root)
    dst.ensure_config(
        {
            "format": FORMAT_VERSION,
            "compacted_from": {
                k: src_config.get(k)
                for k in ("group_cols", "salt_cols", "sort_cols", "columns")
            },
            "target_bytes": target_bytes,
            "columns": src_config.get("columns"),
            "sort_cols": sort_cols,
            **({"zorder_cols": zorder_cols} if zorder_cols else {}),
            **({"page_values": page_values} if page_values else {}),
        }
    )

    # Passthrough partitions: blob-for-blob hardlink/copy + manifest reuse,
    # blob_file re-pointed at the destination store. Driver-side file ops
    # bounded by partition count (not bytes — hardlink when the stores
    # share a filesystem).
    for pid in passthrough:
        dst.link_partition(src, pid)

    work = groups
    if resume:
        work = [g for g in groups if not dst.is_committed(_dst_pid(g))]

    if not work:
        return arrow_frame(spark, [], SUMMARY_ARROW)

    return _rewrite_groups_job(
        spark, src_root, dst_root, work, src_config, delete_ops,
        sort_cols, zorder_cols, outer, page_values, commit=True,
    )


def _plan_rewrite(store, target_bytes, sort_cols, zorder_cols):
    """(store config, sort_cols, merge groups, committed delete ops) of a
    compaction of ``store`` — the one planner behind compact_store and
    rewrite_store. ``sort_cols`` defaults to the store's own unless a
    z-order is asked for. Any partition carrying a committed delete
    bitmap must be REWRITTEN, since the rewrite filters deleted rows out,
    never passed through blob-for-blob (the merge-on-read → copy-on-write
    handoff), so each one plan_compaction left out becomes a group of its
    own."""
    config = store.config()
    if sort_cols is None and zorder_cols is None:
        sort_cols = config.get("sort_cols")
    groups = plan_compaction(store, target_bytes)
    grouped = {p for g in groups for p in g}
    delete_ops = store.committed_delete_ops()
    purge = {pid for pid in store.committed_pids() if store.delete_bitmap_paths(pid, delete_ops)}
    groups += [[pid] for pid in sorted(purge - grouped)]
    return config, sort_cols or [], groups, delete_ops


def _rewrite_groups_job(
    spark, src_root, dst_root, work, src_config, delete_ops,
    sort_cols, zorder_cols, outer, page_values, commit,
):
    """Rewrite each merge group of ``work`` through :func:`map_pids` over
    the group indexes (one shuffle-free stage of at most ``task_slots``
    tasks; bytes move only within each task): decode the group's source
    partitions through the read path (deleted rows purged), canonical
    re-sort/z-order, re-encode into the destination pid with the codecs
    the source chose. ``commit=False`` stages the destination partitions
    WITHOUT markers — the in-place rewrite's invisible first phase
    (rewrite_store flips markers on the driver)."""

    def rewrite_one(pids: list[int]) -> pa.RecordBatch:
        new_pid = _dst_pid(pids)
        dst_local = ManifestStore(dst_root)
        if dst_local.is_committed(new_pid):
            return summary_batch(
                [{"pid": new_pid, "column": "", "codec": "", "n_values": 0,
                  "raw_bytes": 0, "enc_bytes": 0, "encode_s": 0.0}],
                committed=False,
            )
        table, codec_plan = _group_table(src_root, pids, src_config, delete_ops)
        if zorder_cols and all(c in table.column_names for c in zorder_cols):
            table = table.take(_zorder_indices(table, zorder_cols))
        else:
            usable_sort = [c for c in sort_cols if c in table.column_names]
            if usable_sort:
                table = table.sort_by([(c, "ascending") for c in usable_sort])
        lineage = json.dumps(
            {"plan": "compaction", "src_pids": pids}, separators=(",", ":")
        )
        rows, blobs = encode_partition_arrays(
            dst_root, new_pid, table, table.column_names, outer=outer,
            codec_plan=codec_plan,
            plan_lineage=dict.fromkeys(table.column_names, lineage),
            page_values=page_values,
        )
        dst_local.write_partition(new_pid, rows, blobs, commit=commit)
        return summary_batch(rows)

    def rewrite(i):
        yield rewrite_one(sorted(work[i]))

    return map_pids(spark, range(len(work)), rewrite, SUMMARY_SCHEMA)


def _group_table(src_root, pids, src_config, delete_ops):
    """(rows of the merge group ``pids`` in ascending-pid order with
    ``delete_ops`` applied, column -> codec of the lowest source pid). The
    table-level sampled plan made codecs uniform across pids, so the
    rewrite keeps the source's choice instead of re-running the selector.
    A group whose rows are all deleted yields an empty table: its
    destination pid is still staged, since rewrite_store's flip commits
    every group's destination."""
    by_pid = {
        pid: {r["column"]: r for r in manifest_rows(src_root, pid, ["codec", "meta_json"])}
        for pid in pids
    }
    first = by_pid[pids[0]]
    columns = src_config.get("columns") or sorted(first)
    batches = list(decode_pid_rows(src_root, by_pid, columns, {}, delete_ops=delete_ops))
    if batches:
        table = pa.Table.from_batches(batches).combine_chunks()
    else:
        metas = {c: json.loads(first[c]["meta_json"]) for c in columns}
        table = pa.table({c: pa.array([], _arrow_type(m)) for c, m in metas.items()})
    return table, {c: first[c]["codec"] for c in columns}


def repair_rewrites(root: str) -> int:
    """Finish any crashed in-place rewrite flip: for every intent group
    whose destination marker landed but whose source markers survive, the
    crash hit the per-group marker surgery window — remove the sources
    (the destination provably holds their rows: its staging completed
    before any flip began). Groups whose destination never committed were
    never flipped and stay pending (re-running rewrite_store redoes them
    from byte-identical staging). Returns the number of groups repaired."""
    store = ManifestStore(root)
    fixed = 0
    for rec in store.rewrite_records():
        for g in rec["groups"]:
            if store.is_committed(int(g["dst"])):
                fixed += sum(store.retire_partition(int(s)) for s in g["src"])
    return fixed


def rewrite_store(
    spark: SparkSession,
    root: str,
    target_bytes: int = 64 << 20,
    outer: str | None = "auto",
    sort_cols: list[str] | None = None,
    page_values: int | None = None,
    zorder_cols: list[str] | None = None,
) -> dict:
    """IN-PLACE compaction — the Iceberg ``rewrite_data_files`` COMMIT
    semantics over one store (compact_store's cross-root rewrite keeps the
    source untouched; this one advances the store itself):

    1. **Stage (distributed, invisible)**: each merge group re-encodes into
       its content-derived destination pid inside THIS store, WITHOUT a
       commit marker — readers keep the pre-rewrite view throughout.
       Merge-on-read delete bitmaps purge during the rewrite, exactly like
       compact_store.
    2. **Intent (driver, durable)**: the full src→dst mapping plus the
       delete ops it purged lands in ``{root}/rewrites/`` (tmp+rename)
       BEFORE any marker moves — the changelog/stream CDC-silence proof
       and the crash-repair log.
    3. **Flip (driver, marker surgery)**: per group, commit the
       destination, then retire the sources; a crash inside one group's
       window is healed by :func:`repair_rewrites` (run automatically at
       the start of every rewrite). Same single-driver maintenance
       discipline as rollback_store.
    4. **Seal**: ``write_snapshot`` records the post-rewrite view; the
       purged delete ops stay committed but now target only retired pids
       (no-ops) until gc.

    Returns ``{"groups", "rewritten_pids", "dst_pids", "snapshot"}``.
    A later ``changes_table`` / readStream window spanning this rewrite
    reports ZERO rows for it (pure rewrites are CDC-silent, like Iceberg).
    """
    store = ManifestStore(root)
    store.check_format()
    repair_rewrites(root)
    config, sort_cols, groups, delete_ops = _plan_rewrite(
        store, target_bytes, sort_cols, zorder_cols
    )
    if not groups:
        snap = store.write_snapshot()
        return {"groups": 0, "rewritten_pids": [], "dst_pids": [],
                "snapshot": snap}

    # phase 1: stage invisibly (skip groups a finished flip already owns)
    work = [g for g in groups if not store.is_committed(_dst_pid(g))]
    if work:
        _rewrite_groups_job(
            spark, root, root, work, config, delete_ops,
            sort_cols, zorder_cols, outer, page_values, commit=False,
        ).count()

    # phase 2: durable intent before any marker moves
    mapping = [
        {"dst": _dst_pid(g), "src": sorted(int(p) for p in g)} for g in groups
    ]
    store.write_rewrite_record({"groups": mapping, "purged_ops": sorted(delete_ops)})

    # phase 3: flip each group (dst marker, then retire sources)
    for g in mapping:
        store.commit_partition(int(g["dst"]))
        for s in g["src"]:
            store.retire_partition(int(s))
    snap = store.write_snapshot()
    return {
        "groups": len(mapping),
        "rewritten_pids": sorted(p for g in mapping for p in g["src"]),
        "dst_pids": sorted(g["dst"] for g in mapping),
        "snapshot": snap,
    }


def gc_store(root: str, min_age_s: float = 0.0, keep_snapshots: int = 0) -> dict:
    """Remove artifacts no committed partition references — the
    ``remove_orphan_files`` analog. Orphans exist by design: a task killed
    between blob write and marker creation leaves an invisible (never
    decoded) but space-consuming partition dir; speculative duplicates
    leave ``.tmp-*`` files; snapshot compaction leaves superseded
    snapshots.

    ``min_age_s`` guards in-flight work in production (an encode job's
    partitions are uncommitted until their marker lands): only artifacts
    older than this are touched. Tests pass 0.

    ``keep_snapshots`` is a retention horizon: keep that many of the
    newest SUPERSEDED snapshots (ref-pinned ones survive regardless) so
    time-travel readers and readStream checkpoints that lag the head —
    a stream's next micro-batch diffs against its last COMMITTED version
    (sources/datasource.py ParzigStreamReader.partitions) — still find
    their snapshot. Streams that pass ``streamId`` pin themselves with a
    branch ref instead; this horizon is the defense for ones that don't
    (Iceberg ``expire_snapshots(retain_last=N)`` analog).

    The file walk is ``ManifestStore.reclaim``: a driver-side listdir of
    the blob/manifest dirs — O(partitions); at real scale this runs as a
    periodic maintenance job exactly like Iceberg's.
    Returns counts: {"orphan_dirs", "orphan_manifests", "tmp_files",
    "old_snapshots", "bytes_reclaimed"}.
    """
    store = ManifestStore(root)
    # Refs pin liveness (Iceberg expire_snapshots semantics): a tagged or
    # branched snapshot version keeps its snapshot file AND every artifact
    # it references — partitions (blob dir + manifest) and delete ops —
    # alive until the ref is dropped, even when the head view has retired
    # them (rollback/compaction). Plain time-travel reads of UNPINNED old
    # versions remain best-effort-until-gc, as documented.
    from .refs import pinned_versions

    pinned = pinned_versions(root)
    live_pids = store.committed_pids()
    live_ops = set(store.committed_delete_ops())
    for version in pinned:
        try:
            live_pids |= store.snapshot_pids(version)
            live_ops |= set(store.snapshot_delete_ops(version))
        except ValueError:
            # ref at an already-reclaimed snapshot (pre-refs gc): nothing
            # left to pin — the ref is dangling and harmless
            pass
    return store.reclaim(live_pids, live_ops, pinned, min_age_s, keep_snapshots)
