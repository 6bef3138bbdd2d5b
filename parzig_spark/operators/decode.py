"""Distributed decode: manifests + blobs → DataFrame, bit-identical.

Mirror of the reference's read path at Spark granularity: the manifest table
is the footer (/root/reference/src/parquet/File.zig:58-91), one Spark task
decodes a run of committed partitions' column chunks
(/root/reference/src/parquet/rowGroupReader.zig:72-290), and the numpy
kernels replace the per-page decode loop. Column pruning works exactly like
the reference's readColumn(index): ask for fewer columns and only those
blobs are opened.

Every store read has one shape, like the reference's footer-then-row-group
split: :func:`plan_read` plans on the driver (view resolution through
:func:`resolve_view`, then the snapshot's stat rows through
:mod:`plans.prune`, the one evaluator every read path shares) and returns
the pids to read; :func:`map_pids` runs one per-pid function over that
list in a single shuffle-free stage of at most one task per core slot;
:func:`read_pid` reads one partition's manifest file and decodes it.
``decode_table``, ``verify_store``, ``aggregate_store``, ``check_store``,
``delete_rows`` and the ``parzig`` data source all read this way. Inside a
partition ``decode_pid_rows`` asks the same module for the surviving pages
of a PAGED store and for the row mask (:func:`plans.prune.row_mask`, SQL
semantics), so a read with predicates returns exactly the matching rows
— callers filter nothing.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

from ..codecs import decode_column
from ..plans import prune
from ..plans.manifest import ManifestStore
from ..session import task_slots

# Spark has no unsigned, half-float, fixed-width binary, 64-bit date or
# time-of-day type, and its timestamps are microseconds: the SURVEY §1.2
# widenings, mirroring the reference's logical reinterpretations at
# /root/reference/src/parquet/logical.zig:138-228 (unsigned widens to the
# next signed type, uint64 to decimal(20,0), times to their integer lane,
# Float16 losslessly to float32). ns→us truncates — the codec-level
# round-trip (decode_column) stays bit-exact in the stored unit.
_WIDEN = {
    pa.uint8(): pa.int16(),
    pa.uint16(): pa.int32(),
    pa.uint32(): pa.int64(),
    pa.uint64(): pa.decimal128(20, 0),
    pa.float16(): pa.float32(),
    pa.date64(): pa.date32(),
    pa.time32("ms"): pa.int32(),
    pa.time64("us"): pa.int64(),
    pa.time64("ns"): pa.int64(),
}


def _arrow_type(meta: dict, target: bool = False) -> pa.DataType:
    """The Arrow type ``decode_column`` produces for this meta or, with
    ``target``, the one a Spark column holds (``_WIDEN`` applied through
    list/map/struct children; the Spark type is ``from_arrow_type`` of
    it)."""
    from ..codecs import dtypes

    codec = meta.get("codec")
    if codec == "paged":
        return _arrow_type(meta["pages"][0]["meta"], target)
    if codec == "list":
        cls = pa.large_list if meta.get("large") else pa.list_
        return cls(_arrow_type(meta["child_meta"], target))
    if codec == "map":
        return pa.map_(
            _arrow_type(meta["keys_meta"], target), _arrow_type(meta["items_meta"], target)
        )
    if codec == "struct":
        return pa.struct(
            [pa.field(n, _arrow_type(cm, target)) for n, cm in zip(meta["fields"], meta["children"])]
        )
    if codec == "decimal":
        t = dtypes.arrow_type(meta["dtype"])
    elif meta.get("fixed"):
        t = pa.binary(meta["fixed"])
    elif meta.get("halffloat"):
        t = pa.float16()
    else:
        t = dtypes.arrow_type(meta["codec_meta"]["dtype"])
    if not target:
        return t
    if pa.types.is_fixed_size_binary(t):
        return pa.binary()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us", t.tz)
    return _WIDEN.get(t, t)


def column_metas(store: ManifestStore, columns=None) -> dict[str, dict]:
    """Column name -> codec meta of ``columns`` (every column when None;
    names the store lacks are left out), in stored column order, read from
    ONE committed partition's manifest file (O(1) driver I/O, never the
    full manifest set). Only the asked-for metas are parsed: dictionary
    and paged metas run to many kilobytes."""
    table = store.read_one_manifest()
    if table is None or table.num_rows == 0:
        raise ValueError(f"no committed partitions in {store.root}")
    first_pid = table.column("pid")[0].as_py()
    rows = table.filter(pa.compute.equal(table.column("pid"), first_pid))
    return {
        r["column"]: json.loads(r["meta_json"])
        for r in rows.select(["column", "meta_json"]).to_pylist()
        if columns is None or r["column"] in columns
    }


def decoded_schema(
    store: ManifestStore, columns: list[str] | None = None
) -> tuple[list[str], str, dict[str, pa.DataType]]:
    """(column order, Spark DDL schema, post-decode Arrow casts) of the
    store's ``columns`` (every column when None)."""
    return schema_of(column_metas(store, columns), columns)


def schema_of(
    metas: dict[str, dict], columns: list[str] | None = None
) -> tuple[list[str], str, dict[str, pa.DataType]]:
    """(column order, Spark DDL schema, post-decode Arrow casts) of
    ``columns`` (every column when None) from :func:`column_metas`."""
    cols, ddl, casts = [], [], {}
    for name, meta in metas.items():
        if columns is not None and name not in columns:
            continue
        cols.append(name)
        target = _arrow_type(meta, target=True)
        ddl.append(f"{name} {from_arrow_type(target).simpleString()}")
        if target != _arrow_type(meta):
            casts[name] = target
    if columns is not None:
        order = {c: i for i, c in enumerate(columns)}
        pairs = sorted(zip(cols, ddl), key=lambda p: order[p[0]])
        cols = [p[0] for p in pairs]
        ddl = [p[1] for p in pairs]
    return cols, ", ".join(ddl), casts


def prune_manifests(manifests: DataFrame, predicates) -> DataFrame:
    """Manifest rows of the pids ``predicates`` cannot exclude — a
    DataFrame adapter over :mod:`plans.prune` for callers that hold a
    snapshot as a DataFrame: its stat rows are collected once and planned
    on the driver. Partition-granular: callers still filter rows."""
    cols = [c for c in ("meta_json", *prune.STAT_COLS) if c in manifests.columns]
    stats = manifests.select(*cols).toArrow()
    keep = prune.survivors(stats, predicates, prune.lanes(stats))
    return manifests.filter(F.col("pid").isin(keep))


def register_store(
    spark: SparkSession,
    store_root: str,
    name: str,
    columns: list[str] | None = None,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
) -> DataFrame:
    """Expose a manifest store to Spark SQL as a temp view — the switch-over
    surface for users of the reference's library API: after
    ``register_store(spark, root, "t")``, plain ``spark.sql("SELECT ... FROM
    t")`` runs over lazily decoded data with column pruning intact.
    ``snapshot``/``since_snapshot`` register a time-travel or incremental
    view under the same SQL surface."""
    df = decode_table(
        spark, store_root, columns, snapshot=snapshot, since_snapshot=since_snapshot
    )
    df.createOrReplaceTempView(name)
    return df


def decode_table(
    spark: SparkSession,
    store_root: str,
    columns: list[str] | None = None,
    predicates: list[tuple] | None = None,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
    pids: list[int] | None = None,
    include_pid_pos: bool = False,
    ref: str | None = None,
) -> DataFrame:
    """Decode committed partitions; returns the reconstructed DataFrame.

    ``pids`` restricts the read to the listed partition ids.

    ``include_pid_pos`` appends ``_pid``/``_pos`` columns — the partition
    id and the row's PHYSICAL index within it (pre-delete, stable across
    page skipping and delete filtering, so ``(_pid, _pos)`` addresses the
    stored row forever). upsert_rows joins on these to build its delete
    bitmaps without a second decode.

    The driver reads ONE manifest file for the schema and plans the pid
    list with :func:`plan_read`; one shuffle-free stage
    (:func:`map_pids`) then runs :func:`read_pid` once per pid.

    ``predicates`` (e.g. ``[("o_orderkey", ">=", 1000)]``) prune whole
    partitions — and, in PAGED stores, pages — via the stored stats
    (min/max, bloom, exact distinct sets) before any blob is opened, and
    the per-pid reader keeps exactly the matching rows (SQL semantics,
    :func:`plans.prune.row_mask`), projected or not. A predicate that
    :func:`plans.prune.row_exact` rejects raises ValueError before any
    Spark job.

    ``snapshot`` pins the read to a historical snapshot version — TIME
    TRAVEL: only partitions committed when that snapshot was written are
    visible, regardless of what landed later (the Iceberg
    ``VERSION AS OF`` analog; partitions are immutable once committed, so
    a snapshot's manifest rows fully describe that version's data).

    ``since_snapshot`` reads the INCREMENTAL delta instead: only partitions
    committed AFTER the given snapshot version (the Iceberg incremental
    append-scan analog — the CDC feed a downstream consumer tails without
    rescanning the store). Combine with ``snapshot`` to bound both ends
    (partitions in ``snapshot`` but not in ``since_snapshot``).

    ``ref`` reads at a NAMED snapshot (a tag or branch created by
    ``operators.refs.create_ref`` — the Iceberg ``VERSION AS OF 'name'``
    analog): it resolves to that ref's pinned version and then behaves
    exactly like ``snapshot=``. Unknown names raise (never a silent
    fallback to head). Mutually exclusive with ``snapshot``.
    """
    _snap, keep, delete_ops = plan_read(
        store_root, snapshot=snapshot, ref=ref, predicates=predicates,
        since_snapshot=since_snapshot, pids=pids,
    )
    cols, ddl, casts = decoded_schema(ManifestStore(store_root), columns)
    if include_pid_pos:
        ddl = f"{ddl}, _pid long, _pos long"

    def decode_one(pid):
        return read_pid(
            store_root, pid, cols, casts, predicates=predicates,
            delete_ops=delete_ops, include_pid_pos=include_pid_pos,
        )

    return map_pids(spark, keep, decode_one, ddl)


def resolve_view(store: ManifestStore, snapshot: int | None = None, ref: str | None = None):
    """(pinned version or None, snapshot path, delete ops) of the view a
    read sees — the one place ``ref``/``snapshot`` resolve.

    ``ref`` resolves to its pinned version and is exclusive with
    ``snapshot``. A pinned read uses that snapshot and exactly the delete
    ops its sidecar recorded (a snapshot taken before a delete reproduces
    the pre-delete view). A head read uses ``store.fresh_snapshot()`` and
    every committed op: a fresh snapshot can predate the newest delete op
    (sealing is pid-set-driven), so the head never reads the sidecar. The
    op list is resolved once, so one query sees one consistent delete set
    even if ops commit mid-run."""
    store.check_format()
    if ref is not None:
        if snapshot is not None:
            raise ValueError("pass either ref= or snapshot=, not both")
        from .refs import resolve_ref

        snapshot = resolve_ref(store.root, ref)
    if snapshot is None:
        return None, store.fresh_snapshot(), store.committed_delete_ops()
    snapshot = int(snapshot)
    return snapshot, store.snapshot_path(snapshot), store.snapshot_delete_ops(snapshot)


def plan_read(
    store_root: str,
    snapshot: int | None = None,
    ref: str | None = None,
    predicates: list[tuple] | None = None,
    since_snapshot: int | None = None,
    pids: list[int] | None = None,
) -> tuple[str, list[int], list[str]]:
    """The driver plan of every store read: (snapshot path, sorted pids to
    read, delete ops). The view comes from :func:`resolve_view`; the
    predicates must be row-exact (``prune.check_rows``); the pids are the
    snapshot's ``prune.plan`` survivors, minus the pids already visible at
    ``since_snapshot``, intersected with ``pids``."""
    store = ManifestStore(store_root)
    _version, snap, delete_ops = resolve_view(store, snapshot, ref)
    metas = column_metas(store, {c for c, _op, _v in predicates}) if predicates else {}
    prune.check_rows({c: _arrow_type(m, target=True) for c, m in metas.items()}, predicates)
    _stats, all_pids, state = prune.plan(
        snap, predicates, {c: prune.lane(m) for c, m in metas.items()}
    )
    keep = set(all_pids[state != prune.EXCLUDED].tolist())
    if since_snapshot is not None:
        keep -= store.snapshot_pids(since_snapshot)
    if pids is not None:
        keep &= {int(p) for p in pids}
    return snap, sorted(keep), delete_ops


def manifest_rows(store_root: str, pid: int, fields: list[str], columns=None) -> list[dict]:
    """``fields`` of one partition's manifest rows (one row per stored
    column), limited to ``columns`` when given."""
    path = ManifestStore(store_root).manifest_path(pid)
    rows = pq.read_table(path, columns=["column", *fields]).to_pylist()
    return [r for r in rows if columns is None or r["column"] in columns]


def read_pid(
    store_root: str,
    pid: int,
    cols: list[str],
    casts: dict,
    predicates: list[tuple] | None = None,
    delete_ops: "list[str] | tuple" = (),
    include_pid_pos: bool = False,
):
    """Decoded Arrow batches of one partition's rows that match
    ``predicates`` and no delete op — the per-pid reader behind
    ``decode_table``, ``aggregate_store``, ``check_store``, ``delete_rows``
    and both ``parzig`` data-source readers. Reads the partition's manifest
    rows for ``cols`` plus the predicate columns (whose page stats and
    values decide the rows even when not projected), then runs
    :func:`decode_pid_rows`."""
    need = set(cols) | {p[0] for p in predicates or []}
    by_col = {r["column"]: r for r in manifest_rows(store_root, pid, ["meta_json"], need)}
    return decode_pid_rows(
        store_root, {pid: by_col}, cols, casts, predicates=predicates,
        delete_ops=delete_ops, include_pid_pos=include_pid_pos,
    )


def deal_pids(pids: list[int], slots: int) -> list[tuple[int, ...]]:
    """``pids`` sorted and dealt into ``min(len(pids), slots)`` contiguous
    runs whose lengths differ by at most one — the task split of every
    per-pid stage (:func:`map_pids` and the ``parzig`` data source), so one
    wave of ``slots`` tasks covers each pid exactly once."""
    pids = sorted(int(p) for p in pids)
    n, k = len(pids), max(1, min(len(pids), slots))
    return [tuple(pids[i * n // k : (i + 1) * n // k]) for i in range(k)] if n else []


def map_pids(spark: SparkSession, pids: list[int], per_pid, schema: str) -> DataFrame:
    """Run ``per_pid(pid) -> Iterator[pa.RecordBatch]`` over ``pids`` in one
    shuffle-free stage of at most ``session.task_slots`` tasks, each
    reading one :func:`deal_pids` run in pid order: ``spark.range`` over
    the run indexes, one index per task. No manifest rows cross the JVM
    boundary and no ``Exchange`` is planned."""
    runs = deal_pids(pids, task_slots(spark))

    def run(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for pid in runs[i]:
                    yield from per_pid(pid)

    return spark.range(len(runs), numPartitions=max(1, len(runs))).mapInArrow(run, schema=schema)


def decode_pid_rows(
    store_root: str,
    rows: "dict[int, dict[str, dict]]",
    cols: list[str],
    casts: dict,
    predicates: list[tuple] | None = None,
    delete_ops: "list[str] | tuple" = (),
    include_pid_pos: bool = False,
):
    """Decode partitions from their manifest rows — the worker-side kernel
    behind :func:`read_pid`. ``rows`` maps pid -> column -> manifest row
    dict (pid/column/meta_json). Yields Arrow RecordBatches (never pandas)
    of exactly the rows matching every predicate and no delete op, in
    ``cols`` order (+ _pid/_pos when requested). Per partition:

    1. in a PAGED store only the sections whose page entries can satisfy
       every predicate (plans.prune.page_survivors) are read: paged
       columns read just those byte ranges (read_blob_ranges), unpaged
       columns decode whole and slice the same row ranges (the shared
       value stride gives every column the same page boundaries);
    2. the predicate columns decode first; their row mask
       (plans.prune.row_mask, at each column's decoded Spark type) ANDs
       with the delete keep-mask;
    3. if no row is left the other columns stay encoded; otherwise the
       mask applies once to every column and to ``_pos``, the PHYSICAL
       row index, so ``(_pid, _pos)`` keeps addressing the stored row.
    """
    import numpy as np

    from ..codecs import page_byte_ranges, page_row_ranges

    local = ManifestStore(store_root)
    pred_cols = list(dict.fromkeys(c for c, _op, _v in predicates or []))
    for pid, by_col in rows.items():
        metas = {name: json.loads(r["meta_json"]) for name, r in by_col.items()}
        survivors, ref_paged = prune.page_survivors(metas, predicates or [])
        if survivors == []:
            continue  # no section of this partition can match
        n_phys = next(iter(metas.values()))["n"]
        ranges = [(0, n_phys)] if survivors is None else page_row_ranges(ref_paged, survivors)
        keep = np.ones(sum(ln for _off, ln in ranges), bool)
        if delete_ops:
            # merge-on-read deletes: this pid's bitmaps ORed across the
            # query's delete-op set, sliced to the surviving row ranges
            deleted = local.load_delete_mask(pid, n_phys, delete_ops)
            if deleted is not None:
                keep &= ~np.concatenate([deleted[off : off + ln] for off, ln in ranges])
        decoded = {}

        def column(name):
            if name not in decoded:
                meta = metas[name]
                if survivors is not None and meta.get("codec") == "paged":
                    blobs = local.read_blob_ranges(pid, name, page_byte_ranges(meta, survivors))
                    arr = pa.chunked_array(
                        [decode_column(b, meta["pages"][i]["meta"]) for b, i in zip(blobs, survivors)]
                    ).combine_chunks()
                else:
                    arr = decode_column(local.read_blob(pid, name), meta)
                    if survivors is not None:
                        arr = pa.chunked_array(
                            [arr.slice(off, ln) for off, ln in ranges]
                        ).combine_chunks()
                cast_to = casts.get(name)
                decoded[name] = arr if cast_to is None else arr.cast(cast_to, safe=False)
            return decoded[name]

        if pred_cols and keep.any():
            typed = {c: column(c).cast(_arrow_type(metas[c], target=True), safe=False) for c in pred_cols}
            keep &= prune.row_mask(pa.table(typed), predicates)
        if not keep.any():
            continue  # nothing matches: the other columns stay encoded
        out = {name: column(name) for name in cols}
        if include_pid_pos:
            pos = np.concatenate([np.arange(off, off + ln, dtype=np.int64) for off, ln in ranges])
            out["_pid"] = pa.array(np.full(len(pos), pid, dtype=np.int64))
            out["_pos"] = pa.array(pos)
        if not keep.all():
            mask = pa.array(keep)
            out = {name: arr.filter(mask) for name, arr in out.items()}
        yield from pa.table(out).to_batches(max_chunksize=8192)
