"""Distributed encode: DataFrame → per-partition column blobs + manifests.

The Spark translation of the reference's (single-threaded) column-chunk
write path it never had: partitions play row groups
(/root/reference/src/parquet/File.zig:93-95), one encoded blob per
(partition, column) plays the column chunk, and the manifest row plays
ColumnMetaData. Everything heavy runs inside one vectorized ``mapInArrow`` pass — no
per-row Python, no pandas object churn, no driver collect of data.

Skew handling (north rule): partition ids are salted content-derived
hashes. A first lightweight aggregation measures bytes per (repo, lang)
group; groups bigger than the target partition size get a per-row salt
``pmod(xxhash64(salt_cols), nsalt)`` so one giant repo fans out over many
partitions, while small groups stay whole for dictionary/FSST locality. The
physical shuffle is ``repartition(k, pid)`` with ``k = min(n_buckets,
task_slots)`` — one wave of tasks, each streaming its pids one after the
other — hash, not range, because a partition id must never straddle two
tasks (range boundaries can split only between distinct sort keys, but the
atomic manifest commit needs the guarantee per bucket, and hash-on-pid
gives it exactly). The task count never reaches a pid, a row order or a
blob: those stay pure functions of the data.

Idempotence under retries (SURVEY.md §7 hard-part (d)): pid is derived from
data, rows are canonically sorted before encoding, and the manifest commit
is first-marker-wins — a speculative duplicate task rewrites byte-identical
blobs and then no-ops.

The write steps live here once and every partition writer shares them:
``encode_partition_arrays`` builds a partition's manifest rows and blobs
(encode_table, the ``parzig`` data-source writer, compaction and
add_columns), ``summary_batch`` reports them, and ``skip_committed`` +
``map_pid_slices`` are the resume filter and pid shuffle of encode_table
and add_columns.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from ..codecs import dtypes, encode_column
from ..plans.manifest import FORMAT_VERSION, ManifestStore
from ..selector import choose_codec
from ..session import arrow_frame, task_slots

SUMMARY_SCHEMA = (
    "pid long, column string, codec string, n_values long, raw_bytes long, "
    "enc_bytes long, encode_s double, committed boolean"
)
SUMMARY_ARROW = pa.schema(
    [
        ("pid", pa.int64()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("encode_s", pa.float64()),
        ("committed", pa.bool_()),
    ]
)

# rows of the driver-side sample each column's codec is chosen from
_PLAN_SAMPLE_ROWS = 8192


def column_digest(arr: pa.Array) -> str:
    """Canonical sha256 of a column's logical content (order-sensitive).

    Hash input bytes are identical to the original ``.tobytes()``
    formulation (same little-endian lanes in the same order), but every
    buffer feeds ``hashlib`` directly via the buffer protocol — the
    intermediate copies used to cost more per byte than the hash itself
    (digest was the single largest per-byte CPU term in the encode task)."""
    h = hashlib.sha256()
    if arr.null_count:
        h.update(np.ascontiguousarray(np.asarray(arr.is_null())))
        arr = arr.drop_null()
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        h.update(
            np.ascontiguousarray(
                arr.value_lengths().to_numpy(zero_copy_only=False).astype("<i8", copy=False)
            )
        )
        h.update(column_digest(arr.flatten()).encode())
    elif pa.types.is_map(t):
        # Hash per-entry lengths (np.diff of offsets), not raw offsets — a
        # sliced-but-logically-equal map array must digest identically to its
        # decoded (rebased-offset) twin, mirroring the list branch.
        offsets = np.asarray(arr.offsets.to_numpy(zero_copy_only=False)).astype(
            "<i8", copy=False
        )
        h.update(np.ascontiguousarray(np.diff(offsets)))
        h.update(column_digest(arr.keys).encode())
        h.update(column_digest(arr.items).encode())
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            h.update(t.field(i).name.encode())
            h.update(column_digest(arr.field(i)).encode())
    elif pa.types.is_decimal128(t):
        lo, hi = dtypes.decimal_lanes(arr)
        h.update(np.ascontiguousarray(lo))
        h.update(np.ascontiguousarray(hi))
    elif pa.types.is_fixed_size_binary(t):
        w = t.byte_width
        raw = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
        h.update(np.ascontiguousarray(raw[arr.offset * w : (arr.offset + len(arr)) * w]))
    else:
        token = dtypes.dtype_token(t)
        if dtypes.is_string_like(token):
            lengths, data = dtypes.string_buffers(arr)
            h.update(np.ascontiguousarray(lengths.astype("<i8", copy=False)))
            h.update(np.ascontiguousarray(data))
        else:
            h.update(np.ascontiguousarray(dtypes.to_physical(arr)))
    return h.hexdigest()


# Stat kernels live with the codecs (the paged layout computes per-page
# stats there); re-exported here for the established import surface.
from ..codecs.stats import STR_STAT_CHARS as _STR_STAT_CHARS  # noqa: F401
from ..codecs.stats import column_agg_stats, column_bloom, column_distinct, column_minmax, string_upper_bound  # noqa: F401


def pid_base(pid_namespace: int | None, bucket_bits: int) -> int:
    """The first pid of ``pid_namespace``: its buckets are the pids
    ``[pid_base, pid_base + n_buckets)`` (from 0 without a namespace)."""
    if pid_namespace is None:
        return 0
    return (pid_namespace & ((1 << (63 - bucket_bits)) - 1)) << bucket_bits


def plan_partitions(
    df: DataFrame,
    group_cols: list[str],
    salt_cols: list[str],
    target_bytes: int = 64 << 20,
    size_col: str | None = None,
    pid_namespace: int | None = None,
    bucket_bits: int = 24,
    broadcast_group_limit: int = 65536,
) -> tuple[DataFrame, int]:
    """Attach a deterministic, skew-defused partition id column ``pid``.

    Two-sided balancing in one sizing pass (column-pruned aggregation, all
    remaining arithmetic Catalyst expressions):

    - **skew (giant groups)**: any (group_cols) group larger than
      ``target_bytes`` gets a per-row salt ``pmod(xxhash64(salt_cols),
      nsalt)`` so one giant repo fans out over ~nsalt partitions;
    - **fragmentation (tiny groups)**: pid = xxhash64(group, salt) is then
      bucketed modulo ``n_buckets = max(1, total/target)``, so
      thousands of small groups pack into byte-bounded partitions instead of
      paying per-partition encode/manifest overhead each (at 10^12 files the
      group count is ~repos×langs — far above any sane partition count).

    ``pid_namespace`` folds a caller-supplied dataset fingerprint into the
    high pid bits ((63 - bucket_bits)-bit namespace ``<<`` bucket_bits-bit
    bucket) so independent datasets encoded into one store (streaming
    micro-batches) can never collide on pid: without it, a later batch whose
    buckets alias committed pids would be silently anti-joined away on
    resume. Callers with few buckets per dataset (micro-batches) should
    shrink ``bucket_bits`` to widen the namespace.

    Scale path: group sizing stays fully distributed. Only when the group
    count is at most ``broadcast_group_limit`` is the salt table collected
    as Arrow and its salted groups handed back as a broadcast LocalRelation
    (saves recomputing the aggregation; an Arrow table, unlike a Python
    list, needs no Python job to reach Spark); above it the salt table is
    joined distributed — no unbounded collect on the driver.
    """
    spark = df.sparkSession
    size_expr = F.octet_length(F.col(size_col)) if size_col else F.lit(256)
    # exact sizing: the scan is column-pruned, cheap next to the encode
    sizes = (
        df.groupBy(*group_cols)
        .agg(F.sum(size_expr).alias("_grp_bytes"))
        .withColumn(
            "_nsalt",
            F.greatest(F.lit(1), F.ceil(F.col("_grp_bytes") / F.lit(target_bytes))).cast("int"),
        )
    )
    # ONE Spark action in the common path: collect at most limit+1 rows of
    # the per-group table. Getting ≤ limit rows proves we hold the complete
    # group set (totals computed driver-side); limit+1 rows means the group
    # count is unbounded → switch to the fully distributed path (a 1-row
    # totals action + executor-side join) so the driver never materializes
    # millions of groups. Nothing is cached: that path pays a column-pruned
    # sizing scan for the totals and one more in the encode's join, and
    # never leaks a groups-sized cached table into session storage for the
    # lifetime of a long-running (e.g. streaming) driver.
    size_tbl = sizes.limit(broadcast_group_limit + 1).toArrow()
    distributed = size_tbl.num_rows > broadcast_group_limit
    if distributed:
        totals = sizes.agg(F.sum("_grp_bytes").alias("_total")).first()
        total_bytes = int(totals["_total"] or 0)
    else:
        total_bytes = pc.sum(size_tbl.column("_grp_bytes")).as_py() or 0
    # n_buckets is a *data* property (bytes/target), never a cluster
    # property: partition ids must be identical across cluster sizes or a
    # resume on a different cluster re-encodes everything.
    n_buckets = max(1, -(-int(total_bytes) // target_bytes))
    if pid_namespace is not None:
        n_buckets = min(n_buckets, 1 << bucket_bits)
    if distributed:
        # AQE picks the physical join
        out = df.join(sizes.select(*group_cols, "_nsalt"), on=group_cols, how="left")
    else:
        # Only groups above the target carry a salt; a group missing from
        # the join gets the default of 1, which every other group has. So
        # the broadcast holds at most n_buckets rows, and when no group is
        # that big there is no join and no broadcast job at all.
        keep = group_cols + ["_nsalt"]
        giant = size_tbl.filter(pc.greater(size_tbl.column("_nsalt"), 1)).select(keep)
        if giant.num_rows:
            # with Spark's schema: from Arrow types alone a timestamp_ntz
            # key would come back as a timestamp
            nsalt_df = spark.createDataFrame(giant, sizes.select(*keep).schema)
            out = df.join(F.broadcast(nsalt_df), on=group_cols, how="left")
        else:
            out = df.withColumn("_nsalt", F.lit(None).cast("int"))
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.coalesce(F.col("_nsalt"), F.lit(1)))
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in group_cols], salt.cast("long")), F.lit(n_buckets)
    )
    if pid_namespace is not None:
        ns_base = pid_base(pid_namespace, bucket_bits)
        pid = (F.lit(ns_base).cast("long") + bucket).alias("pid")
    else:
        pid = bucket
    return out.withColumn("pid", pid).drop("_nsalt"), n_buckets


def encode_partition_arrays(
    store_root: str,
    pid: int,
    table: pa.Table,
    columns: list[str],
    *,
    outer: str | None = "auto",
    codec_overrides: dict[str, str] | None = None,
    codec_plan: dict[str, str] | None = None,
    plan_lineage: dict[str, str] | None = None,
    page_values: int | None = None,
) -> tuple[list[dict], dict[str, bytes]]:
    """Encode ONE partition's table into (manifest rows, blobs) — the
    per-pid kernel shared by the mapInArrow encode task and the DataSource
    writer (sources/datasource.py ParzigWriter). Pure function of the data
    (plus the codec plan), so retried tasks produce byte-identical blobs."""
    local_store = ManifestStore(store_root)
    rows, blobs = [], {}
    for column in columns:
        # zero-copy bucket slice: every scalar/list codec path (and
        # column_digest/column_minmax/nbytes) is slice-aware, so the
        # per-bucket compaction copy is skipped — one less full data
        # pass per task. Map/struct compact: their offsets/field
        # accessors don't normalize slices across pyarrow versions.
        col = table.column(column)
        arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        if arr.offset and (
            pa.types.is_map(arr.type) or pa.types.is_struct(arr.type)
        ):
            arr = pa.concat_arrays([arr])
        t0 = time.perf_counter()
        override = (codec_overrides or {}).get(column)
        planned = (codec_plan or {}).get(column)
        if override is not None:
            codec = override
            lineage_json = json.dumps({"plan": "override"}, separators=(",", ":"))
        elif planned is not None:
            codec, lineage_json = planned, plan_lineage[column]
        else:
            codec, lineage = choose_codec(arr, outer=outer)
            lineage_json = json.dumps(lineage, separators=(",", ":"))
        blob, meta = encode_column(arr, codec, outer=outer, page_values=page_values)
        dt = time.perf_counter() - t0
        digest = column_digest(arr)
        smin, smax = column_minmax(arr)
        sbloom, sbloom_dom = column_bloom(arr)
        ssum, snulls = column_agg_stats(arr)
        sdistinct = column_distinct(arr)
        blobs[column] = blob
        rows.append(
            {
                "stat_min": smin,
                "stat_max": smax,
                "stat_bloom": sbloom,
                "stat_bloom_dom": sbloom_dom,
                "stat_sum": ssum,
                "stat_nulls": snulls,
                "stat_distinct": sdistinct,
                "pid": pid,
                "column": column,
                "codec": codec,
                "n_values": len(arr),
                "raw_bytes": arr.nbytes,
                "enc_bytes": len(blob),
                "meta_json": json.dumps(meta, separators=(",", ":")),
                "lineage_json": lineage_json,
                "sha256": digest,
                "encode_s": dt,
                "blob_file": local_store.blob_path(pid, column),
            }
        )
    return rows, blobs


def encode_table(
    df: DataFrame,
    store_root: str,
    group_cols: list[str],
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    size_col: str | None = None,
    target_bytes: int = 64 << 20,
    resume: bool = True,
    outer: str | None = "auto",
    pid_namespace: int | None = None,
    bucket_bits: int = 24,
    codec_overrides: dict[str, str] | None = None,
    page_values: int | None = None,
) -> DataFrame:
    """Encode ``df`` into ``store_root``; returns the per-column summary.

    The returned DataFrame is the job's action — materializing it runs the
    encode. With ``resume=True``, partitions whose commit marker already
    exists are anti-joined away before any data is read (checkpoint/resume
    per the north rule); when every pid of the namespace is committed, the
    summary is an empty local table and no scan runs at all.

    Each column's codec is chosen ONCE on the driver from a sample of
    ``_PLAN_SAMPLE_ROWS`` rows (column stats are stable across buckets of
    one table), instead of trial-encoding 2–4 candidates in every bucket — the
    per-bucket selector was 2× trial encodes × candidates × columns ×
    buckets of pure overhead. The sample job and the selector run on a
    helper thread while the sizing jobs run, so the plan costs no wall time
    unless it outlasts them; a single-bucket encode, which chooses in its
    one task, stops the helper after its current column. Codec choice never
    feeds pid derivation, so this cannot affect resume identity; within one
    job all task attempts share the driver's plan, keeping retried blobs
    byte-identical.

    ``codec_overrides`` pins named columns to explicit codecs (bypassing the
    selector) — the per-encoding conformance lever, mirroring the
    reference's per-encoding golden tests
    (/root/reference/src/parquet_testing.zig:332,834-856).

    ``page_values`` stores scalar columns in the PAGED layout (fixed value
    stride, per-section min/max — the ColumnIndex analog): decode-side
    predicates then skip whole sections *within* a partition, reading only
    the surviving byte ranges of each blob. Part of the store identity
    (page boundaries must be a pure data property for resume).
    """
    salt_cols = salt_cols or [c for c in df.columns if c not in group_cols][:1]
    if sort_cols is None:
        # canonical order key: every non-nested column (Arrow can't sort
        # list/map/struct, and they'd be poor keys anyway)
        sort_cols = [
            c for c, t in df.dtypes if not t.startswith(("array", "map", "struct"))
        ]
    store = ManifestStore(store_root)
    store.ensure_config(
        {
            "format": FORMAT_VERSION,
            "group_cols": group_cols,
            "salt_cols": salt_cols,
            "sort_cols": sort_cols,
            "size_col": size_col,
            "target_bytes": target_bytes,
            "columns": list(df.columns),
            **({"page_values": page_values} if page_values else {}),
        }
    )
    # Plan the codecs off the critical path: a helper thread takes the
    # sample and runs the selector on it while this thread blocks on the
    # sizing jobs inside plan_partitions (Spark schedules concurrent jobs
    # from separate threads), so planning costs max(sizing, sample +
    # choose) instead of their sum. An InheritableThread carries the
    # caller's job group and description to the sample job, so
    # cancelJobGroup stops it too. The helper checks ``stop_plan`` before
    # each column: an encode that throws the plan away waits for at most
    # the sample job plus one column.
    data_cols = list(df.columns)
    codec_plan: dict[str, str] = {}
    plan_lineage: dict[str, str] = {}
    plan_error: list[Exception] = []
    stop_plan = threading.Event()

    def _plan_codecs():
        try:
            sample = df.limit(_PLAN_SAMPLE_ROWS).toArrow()
            for column in data_cols:
                if stop_plan.is_set() or not sample.num_rows:
                    return
                if codec_overrides and column in codec_overrides:
                    continue
                try:
                    codec, lineage = choose_codec(sample.column(column), outer=outer)
                except (TypeError, ValueError):
                    continue
                codec_plan[column] = codec
                plan_lineage[column] = json.dumps(
                    {"plan": "table_sample", "sample_rows": sample.num_rows, **lineage},
                    separators=(",", ":"),
                )
        except Exception as exc:  # surface on join, never kill the thread
            plan_error.append(exc)

    plan_thread = InheritableThread(target=_plan_codecs, daemon=True)
    plan_thread.start()

    with_pid, n_buckets = plan_partitions(
        df, group_cols, salt_cols, target_bytes, size_col,
        pid_namespace=pid_namespace, bucket_bits=bucket_bits,
    )
    committed = store.committed_pids() if resume else set()
    first = pid_base(pid_namespace, bucket_bits)
    done = n_buckets <= len(committed) and committed.issuperset(
        range(first, first + n_buckets)
    )
    # Single-bucket tables choose once in-task anyway; the sampled plan only
    # pays for itself when it replaces many per-bucket selector runs.
    use_plan = n_buckets > 1 and not done
    if not use_plan:
        stop_plan.set()
    plan_thread.join()
    if done:
        # resumed over a namespace whose every pid is committed: no scan
        return arrow_frame(df.sparkSession, [], SUMMARY_ARROW)
    if not use_plan:
        # the helper may have planned a column before it stopped
        codec_plan, plan_lineage = {}, {}
    elif plan_error:
        raise plan_error[0]

    if resume:
        with_pid = skip_committed(with_pid, store)

    def encode_one(pid: int, table: pa.Table) -> pa.RecordBatch:
        rows, blobs = encode_partition_arrays(
            store_root, pid, table, data_cols, outer=outer,
            codec_overrides=codec_overrides, codec_plan=codec_plan,
            plan_lineage=plan_lineage, page_values=page_values,
        )
        local_store = ManifestStore(store_root)
        already = local_store.is_committed(pid)
        if not already:
            local_store.write_partition(pid, rows, blobs)
        return summary_batch(rows, committed=not already)

    return map_pid_slices(with_pid, n_buckets, sort_cols, data_cols, encode_one)


def append_pinned(df: DataFrame, store_root: str, cfg: dict, pid_namespace: int) -> None:
    """Encode ``df`` into an existing store under ``pid_namespace`` with the
    store's OWN pinned config ``cfg`` (group/salt/sort/size/target/page
    layout), so appended rows land exactly as front-door rows would;
    committed pids resume-skip. The append of WAP staging and upserts."""
    encode_table(
        df,
        store_root,
        group_cols=cfg["group_cols"],
        salt_cols=cfg["salt_cols"],
        sort_cols=cfg.get("sort_cols"),
        size_col=cfg.get("size_col"),
        target_bytes=cfg["target_bytes"],
        resume=True,
        pid_namespace=pid_namespace,
        bucket_bits=16,
        page_values=cfg.get("page_values"),
    ).count()


def _has_map(t: DataType) -> bool:
    if isinstance(t, MapType):
        return True
    if isinstance(t, ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def batch_fingerprint(df: DataFrame) -> tuple[bytes, int]:
    """(sha256 digest, row count) of ``df``'s rows as a multiset, in one
    Spark job: XOR + a bounded wrapping SUM of the per-row xxhash64 +
    COUNT — order- and partitioning-independent, and multiplicity-
    sensitive (XOR alone is blind to pairs: x^x = 0). A column holding a
    map at any depth folds in through ``to_json`` (xxhash64 cannot hash
    maps). The claim digest of streaming micro-batches and WAP batches;
    streaming also derives its pid namespaces from it, so the formula must
    never change."""
    row_hash = F.xxhash64(
        *[F.to_json(F.col(f.name)) if _has_map(f.dataType) else F.col(f.name) for f in df.schema]
    )
    fp = df.select(
        F.bit_xor(row_hash).alias("x"),
        F.sum(F.pmod(row_hash, F.lit(1 << 28))).alias("s"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    digest = hashlib.sha256(f"{fp['x']},{fp['s']},{fp['c']}".encode()).digest()
    return digest, int(fp["c"])


def summary_batch(rows: list[dict], committed: bool = True) -> pa.RecordBatch:
    """The SUMMARY_SCHEMA batch of manifest rows — what every
    partition-writing job returns per partition it wrote (``committed``
    False when another attempt had already sealed it)."""
    return pa.RecordBatch.from_pylist(
        [{**r, "committed": committed} for r in rows], schema=SUMMARY_ARROW
    )


def skip_committed(with_pid: DataFrame, store: ManifestStore) -> DataFrame:
    """Resume: ``with_pid`` minus the rows of pids ``store`` has already
    committed, anti-joined before any data is read."""
    committed = store.committed_pids()
    if not committed:
        return with_pid
    committed_df = with_pid.sparkSession.createDataFrame(
        pa.table({"pid": pa.array(sorted(committed), pa.int64())})
    )
    return with_pid.join(F.broadcast(committed_df), on="pid", how="left_anti")


def map_pid_slices(
    with_pid: DataFrame, n_pids: int, sort_cols: list[str], cols: list[str], per_pid
) -> DataFrame:
    """Run ``per_pid(pid, table) -> SUMMARY_SCHEMA batch`` once per pid of
    ``with_pid``, ``table`` holding that pid's ``cols`` in canonical
    (``sort_cols``) order — the one shuffle behind encode_table and
    add_columns, so both see the same pids in the same row order.

    ``repartition(k, pid)`` keeps a pid inside one task; ``k`` is
    ``min(n_pids, task_slots)`` — one wave of tasks, each holding several
    pids. The (pid, *sort_cols) sort runs in the JVM: Tungsten sorts binary
    rows (spill-capable — an oversized partition sorts through disk instead
    of OOMing the Python worker) with the same order pa.Table.sort_by would
    give: ascending, nulls last, byte-wise UTF8 comparison, NaN greatest.
    With no sort columns (an all-nested table) it sorts by pid alone.

    Rows arrive with ``pid`` leading, so the task streams: it buffers only
    the batch slices of the pid in progress and calls ``per_pid`` as soon
    as the next pid starts — task memory stays bounded by one partition
    however many pids the task holds. Nothing is copied for grouping
    (each pid is a run of zero-copy slices found by boundary detection on
    the pid lane), and string columns never become Python objects.
    """
    k = max(1, min(n_pids, task_slots(with_pid.sparkSession)))
    shuffled = with_pid.repartition(k, "pid").sortWithinPartitions(
        F.col("pid").asc(), *[F.col(c).asc_nulls_last() for c in sort_cols]
    )

    def run(batches):
        pid, pending = None, []
        for batch in batches:
            if batch.num_rows == 0:
                continue  # a task can receive zero-row batches
            pids = batch.column("pid").to_numpy(zero_copy_only=False)
            data = batch.select(cols)
            starts = np.concatenate(([0], np.flatnonzero(np.diff(pids)) + 1))
            ends = np.append(starts[1:], len(pids))
            for s, e in zip(starts, ends):
                if pids[s] != pid:
                    if pending:
                        yield per_pid(int(pid), pa.Table.from_batches(pending))
                    pid, pending = pids[s], []
                pending.append(data.slice(s, e - s))
        if pending:
            yield per_pid(int(pid), pa.Table.from_batches(pending))

    return shuffled.mapInArrow(run, schema=SUMMARY_SCHEMA)
