"""Store maintenance: compaction (rewrite small partitions) and orphan GC.

Compaction must preserve the full row set bit-exactly (verify_roundtrip),
reduce partition count, commit deterministically (byte-identical blobs
across runs), resume as a no-op, and pass big-enough partitions through
without re-encoding. GC must reclaim only unreferenced artifacts.
"""

import json
import os
import shutil

import pytest

from parzig_spark.codecs import page_row_ranges
from parzig_spark.operators import (
    compact_store,
    decode_table,
    encode_table,
    gc_store,
    plan_compaction,
    verify_roundtrip,
)
from parzig_spark.operators.decode import plan_read
from parzig_spark.plans import prune
from parzig_spark.plans.manifest import ManifestStore
from parzig_spark.sources import source_code_table

KEYS = ["repo", "path", "commit"]


@pytest.fixture(scope="module")
def fragmented(spark, tmp_path_factory):
    """A store deliberately shredded into many tiny partitions (the
    streaming/backfill small-file pathology compaction exists for)."""
    corpus = source_code_table(spark, n_rows=2000, partitions=8)
    corpus.cache().count()
    root = str(tmp_path_factory.mktemp("compact") / "src")
    encode_table(
        corpus,
        root,
        group_cols=["repo", "lang"],
        salt_cols=["path", "commit"],
        sort_cols=KEYS,
        size_col="content",
        target_bytes=64 << 10,  # tiny → many partitions
        resume=False,
    ).count()
    return corpus, root


def test_compact_roundtrip_and_shrinks(spark, fragmented, tmp_path):
    corpus, src_root = fragmented
    dst_root = str(tmp_path / "dst")
    summary = compact_store(spark, src_root, dst_root, target_bytes=2 << 20).toPandas()
    assert (summary["committed"]).all()
    n_src = len(ManifestStore(src_root).committed_pids())
    n_dst = len(ManifestStore(dst_root).committed_pids())
    assert n_dst < n_src, f"compaction must shrink partition count ({n_src}->{n_dst})"
    decoded = decode_table(spark, dst_root)
    report = verify_roundtrip(corpus, decoded, KEYS, ["lang", "content"])
    assert report["ok"], report


def test_compact_resume_noop(spark, fragmented, tmp_path):
    _, src_root = fragmented
    dst_root = str(tmp_path / "dst")
    compact_store(spark, src_root, dst_root, target_bytes=2 << 20).count()
    committed = ManifestStore(dst_root).committed_pids()
    again = compact_store(spark, src_root, dst_root, target_bytes=2 << 20).toPandas()
    assert len(again) == 0, "fully-compacted store must rewrite nothing"
    assert ManifestStore(dst_root).committed_pids() == committed


def test_compact_blobs_deterministic(spark, fragmented, tmp_path):
    _, src_root = fragmented
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    compact_store(spark, src_root, a, target_bytes=2 << 20).count()
    compact_store(spark, src_root, b, target_bytes=2 << 20).count()
    sa, sb = ManifestStore(a), ManifestStore(b)
    assert sa.committed_pids() == sb.committed_pids()
    for pid in sa.committed_pids():
        for f in sorted(os.listdir(os.path.join(sa.blob_dir, str(pid)))):
            col = f[: -len(".bin")]
            assert sa.read_blob(pid, col) == sb.read_blob(pid, col), (pid, col)


def test_compact_passthrough_keeps_big_partitions(spark, fragmented, tmp_path):
    _, src_root = fragmented
    dst_root = str(tmp_path / "dst")
    # target below every partition's raw size → everything is "big enough",
    # nothing re-encodes, blobs pass through byte-identical
    summary = compact_store(spark, src_root, dst_root, target_bytes=1024).toPandas()
    assert len(summary) == 0
    src, dst = ManifestStore(src_root), ManifestStore(dst_root)
    assert dst.committed_pids() == src.committed_pids()
    pid = sorted(src.committed_pids())[0]
    assert src.read_blob(pid, "content") == dst.read_blob(pid, "content")


def test_plan_compaction_groups_are_bounded(fragmented):
    _, src_root = fragmented
    store = ManifestStore(src_root)
    target = 1 << 20
    groups = plan_compaction(store, target_bytes=target)
    assert groups, "tiny partitions must produce merge groups"
    m = store.read_manifests()
    per_pid: dict[int, int] = {}
    for pid, b in zip(m.column("pid").to_pylist(), m.column("raw_bytes").to_pylist()):
        per_pid[int(pid)] = per_pid.get(int(pid), 0) + int(b)
    seen = set()
    for g in groups:
        for p in g:
            assert p not in seen, "a pid may appear in at most one group"
            seen.add(p)
        # bin-packing honors the byte bound unless a single pid exceeds it
        if len(g) > 1:
            assert sum(per_pid[p] for p in g) <= target


def test_gc_store_reclaims_only_orphans(spark, fragmented, tmp_path):
    corpus, src_root = fragmented
    # work on a copy — the fixture store is shared across tests
    root = str(tmp_path / "store")
    shutil.copytree(src_root, root)
    store = ManifestStore(root)
    committed = store.committed_pids()
    # forge a crashed task's leavings: blobs + manifest but NO marker
    orphan_dir = os.path.join(store.blob_dir, "999999999")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "content.bin"), "wb") as f:
        f.write(b"x" * 1024)
    with open(
        os.path.join(store.manifest_dir, "part-999999999.parquet"), "wb"
    ) as f:
        f.write(b"not-a-real-parquet")
    # speculative-duplicate tmp litter inside a committed dir
    pid0 = sorted(committed)[0]
    tmp_file = os.path.join(store.blob_dir, str(pid0), "content.bin.tmp-dead")
    with open(tmp_file, "wb") as f:
        f.write(b"y" * 512)
    # superseded snapshot
    store.write_snapshot()
    store.write_snapshot()

    # an age guard in the future touches nothing
    untouched = gc_store(root, min_age_s=3600)
    assert untouched["orphan_dirs"] == 0 and untouched["tmp_files"] == 0
    assert os.path.isdir(orphan_dir)

    stats = gc_store(root, min_age_s=0)
    assert stats["orphan_dirs"] == 1
    assert stats["orphan_manifests"] == 1
    assert stats["tmp_files"] == 1
    assert stats["old_snapshots"] >= 1
    assert stats["bytes_reclaimed"] > 0
    assert not os.path.exists(orphan_dir)
    assert not os.path.exists(tmp_file)
    # committed data untouched and still verifies
    assert store.committed_pids() == committed
    report = verify_roundtrip(
        corpus, decode_table(spark, root), KEYS, ["lang", "content"]
    )
    assert report["ok"], report


def test_rewrite_store_inplace_preserves_rows_and_is_cdc_silent(
    spark, fragmented, tmp_path
):
    """In-place compaction (rewrite_store): the store itself advances —
    fewer partitions, identical rows — the pre-rewrite snapshot still time
    travels, and a changes_table window spanning ONLY the rewrite is empty
    (pure rewrites are CDC-silent, like Iceberg rewrite_data_files)."""
    from parzig_spark.operators import rewrite_store
    from parzig_spark.operators.changes import changes_table

    corpus, src_root = fragmented
    root = str(tmp_path / "store")
    shutil.copytree(src_root, root)
    store = ManifestStore(root)
    store.write_snapshot()  # v_from: pre-rewrite
    v_from = int(os.path.basename(store.fresh_snapshot())[len("snap-"):-len(".parquet")])
    before = store.committed_pids()

    info = rewrite_store(spark, root, target_bytes=1 << 20)
    assert info["groups"] > 0
    after = store.committed_pids()
    assert len(after) < len(before)
    assert set(info["dst_pids"]) <= after
    assert not (set(info["rewritten_pids"]) & after)

    # rows identical through the head view
    report = verify_roundtrip(
        corpus, decode_table(spark, root), KEYS, ["lang", "content"]
    )
    assert report["ok"], report
    # pre-rewrite snapshot still time travels (artifacts live until gc)
    assert decode_table(spark, root, snapshot=v_from).count() == corpus.count()

    # the rewrite window is CDC-silent
    v_to = int(os.path.basename(store.fresh_snapshot())[len("snap-"):-len(".parquet")])
    assert changes_table(spark, root, v_from, v_to).count() == 0

    # ...but REAL changes after the rewrite still surface
    from parzig_spark.operators import delete_rows

    deleted = delete_rows(spark, root, [("lang", "==", "zig")])
    store.write_snapshot()
    v_del = int(os.path.basename(store.fresh_snapshot())[len("snap-"):-len(".parquet")])
    ch = changes_table(spark, root, v_to, v_del)
    assert ch.filter(ch._change_type == "delete").count() == deleted["rows_deleted"]
    # a wide window (pre-rewrite -> post-delete): groups the delete touches
    # fall back to the documented insert+delete rewrite pairs (correct,
    # noisy); untouched groups stay suppressed; the NET change is exactly
    # the deletes either way
    wide = changes_table(spark, root, v_from, v_del)
    n_del = wide.filter(wide._change_type == "delete").count()
    n_ins = wide.filter(wide._change_type == "insert").count()
    assert n_del - n_ins == deleted["rows_deleted"]


def test_rewrite_repair_heals_crashed_flip(spark, fragmented, tmp_path):
    """A crash inside one group's marker-surgery window (dst committed,
    sources not yet retired) is healed by repair_rewrites using the
    durable intent record — no duplicate rows survive."""
    from parzig_spark.operators import repair_rewrites, rewrite_store

    corpus, src_root = fragmented
    root = str(tmp_path / "store")
    shutil.copytree(src_root, root)
    store = ManifestStore(root)
    rewrite_store(spark, root, target_bytes=1 << 20)
    # forge the crash: resurrect one group's source markers (dst stays)
    rec = json.load(open(os.path.join(root, "rewrites", sorted(os.listdir(os.path.join(root, "rewrites")))[0])))
    g = rec["groups"][0]
    for s in g["src"]:
        fd = os.open(store._marker_path(int(s)), os.O_CREAT | os.O_WRONLY)
        os.close(fd)
    assert repair_rewrites(root) == len(g["src"])
    report = verify_roundtrip(
        corpus, decode_table(spark, root), KEYS, ["lang", "content"]
    )
    assert report["ok"], report


def test_gc_keep_snapshots_horizon(spark, fragmented, tmp_path):
    """keep_snapshots retains the newest N superseded snapshots (readStream
    checkpoint-lag defense); retention picks survivors by numeric version."""
    _, src_root = fragmented
    root = str(tmp_path / "store")
    shutil.copytree(src_root, root)
    store = ManifestStore(root)
    store.fresh_snapshot()
    for _ in range(5):
        store.write_snapshot()

    def versions():
        d = os.path.join(root, "snapshots")
        return sorted(
            int(f[len("snap-"):-len(".parquet")])
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    all_vs = versions()
    stats = gc_store(root, min_age_s=0, keep_snapshots=2)
    assert versions() == all_vs[-3:]  # latest + 2 retained
    assert stats["old_snapshots"] == len(all_vs) - 3
    gc_store(root, min_age_s=0)
    assert versions() == [all_vs[-1]]  # horizon 0: latest only, NUMERICALLY


def test_compact_sorted_paged_rewrite_tightens_page_pruning(
    spark, fragmented, tmp_path
):
    """rewrite_data_files(strategy='sort') analog at page granularity:
    compacting with sort_cols=['lang', ...] + the PAGED layout concentrates
    each lang into few pages, so a lang equality predicate must (a) still
    decode every matching row and (b) leave most pages provably excludable
    by their per-page [min, max] envelopes — which an unsorted layout's
    pages (every page spans the lang domain) cannot offer."""
    corpus, src_root = fragmented
    dst = str(tmp_path / "sorted")
    compact_store(
        spark, src_root, dst, target_bytes=2 << 20,
        sort_cols=["lang", "path"], page_values=128,
    ).count()
    report = verify_roundtrip(
        corpus, decode_table(spark, dst), KEYS, ["lang", "content"]
    )
    assert report["ok"], report
    target = min(r["lang"] for r in corpus.select("lang").distinct().collect())
    pruned = decode_table(spark, dst, predicates=[("lang", "==", target)])
    expected = corpus.filter(corpus.lang == target).count()
    assert pruned.filter(pruned.lang == target).count() == expected
    # page-envelope audit over the rewritten lang blobs: sorted pages are
    # mostly single-lang, so for any one lang most pages must be excludable
    m = ManifestStore(dst).read_manifests()
    total_pages = excludable_pages = 0
    for row in m.to_pylist():
        if row["column"] != "lang":
            continue
        meta = json.loads(row["meta_json"])
        if meta.get("codec") != "paged":
            continue  # partition smaller than one page stays unpaged
        for p in meta["pages"]:
            total_pages += 1
            if p["max"] < target or p["min"] > target:
                excludable_pages += 1
    assert total_pages > 2, "fixture must produce multi-page partitions"
    assert excludable_pages > total_pages // 2, (
        f"sorted paged rewrite should exclude most pages for one lang "
        f"({excludable_pages}/{total_pages})"
    )


def test_compact_zorder_rewrite_prunes_both_axes(spark, tmp_path):
    """rewrite_data_files(strategy='zorder') analog: a Morton-curve rewrite
    over (x, y) ranks keeps per-page envelopes tight on BOTH columns — a
    selective predicate on either axis skips most pages, where a linear
    sort on x leaves every page spanning the whole y domain. The rows of
    the pages the driver-side evaluator keeps are the observable: the
    z-ordered store must read far fewer rows than the x-sorted store for a
    y predicate, while both return exactly the matching rows."""
    from pyspark.sql import functions as F

    n = 100_000
    df = spark.range(0, n).select(
        F.lit("g").alias("grp"),
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 7919, F.lit(99_991)).alias("x"),
        F.pmod(F.col("id") * 48271, F.lit(99_991)).alias("y"),
    )
    src = str(tmp_path / "zsrc")
    encode_table(
        df, src, group_cols=["grp"], salt_cols=["k"],
        target_bytes=256 << 10, resume=False,
    ).count()

    dst_x = str(tmp_path / "dst_xsort")
    compact_store(
        spark, src, dst_x, target_bytes=64 << 20,
        sort_cols=["x"], page_values=4096,
    ).count()
    dst_z = str(tmp_path / "dst_zorder")
    compact_store(
        spark, src, dst_z, target_bytes=64 << 20,
        zorder_cols=["x", "y"], page_values=4096,
    ).count()

    # exactness first: both stores hold the full row set
    assert decode_table(spark, dst_z).count() == n

    y_pred = [("y", "<=", 5_000)]  # ~5% selectivity, scattered vs id
    exp = df.filter(F.col("y") <= 5_000)
    exp_n, exp_sum = exp.count(), exp.agg(F.sum("k")).collect()[0][0]
    for root in (dst_x, dst_z):
        got = decode_table(spark, root, predicates=y_pred)
        assert got.count() == exp_n
        assert got.agg(F.sum("k")).collect()[0][0] == exp_sum

    def rows_read(root, preds):
        """Rows of the pids and pages the driver-side evaluator keeps."""
        store, total = ManifestStore(root), 0
        for pid in plan_read(root, predicates=preds)[1]:
            metas = {c: store.column_meta(pid, c) for c, _op, _v in preds}
            survivors, paged = prune.page_survivors(metas, preds)
            if survivors is None:
                total += next(iter(metas.values()))["n"]
            else:
                total += sum(ln for _off, ln in page_row_ranges(paged, survivors))
        return total

    # the pruning contrast: x-sorted pages all span the y domain (decode
    # ~everything); Morton tiles bound y per page (decode a thin slab)
    rows_x = rows_read(dst_x, y_pred)
    rows_z = rows_read(dst_z, y_pred)
    assert rows_z < rows_x // 2, (rows_z, rows_x)
    # and the curve still serves the x axis too: a selective x predicate
    # reads well under half the store, and returns exactly its rows
    x_pred = [("x", "<=", 5_000)]
    rows_zx = rows_read(dst_z, x_pred)
    assert rows_zx < n // 2, rows_zx
    assert decode_table(spark, dst_z, predicates=x_pred).count() == (
        df.filter(F.col("x") <= 5_000).count()
    )

    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_store(
            spark, src, str(tmp_path / "bad"), sort_cols=["x"],
            zorder_cols=["x", "y"],
        )
    with pytest.raises(ValueError, match=">= 2 columns"):
        compact_store(spark, src, str(tmp_path / "bad2"), zorder_cols=["x"])


def test_compact_lineage_records_sources(spark, fragmented, tmp_path):
    _, src_root = fragmented
    dst_root = str(tmp_path / "dst")
    compact_store(spark, src_root, dst_root, target_bytes=2 << 20).count()
    dst = ManifestStore(dst_root)
    src_pids = set(ManifestStore(src_root).committed_pids())
    m = dst.read_manifests()
    rewritten = [
        json.loads(lj)
        for lj in m.column("lineage_json").to_pylist()
        if lj and "compaction" in lj
    ]
    assert rewritten, "rewritten partitions must carry compaction lineage"
    for lin in rewritten:
        assert lin["plan"] == "compaction"
        assert set(lin["src_pids"]) <= src_pids
