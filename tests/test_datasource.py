"""The ``parzig`` Python Data Source (sources/datasource.py): plain
``spark.read.format("parzig")`` over a store with filter pushdown —
Catalyst WHERE clauses reach partition pruning before task planning, and
results stay row-exact: the reader keeps exactly the matching rows for
every filter it accepts, and Spark re-applies only the ones handed back.
"""

import re

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In, StringStartsWith

from parzig_spark.operators import (
    create_ref,
    decode_table,
    delete_rows,
    encode_table,
)
from parzig_spark.plans.manifest import ManifestStore
from parzig_spark.sources.datasource import ParzigReader, register_datasource


def _src(spark, n=6_000):
    return spark.range(0, n).select(
        (F.col("id") % 6).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 6).cast("string")).alias("cat"),
    )


def _store(spark, tmp_path, name="dsstore"):
    root = str(tmp_path / name)
    encode_table(
        _src(spark), root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    return root


def test_format_read_matches_decode_table(spark, tmp_path):
    root = _store(spark, tmp_path)
    register_datasource(spark)
    df = spark.read.format("parzig").load(root)
    got = sorted(tuple(r) for r in df.collect())
    exp = sorted(tuple(r) for r in decode_table(spark, root).collect())
    assert got == exp
    # SQL surface: the reader answers the WHERE exactly
    df.createOrReplaceTempView("ds_t")
    n = spark.sql("SELECT count(*) AS n FROM ds_t WHERE cat = 'cat3'").collect()[0]["n"]
    assert n == 1_000


def _has_filter(df) -> bool:
    """A Filter node in the executed plan (not the scan's RuntimeFilters)."""
    return re.search(r"\bFilter\b", df._jdf.queryExecution().executedPlan().toString()) is not None


def test_accepted_filters_leave_no_filter_node(spark, tmp_path):
    """A translated, row-exact WHERE (and the IsNotNull Catalyst infers for
    it) is answered by the reader alone: no Filter in the executed plan,
    same count. An untranslatable shape (Not) keeps its Filter."""
    root = _store(spark, tmp_path, name="dsplan")
    register_datasource(spark)
    df = spark.read.format("parzig").load(root)
    q = df.where("cat = 'cat3'")
    assert not _has_filter(q), q._jdf.queryExecution().executedPlan().toString()
    assert q.count() == 1_000
    both = df.where("k >= 100 AND k < 400 AND cat = 'cat3'")
    assert not _has_filter(both)
    assert sorted(r["k"] for r in both.collect()) == [k for k in range(100, 400) if k % 6 == 3]
    residual = df.where("cat != 'cat3'")
    assert _has_filter(residual)
    assert residual.count() == 5_000


def _planned_pids(reader) -> int:
    """Store partitions a reader plans, over all its InputPartitions (each
    carries a run of pids)."""
    return sum(len(part.pids) for part in reader.partitions())


def test_pushdown_prunes_partitions(spark, tmp_path):
    """Reader-level: pushFilters + partitions() plans EXACTLY the
    partitions that can hold the value (distinct-set pruning, no
    SparkSession involved in planning)."""
    root = _store(spark, tmp_path, name="dsprune")
    reader = ParzigReader({"path": root}, ["grp", "k", "cat"])
    total = _planned_pids(reader)
    reader2 = ParzigReader({"path": root}, ["grp", "k", "cat"])
    kept = reader2.pushFilters([EqualTo(("cat",), "cat3")])
    assert kept == []  # translated and row-exact: no residual filter for Spark
    pruned = _planned_pids(reader2)
    truth = (
        decode_table(spark, root, include_pid_pos=True)
        .filter(F.col("cat") == "cat3").select("_pid").distinct().count()
    )
    assert pruned == truth < total
    # IN + prefix translate too
    reader3 = ParzigReader({"path": root}, ["grp", "k", "cat"])
    reader3.pushFilters([In(("cat",), ("cat3", "cat5")), StringStartsWith(("cat",), "cat")])
    assert _planned_pids(reader3) >= pruned


def test_deletes_and_pinned_views(spark, tmp_path):
    root = _store(spark, tmp_path, name="dspin")
    ManifestStore(root).write_snapshot()  # v0 pre-delete
    create_ref(root, "pre", kind="tag", version=0)
    delete_rows(spark, root, [("k", "<", 1_000)])
    ManifestStore(root).write_snapshot()
    register_datasource(spark)
    head = spark.read.format("parzig").load(root)
    assert head.count() == 5_000
    assert head.agg(F.min("k")).collect()[0][0] == 1_000
    pinned = spark.read.format("parzig").option("ref", "pre").load(root)
    assert pinned.count() == 6_000
    snap0 = spark.read.format("parzig").option("snapshot", "0").load(root)
    assert snap0.count() == 6_000

    # PAGED store pinned at a snapshot that carries a delete (and a later
    # delete the pin must not see): a predicate read through the data
    # source equals decode_table's rows for the same view and predicate
    paged = str(tmp_path / "dspin_paged")
    encode_table(
        _src(spark), paged, group_cols=["grp"], salt_cols=["k"], sort_cols=["k"],
        target_bytes=1 << 30, resume=False, page_values=256,
    ).count()
    delete_rows(spark, paged, [("k", "<", 1_000)])
    snap = ManifestStore(paged).write_snapshot()
    version = int(snap.rsplit("snap-", 1)[1][: -len(".parquet")])
    delete_rows(spark, paged, [("k", ">=", 1_500)])
    preds = [("k", ">=", 500), ("k", "<", 2_000)]
    via_ds = (
        spark.read.format("parzig").option("snapshot", str(version)).load(paged)
        .where("k >= 500 AND k < 2000")
    )
    via_decode = decode_table(spark, paged, snapshot=version, predicates=preds)
    got = sorted(tuple(r) for r in via_ds.collect())
    assert got == sorted(tuple(r) for r in via_decode.collect())
    assert [r[1] for r in sorted(got, key=lambda r: r[1])] == list(range(1_000, 2_000))


def test_columns_option_projects(spark, tmp_path):
    root = _store(spark, tmp_path, name="dscols")
    register_datasource(spark)
    df = spark.read.format("parzig").option("columns", "k,cat").load(root)
    assert df.columns == ["k", "cat"]
    assert df.count() == 6_000


def test_fully_pruned_scan_returns_zero_rows(spark, tmp_path):
    """partitions() returning [] makes PySpark call read(None) — the scan
    must yield zero rows, not AttributeError (ADVICE r4 #1)."""
    root = _store(spark, tmp_path, name="dsnone")
    register_datasource(spark)
    df = spark.read.format("parzig").load(root)
    # 'zz' sorts above every 'catN': min/max pruning drops ALL partitions
    assert df.where("cat = 'zz'").count() == 0
    assert df.where(F.col("cat").startswith("nope")).count() == 0
    # reader-level: the pushed filter really does prune everything
    reader = ParzigReader({"path": root}, ["grp", "k", "cat"])
    reader.pushFilters([EqualTo(("cat",), "zz")])
    assert reader.partitions() == []
    assert list(reader.read(None)) == []


def test_unprunable_literals_never_prune(spark, tmp_path):
    """Decimal / datetime / bool literals must not reach the lexicographic
    stat comparison — str(Decimal('20')) vs '100.00' wrongly prunes
    (ADVICE r4 #2). They keep every partition; dates still prune (ISO
    stats order lexicographically)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.datasource import GreaterThan

    from parzig_spark.plans import prune
    from parzig_spark.sources.datasource import _translate

    def may(op, val, lane, lo, hi):
        return bool(prune.verdicts(op, val, lane, [lo], [hi])[0][0])

    # the advice's exact failure: dec_col > 20 with stat_max '100.00'
    assert may(">", Decimal("20"), "other", "1.00", "100.00") is True
    assert may("==", Decimal("20"), "other", "1.00", "100.00") is True
    assert may("<", datetime.datetime(2024, 1, 5), "other", "2024-01-01 00:00:00+00:00", "2024-01-09 00:00:00+00:00") is True
    # dates are canonical: fixed-width ISO strings prune soundly
    assert may("==", datetime.date(2024, 2, 1), "date", "2024-01-01", "2024-01-09") is False
    assert may("==", datetime.date(2024, 1, 5), "date", "2024-01-01", "2024-01-09") is True
    # pushed filters carrying unprunable literal types never prune, on any
    # lane (stats 0..1 would exclude every real comparison below)
    for f in (
        GreaterThan(("d",), Decimal("20")),
        EqualTo(("b",), True),
        In(("d",), (Decimal("1"), Decimal("2"))),
    ):
        col, op, val = _translate(f)
        for lane in ("int", "float", "str", "date", "other"):
            assert may(op, val, lane, "0", "1") is True, (f, lane)
    assert _translate(GreaterThan(("k",), 5)) == ("k", ">", 5)

    # end-to-end: a decimal WHERE through SQL stays row-exact
    root = str(tmp_path / "dsdec")
    src = spark.createDataFrame(
        [(i, Decimal(i) * 10) for i in range(200)], "k long, price decimal(10,2)"
    )
    encode_table(src, root, group_cols=["k"], salt_cols=["k"],
                 target_bytes=16 << 10, resume=False).count()
    register_datasource(spark)
    df = spark.read.format("parzig").load(root)
    # Decimal x decimal is row-exact: the reader answers it (no Filter)
    # while the stats never prune it; a Not keeps Spark's Filter
    assert df.where("price > 20").count() == 197
    assert not _has_filter(df.where("price > 20"))
    assert df.where("price = 500.00").count() == 1
    assert _has_filter(df.where("price != 20"))
    assert df.where("price != 20").count() == 199


def test_stream_reader_tails_snapshots(spark, tmp_path):
    """readStream over the store: batch 1 streams the current view
    (starting=earliest), a second availableNow run on the SAME checkpoint
    delivers exactly the newly snapshotted batch — integer offsets through
    the query checkpoint, no re-delivery."""
    root = str(tmp_path / "dsstream")
    common = dict(group_cols=["grp"], salt_cols=["k"], target_bytes=64 << 10)
    encode_table(
        _src(spark, 2_000), root, resume=False, pid_namespace=1,
        bucket_bits=16, **common,
    ).count()
    ManifestStore(root).write_snapshot()
    register_datasource(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out.parquet")

    def drain():
        q = (
            spark.readStream.format("parzig")
            .option("starting", "earliest").load(root)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return sorted(r["k"] for r in spark.read.parquet(out).select("k").collect())

    assert drain() == list(range(2_000))
    # second batch: encode + seal; uncommitted data must NOT stream until
    # the snapshot publishes it
    encode_table(
        spark.range(2_000, 3_000).select(
            (F.col("id") % 6).cast("int").alias("grp"),
            F.col("id").alias("k"),
            F.concat(F.lit("cat"), (F.col("id") % 6).cast("string")).alias("cat"),
        ),
        root, resume=True, pid_namespace=2, bucket_bits=16, **common,
    ).count()
    ManifestStore(root).write_snapshot()
    # cumulative sink now holds both batches, each delivered exactly once
    assert drain() == list(range(3_000))


def test_writer_roundtrip_append_and_replay(spark, tmp_path):
    """df.write.format('parzig') — the DataSourceWriter half: write, read
    back via SQL (hash-exact vs the source), append a second batch, and
    replay the same batch (content-derived pids + namespace claim make the
    replay converge instead of duplicating rows)."""
    register_datasource(spark)
    root = str(tmp_path / "wstore")
    df = _src(spark, 4_000)
    df.repartition(3).write.format("parzig").mode("append").save(root)
    back = spark.read.format("parzig").load(root)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # decode_table reads the same store (shared kernel/manifest layout)
    assert decode_table(spark, root).count() == 4_000
    df2 = _src(spark, 5_000).where("k >= 4000")
    df2.write.format("parzig").mode("append").save(root)
    assert spark.read.format("parzig").load(root).count() == 5_000
    df2.write.format("parzig").mode("append").save(root)  # replay converges
    assert spark.read.format("parzig").load(root).count() == 5_000
    # pushdown still prunes on a writer-created store
    assert back.where("cat = 'zz'").count() == 0


def test_writer_refuses_overwrite_and_schema_drift(spark, tmp_path):
    import pytest
    from pyspark.errors import PySparkException

    register_datasource(spark)
    root = str(tmp_path / "wguard")
    df = _src(spark, 100)
    df.write.format("parzig").mode("append").save(root)
    with pytest.raises(Exception, match="append-only|overwrite"):
        df.write.format("parzig").mode("overwrite").save(root)
    drifted = df.withColumnRenamed("cat", "category")
    with pytest.raises((PySparkException, Exception), match="columns"):
        drifted.write.format("parzig").mode("append").save(root)


def test_stream_skips_inplace_rewrite(spark, tmp_path):
    """A pure in-place compaction between micro-batches must deliver ZERO
    rows to a tailing stream (its rows were already delivered from the
    retired sources); a real append afterwards still arrives."""
    from parzig_spark.operators import rewrite_store

    root = str(tmp_path / "dsrw")
    common = dict(group_cols=["grp"], salt_cols=["k"], target_bytes=16 << 10)
    encode_table(
        _src(spark, 1_500), root, resume=False, pid_namespace=1,
        bucket_bits=16, **common,
    ).count()
    ManifestStore(root).write_snapshot()
    register_datasource(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out.parquet")

    def drain():
        q = (
            spark.readStream.format("parzig")
            .option("starting", "earliest").load(root)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return sorted(r["k"] for r in spark.read.parquet(out).select("k").collect())

    assert drain() == list(range(1_500))
    info = rewrite_store(spark, root, target_bytes=64 << 20)
    assert info["groups"] > 0  # the rewrite really happened
    assert drain() == list(range(1_500))  # ...and delivered nothing new
    encode_table(
        _src(spark, 2_000).where("k >= 1500"), root, resume=True,
        pid_namespace=2, bucket_bits=16, **common,
    ).count()
    ManifestStore(root).write_snapshot()
    assert drain() == list(range(2_000))  # real appends still stream


def test_stream_pin_survives_gc(spark, tmp_path):
    """ADVICE r4 #3: gc_store between micro-batches reclaims the superseded
    snapshot a checkpointed stream must diff against. With streamId, the
    stream pins its committed version via a branch ref, so gc keeps it and
    the next drain still plans (and delivers exactly the new rows)."""
    from parzig_spark.operators.compact import gc_store
    from parzig_spark.operators.refs import read_ref

    root = str(tmp_path / "dsgc")
    common = dict(group_cols=["grp"], salt_cols=["k"], target_bytes=64 << 10)
    encode_table(
        _src(spark, 1_200), root, resume=False, pid_namespace=1,
        bucket_bits=16, **common,
    ).count()
    ManifestStore(root).write_snapshot()
    register_datasource(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out.parquet")

    def drain():
        q = (
            spark.readStream.format("parzig")
            .option("starting", "earliest").option("streamId", "t1").load(root)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return sorted(r["k"] for r in spark.read.parquet(out).select("k").collect())

    assert drain() == list(range(1_200))
    rec = read_ref(root, "stream-t1")
    assert rec is not None and rec["kind"] == "branch"
    pinned_v = rec["snapshot"]
    # new batch + snapshot, then gc: the pinned snapshot must survive
    encode_table(
        _src(spark, 2_000).where("k >= 1200"), root, resume=True,
        pid_namespace=2, bucket_bits=16, **common,
    ).count()
    ManifestStore(root).write_snapshot()
    gc_store(root, min_age_s=0)
    snap_dir = ManifestStore(root).root + "/snapshots"
    import os
    assert os.path.exists(
        os.path.join(snap_dir, f"snap-{pinned_v:06d}.parquet")
    ), "gc must keep the stream-pinned snapshot"
    assert drain() == list(range(2_000))
    # the pin advanced with the commit
    assert read_ref(root, "stream-t1")["snapshot"] > pinned_v


def test_writer_chunked_staging_batch_size_invariant(spark, tmp_path):
    """Round-6 chunked writer (VERDICT r5 #3): a task stages one pid per
    ~target_bytes of CONTENT instead of materializing the whole task, and
    chunk boundaries derive from exact per-row content bytes — so staged
    pids are byte-identical under any Arrow batch size."""
    from parzig_spark.plans.manifest import ManifestStore

    register_datasource(spark)
    df = _src(spark, 6_000).coalesce(1)  # ONE task -> multi-chunk staging
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    got = {}
    try:
        for rows in (128, 1024, 4096, 8192):  # 8192: one batch holds all rows
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))
            root = str(tmp_path / f"w{rows}")
            (df.write.format("parzig").mode("append")
               .option("target_bytes", 16 << 10).save(root))
            got[rows] = sorted(ManifestStore(root).committed_pids())
            assert decode_table(spark, root).count() == 6_000
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got[128]) > 1, "expected a multi-chunk task"
    assert got[128] == got[1024] == got[4096] == got[8192], got


def test_writer_duplicate_chunk_content_fails_loudly(spark, tmp_path):
    """r5 ADVICE: two distinct chunks of ONE write with identical content
    would stage the same content-derived pid and silently seal one copy —
    the commit must refuse instead of dropping rows."""
    import pytest

    register_datasource(spark)
    # two explicit RDD partitions carrying IDENTICAL rows (union/coalesce
    # forms get collapsed to one partition by the optimizer/AQE)
    rows = [(i % 6, i, f"cat{i % 6}") for i in range(500)]
    dup = spark.createDataFrame(
        spark.sparkContext.parallelize(rows * 2, 2),
        "grp int, k long, cat string",
    )
    assert dup.rdd.getNumPartitions() == 2
    root = str(tmp_path / "wdup")
    with pytest.raises(Exception, match="identical content"):
        dup.write.format("parzig").mode("append").save(root)
