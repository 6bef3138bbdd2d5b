"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full encode → manifest → decode → sha256-verify
round-trip of the sf0.001 tables through the parzig_spark engine, returning
the per-column compression/verification summary.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 (encode/decode round-trips through every codec path, the codec
selector, the store operators, relational ops over decoded data). Money
sums use per-row FLOOR(x*100) ints so Spark and DuckDB hash identically
(no float-sum order sensitivity).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parzig_spark.operators import decode_table, encode_table, verify_roundtrip


def _roundtrip(spark: SparkSession, sf_dir: str, table: str, group_cols, salt_cols, size_col=None, sort_cols=None) -> DataFrame:
    """Encode a testdata table into a fresh store, decode it back.

    ``sort_cols``: pass the table's unique key where one exists — the
    canonical in-bucket order only needs a deterministic total order, and
    sorting by one key column instead of every scalar column cuts the
    per-bucket sort cost (the dominant non-codec encode work)."""
    src = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    root = tempfile.mkdtemp(prefix=f"parzig_{table}_")
    encode_table(
        src,
        root,
        group_cols=group_cols,
        salt_cols=salt_cols,
        size_col=size_col,
        sort_cols=sort_cols,
        target_bytes=32 << 20,
        resume=False,
    ).count()  # materialize = run the encode
    return decode_table(spark, root)


def _floor_cents(col):
    return F.floor(col * 100).cast("long")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_roundtrip_documents(spark, sf_dir):
    dec = _roundtrip(spark, sf_dir, "documents", ["lang", "source"], ["doc_id"], "text", sort_cols=["doc_id"])
    return dec.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.sha2("text", 256).alias("text_sha"),
    )


def q_roundtrip_compacted(spark, sf_dir):
    """Store maintenance end to end, oracle-gated: documents encoded under a
    deliberately tiny partition target (the streaming/backfill small-file
    pathology), then compact_store bin-packs the fragments into few large
    partitions (the Iceberg rewrite_data_files analog — no shuffle, one
    task per merge group) and gc_store scrubs superseded snapshots; the
    COMPACTED store must decode bit-identical to the source."""
    from parzig_spark.operators import compact_store, gc_store

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_root = tempfile.mkdtemp(prefix="parzig_frag_")
    dst_root = tempfile.mkdtemp(prefix="parzig_compacted_")
    encode_table(
        src, src_root, group_cols=["lang", "source"], salt_cols=["doc_id"],
        size_col="text", sort_cols=["doc_id"], target_bytes=256 << 10,
        resume=False,
    ).count()
    compact_store(spark, src_root, dst_root, target_bytes=32 << 20).count()
    gc_store(dst_root)
    dec = decode_table(spark, dst_root)
    return dec.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.sha2("text", 256).alias("text_sha"),
    )


def q_roundtrip_zorder_prune(spark, sf_dir):
    """Z-order compaction rewrite, oracle-gated — the Iceberg
    rewrite_data_files(strategy => 'zorder') analog: orders compact along a
    Morton curve over (o_custkey, o_orderkey) ranks into the PAGED layout,
    then decode under predicates on BOTH axes; page envelopes stay tight on
    each z-ordered column, and the per-row hash proves the curve rewrite
    and two-axis page skipping drop no qualifying row."""
    from parzig_spark.operators import compact_store

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src_root = tempfile.mkdtemp(prefix="parzig_zsrc_")
    dst_root = tempfile.mkdtemp(prefix="parzig_zorder_")
    encode_table(
        src, src_root, group_cols=["o_orderstatus"], salt_cols=["o_orderkey"],
        target_bytes=512 << 10, resume=False,
    ).count()
    compact_store(
        spark, src_root, dst_root, target_bytes=64 << 20,
        zorder_cols=["o_custkey", "o_orderkey"], page_values=4096,
    ).count()
    dec = decode_table(
        spark, dst_root,
        predicates=[("o_custkey", "<=", 500), ("o_orderkey", "<=", 60_000)],
    )
    return (
        dec.select("o_orderkey", "o_custkey",
                   _floor_cents(F.col("o_totalprice")).alias("price_cents"))
        .orderBy("o_orderkey")
    )


def _two_batch_store(spark, sf_dir):
    """Documents encoded as two batches (distinct pid namespaces — the
    streaming micro-batch shape) with a snapshot between them: the fixture
    for time-travel and incremental reads. Batch split is the deterministic
    predicate lang < 'm', reproducible in the DuckDB twin."""
    from parzig_spark.plans.manifest import ManifestStore

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_tt_")
    common = dict(
        group_cols=["lang", "source"], salt_cols=["doc_id"], size_col="text",
        sort_cols=["doc_id"], target_bytes=32 << 20, bucket_bits=16,
    )
    encode_table(
        src.filter(F.col("lang") < "m"), root, pid_namespace=1, resume=False, **common
    ).count()
    ManifestStore(root).write_snapshot()  # version 0: first batch only
    encode_table(
        src.filter(~(F.col("lang") < "m")), root, pid_namespace=2, resume=True, **common
    ).count()
    ManifestStore(root).write_snapshot()  # version 1: both
    return root


def q_time_travel(spark, sf_dir):
    """Snapshot time travel + incremental read over ONE two-batch store,
    oracle-gated (the Iceberg VERSION AS OF / CDC append-scan analogs):
    reading at snapshot 0 must see EXACTLY the first batch (later commits
    invisible), and reading since snapshot 0 must see EXACTLY the second —
    the phases partition the table, so either lane leaking into the other
    hash-mismatches."""
    root = _two_batch_store(spark, sf_dir)

    def pick(df, phase):
        return df.select(
            "doc_id", "lang", "n_chars", F.sha2("text", 256).alias("text_sha"),
            F.lit(phase).alias("phase"),
        )

    pinned = pick(decode_table(spark, root, snapshot=0), "snapshot0")
    delta = pick(decode_table(spark, root, since_snapshot=0), "delta")
    return pinned.unionByName(delta)


def q_snapshot_ref(spark, sf_dir):
    """Named refs (tags/branches) + their GC pin, oracle-gated (the Iceberg
    ``VERSION AS OF 'tag'`` / refs-aware ``expire_snapshots`` analog): the
    first batch's snapshot is tagged, ``gc_store`` then runs — which would
    reclaim that superseded snapshot without the tag — and reading the
    store BY NAME must still see exactly the first batch, bit-identical."""
    from parzig_spark.operators import create_ref, gc_store

    root = _two_batch_store(spark, sf_dir)
    create_ref(root, "audit", kind="tag", version=0)
    gc_store(root)  # the tag is what keeps snapshot 0 readable past this
    dec = decode_table(spark, root, ref="audit")
    return dec.select(
        "doc_id", "lang", "n_chars", F.sha2("text", 256).alias("text_sha")
    )


def q_wap_publish(spark, sf_dir):
    """Write-audit-publish lifecycle, oracle-gated (the Iceberg wap.id /
    branch-staging workflow): the store starts at batch 1 (lang < 'm');
    batch 2 stages under a wap_id — the HEAD decode taken at that point
    must still be exactly batch 1 (isolation) — the staged branch is
    scrubbed by verify_store(ref=...) (a single bad blob aborts the
    query), then publish_ref flips the head, whose decode must be the
    full table. Both phases return in one frame, so a leaky stage or a
    lossy publish hash-mismatches the DuckDB twin."""
    from parzig_spark.operators import publish_ref, stage_batch
    from parzig_spark.operators.verify import verify_store

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_wap_")
    encode_table(
        src.filter(F.col("lang") < "m"), root,
        group_cols=["lang", "source"], salt_cols=["doc_id"], size_col="text",
        sort_cols=["doc_id"], target_bytes=32 << 20, resume=False,
    ).count()
    info = stage_batch(
        spark, src.filter(~(F.col("lang") < "m")), root, wap_id="q-batch-2"
    )
    staged_head = decode_table(spark, root)  # pinned pre-publish snapshot
    bad = (
        verify_store(spark, root, ref=info["branch"])
        .filter(~F.col("ok")).count()
    )
    if bad:
        raise RuntimeError(f"WAP audit failed: {bad} corrupt staged blobs")
    publish_ref(root, info["branch"])
    published = decode_table(spark, root)

    def pick(df, phase):
        return df.select(
            "doc_id", "lang", "n_chars",
            F.sha2("text", 256).alias("text_sha"),
            F.lit(phase).alias("phase"),
        )

    return pick(staged_head, "staged").unionByName(pick(published, "published"))


def q_datasource_sql(spark, sf_dir):
    """The parzig Python Data Source (Spark 4 DataSource V2), oracle-gated:
    plain SQL over ``spark.read.format("parzig")`` — Catalyst compiles the
    WHERE clause to Filter objects, pushFilters hands them to the store's
    partition pruning (min/max + blooms + exact distinct sets, planned
    driver-side with no Spark job), and each surviving partition decodes
    through the shared Arrow kernel, which keeps exactly the matching rows
    (Spark plans no residual Filter for them). The per-row sha proves the
    full pipeline (pruning + page skipping + row mask) loses and invents
    nothing.

    The WRITE half is gated in the same frame: the zh slice is written to a
    second store through ``df.write.format("parzig")`` (the
    DataSourceArrowWriter two-phase commit — staged content-namespaced
    partitions sealed by the driver) and read back through SQL; a lossy or
    duplicating writer hash-mismatches the raw-table twin."""
    from parzig_spark.sources.datasource import register_datasource

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_ds_")
    encode_table(
        src, root, group_cols=["lang", "source"], salt_cols=["doc_id"],
        size_col="text", target_bytes=1 << 20, resume=False,
    ).count()
    register_datasource(spark)
    spark.read.format("parzig").load(root).createOrReplaceTempView("parzig_docs")
    read_half = spark.sql(
        "SELECT doc_id, lang, n_chars, sha2(text, 256) AS text_sha, "
        "'read' AS api "
        "FROM parzig_docs WHERE lang = 'zh' AND source LIKE 'src1%'"
    )
    wroot = tempfile.mkdtemp(prefix="parzig_dsw_")
    (
        src.filter(F.col("lang") == "zh")
        .select("doc_id", "lang", "n_chars", "text")
        .repartition(2)
        .write.format("parzig").mode("append").save(wroot)
    )
    spark.read.format("parzig").load(wroot).createOrReplaceTempView(
        "parzig_docs_written"
    )
    write_half = spark.sql(
        "SELECT doc_id, lang, n_chars, sha2(text, 256) AS text_sha, "
        "'write' AS api FROM parzig_docs_written"
    )
    return read_half.unionByName(write_half)


def q_stream_tail(spark, sf_dir):
    """Structured-Streaming READ of the store, oracle-gated:
    ``spark.readStream.format("parzig")`` tails published snapshots with
    integer offsets (each micro-batch = the incremental read between two
    versions, applying that snapshot's delete ops), drained here with
    availableNow into a parquet sink. The sink read-back must hash-match
    all documents — a dropped partition, duplicated delivery, or
    unpublished-data leak all surface as value mismatches."""
    from parzig_spark.sources.datasource import register_datasource

    root = _two_batch_store(spark, sf_dir)
    register_datasource(spark)
    out = tempfile.mkdtemp(prefix="parzig_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="parzig_stream_ckpt_")
    q = (
        spark.readStream.format("parzig")
        .option("starting", "earliest").load(root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(out).select(
        "doc_id", "lang", "n_chars", F.sha2("text", 256).alias("text_sha")
    )


def q_cdc_changes(spark, sf_dir):
    """Row-level changelog, oracle-gated (the Iceberg CDC /
    create_changelog_view analog): over the two-batch store, a delete op
    (lang = 'de', batch-1 rows) commits after snapshot 1; the changelog
    from snapshot 0 to the post-delete snapshot must be exactly batch 2
    as inserts plus the de-rows as deletes — decoding ONLY the affected
    partitions (appended + delete-touched). A visibility error in either
    direction (phantom insert, missed delete) hash-mismatches DuckDB
    computing the same sets from raw rows."""
    from parzig_spark.operators import changes_table, delete_rows
    from parzig_spark.plans.manifest import ManifestStore

    root = _two_batch_store(spark, sf_dir)  # v0 = lang<'m', v1 = all
    delete_rows(spark, root, [("lang", "==", "de")])
    ManifestStore(root).write_snapshot()  # v2: both batches minus de
    ch = changes_table(spark, root, 0, 2)
    return ch.select(
        "doc_id", "lang", "n_chars", F.sha2("text", 256).alias("text_sha"),
        "_change_type",
    )


def q_quality_report(spark, sf_dir):
    """Metadata-scale data-quality report, oracle-gated (the WAP audit
    gate; Great-Expectations analog): documents encode lang/source-
    grouped and check_store evaluates six expectations — counts and null
    stats from exact manifest n_values/stat_nulls, string domain and
    extrema from the exact stat_distinct sets, integer bounds from exact
    int stats — without decoding a single clean partition. Every verdict
    AND its observed string must hash-match DuckDB computing the same
    checks from raw rows (the values_in_set check intentionally FAILS so
    the violator-reporting path is gated too)."""
    from parzig_spark.operators import check_store

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_quality_")
    encode_table(
        src, root, group_cols=["lang", "source"], salt_cols=["doc_id"],
        size_col="text", target_bytes=1 << 20, resume=False,
    ).count()
    return check_store(spark, root, [
        ("row_count_between", None, (1, 1_000_000_000)),
        ("no_nulls", "lang", None),
        ("null_fraction_at_most", "n_chars", 0.5),
        ("values_in_set", "lang", ["de", "en", "es", "fr"]),
        ("min_at_least", "n_chars", 0),
        ("max_at_most", "lang", "zz"),
    ])


def q_add_column_backfill(spark, sf_dir):
    """Schema evolution, oracle-gated: documents are encoded, then a
    derived column (text_len) backfills into a NEW store root via
    add_columns — existing blobs hardlink across (bytes moved scale with
    the new column only), per-partition digests prove row alignment, and
    the evolved store must decode the original columns bit-identical next
    to the new one."""
    from parzig_spark.operators import add_columns

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_root = tempfile.mkdtemp(prefix="parzig_evolve_src_")
    dst_root = tempfile.mkdtemp(prefix="parzig_evolve_dst_")
    encode_table(
        src, src_root, group_cols=["lang", "source"], salt_cols=["doc_id"],
        size_col="text", sort_cols=["doc_id"], target_bytes=32 << 20,
        resume=False,
    ).count()
    widened = src.withColumn("text_len", F.length("text"))
    add_columns(widened, src_root, dst_root, ["text_len"]).count()
    dec = decode_table(spark, dst_root)
    return dec.select(
        "doc_id", "lang", "text_len", F.sha2("text", 256).alias("text_sha")
    )


def q_delete_rows(spark, sf_dir):
    """Row-level deletes (merge-on-read), oracle-gated: documents are
    encoded, rows matching a predicate are deleted via per-partition RLE
    bitmaps (no blob rewritten — the Iceberg v2 positional-delete analog),
    and the decoded store must match DuckDB computing the complement. The
    op commits atomically at store level (content-derived op id + marker);
    a replay is a no-op."""
    from parzig_spark.operators import delete_rows

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_del_")
    encode_table(
        src, root, group_cols=["lang", "source"], salt_cols=["doc_id"],
        size_col="text", sort_cols=["doc_id"], target_bytes=32 << 20,
        resume=False,
    ).count()
    delete_rows(spark, root, [("lang", "==", "zh")])
    delete_rows(spark, root, [("doc_id", "<", 25)])
    dec = decode_table(spark, root)
    return dec.select(
        "doc_id", "lang", "n_chars", F.sha2("text", 256).alias("text_sha")
    )


def q_upsert_merge(spark, sf_dir):
    """UPSERT (MERGE INTO) end to end, oracle-gated: orders encode, then one
    merge replaces every order of a set of customers with re-priced rows AND
    inserts brand-new order keys — delete bitmaps for the matched rows, a
    namespaced append for the new ones, one content-derived op marker. The
    decoded store must hash-match DuckDB computing anti-join ∪ updates."""
    from parzig_spark.operators import upsert_rows

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    root = tempfile.mkdtemp(prefix="parzig_upsert_")
    encode_table(
        src, root, group_cols=["o_orderstatus"], salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], target_bytes=1 << 20, resume=False,
    ).count()
    # replaced: orders of customers 371/742 at doubled price, priority pinned;
    # inserted: 20 synthetic keys above the existing range
    max_key = 10_000_000
    updates = (
        src.filter(F.col("o_custkey").isin([371, 742]))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderpriority", F.lit("1-URGENT"))
        .unionByName(
            src.orderBy("o_orderkey").limit(20)
            .withColumn("o_orderkey", F.col("o_orderkey") + max_key)
            .withColumn("o_custkey", F.lit(999_999).cast("long"))
        )
    )
    upsert_rows(spark, root, updates, key_cols=["o_orderkey"])
    dec = decode_table(spark, root)
    return (
        dec.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(_floor_cents(F.col("o_totalprice"))).alias("sum_price_cents"),
        )
        .orderBy("o_orderpriority")
    )


def q_store_files(spark, sf_dir):
    """Files inspection table (the Iceberg ``table.files`` metadata-view
    analog; the reference dumps the same footer metadata via its CLI —
    /root/reference/src/generated/parquet.zig:382-419), oracle-gated:
    documents encode into a store, then the metadata-only files_table
    listing — which never opens a blob — must account for every physical
    value: per column, total n_values equals the source row count,
    stat_nulls the source null count, and the exact decimal stat_sum lane
    reproduces SUM(col) for integer columns."""
    from parzig_spark.operators import files_table

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_files_")
    encode_table(
        src, root, group_cols=["lang", "source"], salt_cols=["doc_id"],
        size_col="text", sort_cols=["doc_id"], target_bytes=1 << 20,
        resume=False,
    ).count()
    ft = files_table(spark, root)
    return (
        ft.groupBy(F.col("column").alias("col_name"))
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("stat_nulls").alias("n_nulls"),
            F.sum(F.col("stat_sum").cast("decimal(38,0)"))
            .cast("long")
            .alias("int_sum"),
        )
        .orderBy("col_name")
    )


def q_snapshot_rollback(spark, sf_dir):
    """Snapshot rollback (the Iceberg ``rollback_to_snapshot`` analog),
    oracle-gated: the two-batch store gains a row-level delete AFTER its
    second snapshot, then rolls back to version 0 — the DEFAULT read must
    see exactly the first batch with the delete undone. Metadata-only
    marker surgery: the second batch's partition markers and the delete
    op's marker are retired (blobs stay on disk for gc_store), and a
    sealing snapshot flips readers atomically."""
    from parzig_spark.operators import delete_rows, rollback_store

    root = _two_batch_store(spark, sf_dir)
    delete_rows(spark, root, [("doc_id", "<", 25)])
    rollback_store(root, 0)
    dec = decode_table(spark, root)
    return dec.select(
        "doc_id", "lang", "n_chars", F.sha2("text", 256).alias("text_sha")
    )


def q_roundtrip_lineitem_q1(spark, sf_dir):
    dec = _roundtrip(spark, sf_dir, "lineitem", ["l_returnflag", "l_linestatus"], ["l_orderkey"], sort_cols=["l_orderkey", "l_linenumber"])
    return (
        dec.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.sum(_floor_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_floor_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(
                _floor_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_roundtrip_orders(spark, sf_dir):
    dec = _roundtrip(spark, sf_dir, "orders", ["o_orderpriority", "o_orderstatus"], ["o_orderkey"], sort_cols=["o_orderkey"])
    return (
        dec.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(_floor_cents(F.col("o_totalprice"))).alias("sum_price_cents"),
        )
        .orderBy("o_orderpriority")
    )


def q_roundtrip_pruned(spark, sf_dir):
    """Partition pruning across all three stat families in one gated frame
    (sections tagged; over-pruning in any lane hash-mismatches):

    - ``int_range``: orders encoded into byte-bounded o_orderkey bands,
      decoded under a min/max range predicate (the Parquet Statistics
      skipping the reference parses but never applies).
    - ``str_eq``: documents bucketed by lang, pruned by truncated-but-sound
      string bounds + exact distinct sets on an equality predicate.
    - ``str_prefix``: documents bucketed by source, pruned under a
      lexicographic range AND a prefix predicate (the [p, next(p))
      interval on truncated string bounds)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "okey_band", (F.col("o_orderkey") / 8192).cast("int")
    )
    root = tempfile.mkdtemp(prefix="parzig_pruned_")
    encode_table(
        orders, root, group_cols=["okey_band"], salt_cols=["o_orderkey"],
        target_bytes=128 << 10, resume=False,
    ).count()
    dec = decode_table(spark, root, predicates=[("o_orderkey", "<=", 2000)])
    int_range = (
        dec.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(_floor_cents(F.col("o_totalprice"))).alias("sum_price_cents"),
        )
        .withColumn("section", F.lit("int_range"))
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lang_root = tempfile.mkdtemp(prefix="parzig_strprune_")
    encode_table(
        docs, lang_root, group_cols=["lang"], salt_cols=["doc_id"],
        size_col="text", target_bytes=1 << 20, resume=False,
    ).count()
    str_eq = (
        decode_table(spark, lang_root, predicates=[("lang", "==", "zh")])
        .select("doc_id", "lang", F.sha2("text", 256).alias("text_sha"))
        .withColumn("section", F.lit("str_eq"))
    )

    pfx_root = tempfile.mkdtemp(prefix="parzig_prefixprune_")
    encode_table(
        docs, pfx_root, group_cols=["source"], salt_cols=["doc_id"],
        size_col="text", target_bytes=1 << 20, resume=False,
    ).count()
    str_prefix = (
        decode_table(
            spark, pfx_root,
            predicates=[("source", ">=", "src15"), ("source", "startswith", "src1")],
        )
        .select("doc_id", "source", F.sha2("text", 256).alias("text_sha"))
        .withColumn("section", F.lit("str_prefix"))
    )
    return int_range.unionByName(
        str_eq, allowMissingColumns=True
    ).unionByName(str_prefix, allowMissingColumns=True)


def q_roundtrip_events_window(spark, sf_dir):
    dec = _roundtrip(spark, sf_dir, "events", ["event_type"], ["event_id"], sort_cols=["event_id"])
    return (
        dec.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_floor_cents(F.col("value"))).alias("sum_value_cents"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "sum_value_cents")
        .orderBy("wstart", "event_type")
    )


def q_roundtrip_forced_codecs(spark, sf_dir):
    """Per-encoding conformance, oracle-gated (the role of the reference's
    per-encoding golden tests, /root/reference/src/parquet_testing.zig:332):
    BIT_PACKED (E5) on a narrow-range int, DELTA_BYTE_ARRAY (E8) on a
    string, BYTE_STREAM_SPLIT (E9) on a float — all under a pinned SNAPPY
    outer (C2) — encoded, decoded, and aggregated bit-exact.

    Conformance needs bit-exactness, not volume: the deterministic 1-in-8
    key filter keeps every codec lane and every o_orderstatus group while
    cutting the encode+decode work 8× (this was the bench's most expensive
    entry at full volume)."""
    src = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.pmod(F.col("o_orderkey"), F.lit(8)) == 0)
        .select(
            "o_orderkey",
            F.pmod(F.col("o_orderkey"), F.lit(16)).cast("int").alias("key_mod"),
            "o_orderpriority",
            "o_totalprice",
            "o_orderstatus",
        )
    )
    root = tempfile.mkdtemp(prefix="parzig_forced_")
    # 4 MB target: the 1-in-8 sample is a few MB — one 32 MB bucket ran the
    # forced codec lanes in a single task (measured 2.9s -> 2.4s)
    encode_table(
        src, root, group_cols=["o_orderstatus"], salt_cols=["o_orderkey"],
        target_bytes=4 << 20, resume=False, outer="snappy",
        codec_overrides={
            "key_mod": "bitpack",
            "o_orderpriority": "delta_byte",
            "o_totalprice": "byte_stream_split",
        },
    ).count()
    dec = decode_table(spark, root)
    return (
        dec.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("key_mod").alias("sum_mod"),
            F.sum(_floor_cents(F.col("o_totalprice"))).alias("sum_price_cents"),
            F.min("o_orderpriority").alias("min_prio"),
            F.max("o_orderpriority").alias("max_prio"),
        )
        .orderBy("o_orderstatus")
    )


def q_roundtrip_nested(spark, sf_dir):
    """MAP (S6) + STRUCT (S7) + LIST (S5) scans, oracle-gated under a pinned
    GZIP outer (C3): nested columns built from customer, encoded through the
    Dremel-shaped nested codecs (lengths + recursively encoded children,
    /root/reference/src/parquet/nestedReader.zig:12-144), decoded, and
    flattened to scalars DuckDB reproduces from the base table."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    src = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.struct(
            F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("bal")
        ).alias("cs"),
        F.create_map(
            F.lit("bal"), F.col("c_acctbal"),
            F.lit("key"), F.col("c_custkey").cast("double"),
        ).alias("cm"),
        F.array(F.col("c_custkey"), F.col("c_nationkey").cast("long")).alias("ca"),
    )
    root = tempfile.mkdtemp(prefix="parzig_nested_")
    # 4 MB partition target: this table is ~12 MB — a 32 MB target made ONE
    # bucket, serializing every nested kernel + the gzip outer into a
    # single task (bucket count is a data property; sizing the target to
    # the table is how a fixed small input fans out; measured 3.9s -> 2.6s)
    encode_table(
        src, root, group_cols=["c_mktsegment"], salt_cols=["c_custkey"],
        target_bytes=4 << 20, resume=False, outer="gzip",
    ).count()
    dec = decode_table(spark, root)
    return (
        dec.groupBy(F.col("cs.seg").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_floor_cents(F.col("cs.bal"))).alias("sum_bal_cents"),
            F.sum(_floor_cents(F.element_at(F.col("cm"), F.lit("bal")))).alias("sum_map_cents"),
            F.sum(F.element_at(F.col("ca"), 1)).alias("sum_key"),
            F.sum(F.element_at(F.col("ca"), 2)).alias("sum_nation"),
        )
        .orderBy("seg")
    )


def q_roundtrip_pinned_outers(spark, sf_dir):
    """Pinned block-codec lanes in one gated frame (sections tagged):

    - ``lz4_bool``: the RLE-boolean data lane (E10) under a pinned LZ4_RAW
      outer (C5, /root/reference/src/compress/lz4.zig:17-198) over orders
      (the boolean is projected to int in the OUTPUT only — pandas object
      columns hash fragile under union nulls; the stored lane is bool).
    - ``stored``: C1 UNCOMPRESSED
      (/root/reference/src/parquet/rowGroupReader.zig:364) as the pinned
      STORED outer over supplier — ``outer=None`` keeps every blob raw, so
      the decode path here is the passthrough lane end to end."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") > 150000.0).alias("big"),
    )
    lz4_root = tempfile.mkdtemp(prefix="parzig_boolrle_")
    encode_table(
        orders, lz4_root, group_cols=["o_orderstatus"], salt_cols=["o_orderkey"],
        target_bytes=32 << 20, resume=False, outer="lz4_raw",
        codec_overrides={"big": "rle"},
    ).count()
    lz4_bool = (
        decode_table(spark, lz4_root)
        .groupBy("o_orderstatus", "big")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("sum_key"))
        .select(
            "o_orderstatus", F.col("big").cast("int").alias("big"),
            "n", "sum_key",
        )
        .withColumn("section", F.lit("lz4_bool"))
    )

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    raw_root = tempfile.mkdtemp(prefix="parzig_uncomp_")
    encode_table(
        supp, raw_root, group_cols=["s_nationkey"], salt_cols=["s_suppkey"],
        target_bytes=32 << 20, resume=False, outer=None,
    ).count()
    stored = (
        decode_table(spark, raw_root)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s_suppkey").alias("sum_key"),
            F.sum(_floor_cents(F.col("s_acctbal"))).alias("sum_bal_cents"),
            F.min("s_name").alias("min_name"),
        )
        .withColumn("section", F.lit("stored"))
    )
    return lz4_bool.unionByName(stored, allowMissingColumns=True)


def q_roundtrip_int96(spark, sf_dir):
    """INT96-sourced timestamps end to end, oracle-gated: a parquet file is
    written with use_deprecated_int96_timestamps=True (the legacy Hive/Spark
    physical type the reference decodes as i96 nanos,
    /root/reference/src/parquet/dynamic.zig:6-58), Spark's INT96 reader
    ingests it, the engine encodes/decodes the resulting TimestampType
    column, and epoch aggregates must match DuckDB recomputing the same
    deterministic timestamps from the base orders table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_tbl = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderpriority", "o_orderdate"],
    )
    keys = src_tbl.column("o_orderkey").to_numpy()
    dates = src_tbl.column("o_orderdate").to_numpy().astype("datetime64[s]")
    # deterministic intra-day offset; % 86399 caps at 86398 s so the
    # timestamp never wraps into the next day (SQL twin: to_seconds)
    ts = dates + (keys % 86399).astype("timedelta64[s]")
    int96_tbl = pa.table(
        {
            "o_orderkey": src_tbl.column("o_orderkey"),
            "o_orderpriority": src_tbl.column("o_orderpriority"),
            "event_ts": pa.array(ts.astype("datetime64[us]")),
        }
    )
    d = tempfile.mkdtemp(prefix="parzig_int96_src_")
    pq.write_table(
        int96_tbl,
        os.path.join(d, "orders_int96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    rebase_key = "spark.sql.parquet.int96RebaseModeInRead"
    old_rebase = spark.conf.get(rebase_key, None)
    spark.conf.set(rebase_key, "CORRECTED")
    try:
        src = spark.read.parquet(d)
        root = tempfile.mkdtemp(prefix="parzig_int96_store_")
        encode_table(
            src, root, group_cols=["o_orderpriority"], salt_cols=["o_orderkey"],
            target_bytes=32 << 20, resume=False,
        ).count()  # the INT96 read is fully consumed by the encode action
    finally:
        # never leak the rebase mode into the shared session: later parquet
        # reads must keep the default loud-failure semantics
        if old_rebase is None:
            spark.conf.unset(rebase_key)
        else:
            spark.conf.set(rebase_key, old_rebase)
    dec = decode_table(spark, root)
    return (
        dec.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # sum in SECONDS (micros would overflow int64 over 150k rows);
            # min/max carry the full microsecond fidelity
            F.sum(F.unix_seconds("event_ts")).alias("sum_epoch_s"),
            F.min(F.unix_micros("event_ts")).alias("min_epoch_us"),
            F.max(F.unix_micros("event_ts")).alias("max_epoch_us"),
        )
        .orderBy("o_orderpriority")
    )


def q_roundtrip_stats_prune(spark, sf_dir):
    """Page-level statistics skipping over ONE paged store, all three probe
    shapes in one gated frame (sections tagged):

    - ``page_range``: orders in the PAGED layout (4096-value sections,
      per-page min/max — the ColumnIndex analog the reference parses but
      never applies, /root/reference/src/generated/parquet.zig:506-515),
      sorted by o_orderkey; the range predicate reads only the sections
      that can contain keys <= 5000.
    - ``bloom_eq``: o_custkey is scattered against the sort order, so every
      page's [min, max] spans the customer domain — only the per-page
      blooms (the BloomFilterHeader analog, parquet.zig:312-325) can prove
      pages free of the probed customer; a bloom false negative would lose
      rows and hash-mismatch.
    - ``in_list``: the multi-point probe — a partition/page survives iff
      ANY listed value may match; the partition bloom excludes only when
      it proves EVERY value absent."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    root = tempfile.mkdtemp(prefix="parzig_statsprune_")
    encode_table(
        src, root, group_cols=["o_orderstatus"], salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], target_bytes=64 << 20, resume=False,
        page_values=4096,
    ).count()
    page_range = (
        decode_table(spark, root, predicates=[("o_orderkey", "<=", 5000)])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(_floor_cents(F.col("o_totalprice"))).alias("sum_price_cents"),
        )
        .withColumn("section", F.lit("page_range"))
    )
    bloom_eq = (
        decode_table(spark, root, predicates=[("o_custkey", "==", 371)])
        .select("o_orderkey", "o_orderpriority",
                _floor_cents(F.col("o_totalprice")).alias("price_cents"))
        .withColumn("section", F.lit("bloom_eq"))
    )
    keys = [371, 742, 1484]
    in_list = (
        decode_table(spark, root, predicates=[("o_custkey", "in", keys)])
        .select("o_orderkey", "o_custkey",
                _floor_cents(F.col("o_totalprice")).alias("price_cents"))
        .withColumn("section", F.lit("in_list"))
    )
    return page_range.unionByName(
        bloom_eq, allowMissingColumns=True
    ).unionByName(in_list, allowMissingColumns=True)


def q_agg_pushdown(spark, sf_dir):
    """Metadata-only aggregate pushdown, oracle-gated — the Parquet
    footer-aggregate / Iceberg partition-stats analog (the reference parses
    Statistics but never consults them, generated/parquet.zig:55-76):
    orders encode banded by o_orderkey; COUNT/SUM/MIN/MAX under a range
    predicate answer from manifest stat_sum/stat_nulls/min/max for the
    fully-covered bands, decode ONLY the band the predicate straddles, and
    the combined row must hash-match DuckDB computing the same aggregates
    from raw rows (any unsound metadata shortcut shows up as a value
    mismatch)."""
    from parzig_spark.operators import aggregate_store

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "okey_band", (F.col("o_orderkey") / 8192).cast("int")
    )
    root = tempfile.mkdtemp(prefix="parzig_aggpush_")
    encode_table(
        src, root, group_cols=["okey_band"], salt_cols=["o_orderkey"],
        target_bytes=128 << 10, resume=False,
    ).count()
    return aggregate_store(
        spark, root,
        [("count", "*"), ("count", "o_custkey"), ("sum", "o_orderkey"),
         ("min", "o_orderkey"), ("max", "o_orderkey")],
        predicates=[("o_orderkey", "<=", 30_000)],
    )


def q_agg_distinct(spark, sf_dir):
    """Metadata-only COUNT(DISTINCT) pushdown, oracle-gated (the exact
    dual of Iceberg's approximate NDV partition stats): documents encode
    banded by doc_id (~64 ids per band, so even doc_id's per-partition
    distinct set fits the v7 cap); under a band-straddling predicate the
    fully-covered bands contribute their EXACT stat_distinct sets by pure
    set union — zero blobs opened — the straddled band decodes, and the
    combined COUNT(DISTINCT)s (low-card lang/source AND the high-card-
    per-store doc_id) must hash-match DuckDB counting raw rows. Any
    double-count across the metadata/decode halves or a canonicalization
    mismatch shows up as a value mismatch."""
    from parzig_spark.operators import aggregate_store

    src = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id_band", (F.col("doc_id") / 64).cast("int")
    )
    root = tempfile.mkdtemp(prefix="parzig_aggdist_")
    # 16 KiB partitions: even the sf0.01 oracle corpus (~150 KiB of text)
    # spreads over ~10 partitions, so the driver's gate actually exercises
    # pruned + metadata-covered + decoded bands, not one trivial decode
    encode_table(
        src, root, group_cols=["id_band"], salt_cols=["doc_id"],
        size_col="text", target_bytes=16 << 10, resume=False,
    ).count()
    return aggregate_store(
        spark, root,
        [("count", "*"), ("distinct", "lang"), ("distinct", "source"),
         ("distinct", "doc_id"), ("sum", "n_chars"),
         ("min", "lang"), ("max", "source")],
        predicates=[("doc_id", "<=", 300)],
    )


def q_agg_groupby(spark, sf_dir):
    """Partition-aligned GROUP BY rollup, oracle-gated (the Hive/Iceberg
    partition-column aggregate analog): documents encode with group_cols
    = lang, so pure partitions are provably single-valued on lang via
    their stat_distinct sets (size-1 + null-free) and contribute their
    stats to that group's row WITHOUT decoding — count/sum from exact
    manifest stats, COUNT(DISTINCT source) from per-partition set union —
    while hash-packed mixed partitions decode. The combined per-group
    rows must hash-match DuckDB grouping raw rows; a partition assigned
    to the wrong group or double-counted shows up as a value mismatch."""
    from parzig_spark.operators import aggregate_store

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_agggrp_")
    encode_table(
        src, root, group_cols=["lang"], salt_cols=["doc_id"],
        size_col="text", target_bytes=16 << 10, resume=False,
    ).count()
    return aggregate_store(
        spark, root,
        [("count", "*"), ("sum", "n_chars"), ("distinct", "source")],
        group_by=["lang"],
    )


def q_compression_summary(spark, sf_dir):
    """Encode summary, fully gated: per-column value counts hash against
    DuckDB count(*) directly, and the engine-internal byte metrics — which
    have no SQL twin (codec choice and encoded sizes exist only inside the
    engine) — are projected to a VALUE-BEARING boolean invariant instead of
    a rows-only check: per column, encoded bytes are positive, no larger
    than the raw bytes (the north rule's compression budget direction), and
    agree EXACTLY with what the store's manifests recorded (the returned
    summary and the committed metadata can't drift). The oracle pins
    ``bytes_ok`` to true, so any regression in the byte accounting flips a
    value and hash-mismatches."""
    from parzig_spark.operators.inspect import files_table

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_summary_")
    summary = (
        encode_table(
            src, root, group_cols=["lang", "source"], salt_cols=["doc_id"],
            size_col="text", resume=False,
        )
        .groupBy("column")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
    )
    summary = summary.cache()
    summary.count()  # run the encode before the manifest view reads it
    manifest = files_table(spark, root).groupBy("column").agg(
        F.sum("enc_bytes").alias("m_enc"), F.sum("raw_bytes").alias("m_raw")
    )
    return (
        summary.join(manifest, "column")
        .select(
            "column",
            "n_values",
            (
                (F.col("enc_bytes") > 0)
                & (F.col("raw_bytes") > 0)
                & (F.col("enc_bytes") <= F.col("raw_bytes"))
                & (F.col("enc_bytes") == F.col("m_enc"))
                & (F.col("raw_bytes") == F.col("m_raw"))
            ).alias("bytes_ok"),
        )
        .orderBy("column")
    )


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_floor_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_floor_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(
                _floor_cents(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_segment_revenue(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # SHUFFLE_HASH (guide §3.1): orders is the bounded dimension side of
    # the fact join — building a per-partition hash map skips sorting BOTH
    # 6M-row inputs (planner kept picking sort-merge from size estimates;
    # measured 2.1s -> 1.0s). AQE skew handling still applies.
    return (
        li.join(orders.hint("SHUFFLE_HASH"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                _floor_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


def q_roundtrip_embeddings(spark, sf_dir):
    dec = _roundtrip(spark, sf_dir, "embeddings", ["label"], ["vec_id"], sort_cols=["vec_id"])
    return dec.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.floor(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * 1000
        ).cast("long").alias("sum_milli"),
    ).orderBy("vec_id")


def q_roundtrip_decimal(spark, sf_dir):
    """DecimalType money column end to end (encode → decode → exact SUM):
    the reference decodes DECIMAL from INT32/INT64/FIXED
    (/root/reference/src/parquet/logical.zig:230-265); our engine stores it
    lossless as two FOR-coded int64 lanes."""
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(15,2)").alias("price_dec"),
    )
    root = tempfile.mkdtemp(prefix="parzig_dec_")
    # 16 MB target (interleaved best-of-3 A/B: 16M 5.87s < 32M 6.38 <
    # 8M 6.54 — ~10 buckets fill one task wave; more buckets only add
    # per-bucket manifest/blob overhead against a per-row boundary floor)
    encode_table(
        src, root, group_cols=["l_returnflag"], salt_cols=["l_orderkey"],
        target_bytes=16 << 20, resume=False,
    ).count()
    dec = decode_table(spark, root)
    return (
        dec.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact decimal sum, projected to BIGINT cents (decimal objects
            # canonicalize differently across pandas bridges)
            (F.sum("price_dec") * 100).cast("long").alias("sum_price_cents"),
        )
        .orderBy("l_returnflag")
    )


def q_relational_aggregates(spark, sf_dir):
    """Aggregate-shaped relational surface in one gated frame (sections
    tagged): ROLLUP over (returnflag, linestatus) — subtotal and
    grand-total rows alongside the leaf groups in one pass (Catalyst
    expands grouping sets, partial aggregation still applies); PIVOT of
    order counts per priority × status with pinned statuses (explicit
    values keep the plan a single pass — no distinct-values pre-job); and
    DISTINCT projection over part (brand, type)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_floor_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
        )
        .withColumn("section", F.lit("rollup"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pivot = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").alias("f_cnt"),
            F.col("O").alias("o_cnt"),
            F.col("P").alias("p_cnt"),
        )
        .withColumn("section", F.lit("pivot"))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dist = (
        part.select("p_brand", "p_type").distinct()
        .withColumn("section", F.lit("distinct"))
    )
    return rollup.unionByName(pivot, allowMissingColumns=True).unionByName(
        dist, allowMissingColumns=True
    )


def q_relational_row_ops(spark, sf_dir):
    """Row-shaped relational surface in one gated frame (sections tagged):
    windowed ranking (row_number per customer, first 3 orders), semi/anti
    join counts (active vs inactive customers per segment, broadcast-safe
    small side), and global top-k (TakeOrderedAndProject — never a full
    sort)."""
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    window_rank = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey")
        .withColumn("section", F.lit("window_rank"))
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    active = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    inactive = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    semi = (
        active.select("c_mktsegment").groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(
            inactive.groupBy("c_mktsegment").agg(
                F.count(F.lit(1)).alias("n_inactive")
            ),
            "c_mktsegment",
            "full_outer",
        )
        .fillna(0)
        .withColumn("section", F.lit("semi_anti"))
    )
    topk = (
        orders.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        )
        .orderBy(F.col("price_cents").desc(), F.col("o_orderkey"))
        .limit(25)
        .withColumn("section", F.lit("topk"))
    )
    return window_rank.unionByName(semi, allowMissingColumns=True).unionByName(
        topk, allowMissingColumns=True
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One lane per engine operator family, at most 50 (the driver gate's
    per-round budget), so every lane gets a CORRECTNESS row each round.
    Former stand-alone lanes fold into section-tagged composites:
    time_travel carries the incremental read, datasource_sql the writer
    half, roundtrip_pruned all three partition-prune families,
    roundtrip_stats_prune the page/bloom/IN probes over one store,
    roundtrip_pinned_outers the lz4-bool + stored lanes, and the plain
    relational rows two composites. compression_summary VALUE-gates the
    byte invariants the old rows-only compression_bytes lane could not."""
    return {
        "roundtrip_documents": q_roundtrip_documents,
        "roundtrip_compacted": q_roundtrip_compacted,
        "time_travel": q_time_travel,
        "snapshot_ref": q_snapshot_ref,
        "wap_publish": q_wap_publish,
        "quality_report": q_quality_report,
        "cdc_changes": q_cdc_changes,
        "datasource_sql": q_datasource_sql,
        "stream_tail": q_stream_tail,
        "add_column_backfill": q_add_column_backfill,
        "delete_rows_mor": q_delete_rows,
        "roundtrip_lineitem_q1": q_roundtrip_lineitem_q1,
        "roundtrip_orders": q_roundtrip_orders,
        "roundtrip_pruned": q_roundtrip_pruned,
        "roundtrip_events_window": q_roundtrip_events_window,
        "roundtrip_forced_codecs": q_roundtrip_forced_codecs,
        "roundtrip_nested": q_roundtrip_nested,
        "roundtrip_pinned_outers": q_roundtrip_pinned_outers,
        "roundtrip_int96": q_roundtrip_int96,
        "roundtrip_stats_prune": q_roundtrip_stats_prune,
        "agg_pushdown": q_agg_pushdown,
        "agg_distinct": q_agg_distinct,
        "agg_groupby": q_agg_groupby,
        "roundtrip_zorder_prune": q_roundtrip_zorder_prune,
        "upsert_merge": q_upsert_merge,
        "store_files": q_store_files,
        "snapshot_rollback": q_snapshot_rollback,
        "compression_summary": q_compression_summary,
        "tpch_q1": q_tpch_q1,
        "join_segment_revenue": q_join_segment_revenue,
        "roundtrip_embeddings": q_roundtrip_embeddings,
        "roundtrip_decimal": q_roundtrip_decimal,
        "relational_aggregates": q_relational_aggregates,
        "relational_row_ops": q_relational_row_ops,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of every query, over views of the same parquet."""
    return {
        "roundtrip_documents": """
            SELECT doc_id, lang, source, n_chars, sha256(text) AS text_sha
            FROM documents
        """,
        "roundtrip_compacted": """
            SELECT doc_id, lang, source, n_chars, sha256(text) AS text_sha
            FROM documents
        """,
        "time_travel": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'snapshot0' AS phase
            FROM documents WHERE lang < 'm'
            UNION ALL
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'delta' AS phase
            FROM documents WHERE NOT (lang < 'm')
        """,
        "snapshot_ref": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
            FROM documents WHERE lang < 'm'
        """,
        "wap_publish": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'staged' AS phase
            FROM documents WHERE lang < 'm'
            UNION ALL
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'published' AS phase
            FROM documents
        """,
        "datasource_sql": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'read' AS api
            FROM documents WHERE lang = 'zh' AND source LIKE 'src1%'
            UNION ALL
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'write' AS api
            FROM documents WHERE lang = 'zh'
        """,
        "stream_tail": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
            FROM documents
        """,
        "cdc_changes": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'insert' AS _change_type
            FROM documents WHERE NOT (lang < 'm')
            UNION ALL
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha,
                   'delete' AS _change_type
            FROM documents WHERE lang = 'de'
        """,
        "quality_report": """
            SELECT 'row_count_between' AS check, CAST(NULL AS VARCHAR) AS "column",
                   count(*) BETWEEN 1 AND 1000000000 AS passed,
                   'rows=' || count(*) AS observed
            FROM documents
            UNION ALL
            SELECT 'no_nulls', 'lang', (count(*) - count(lang)) = 0,
                   'nulls=' || (count(*) - count(lang))
            FROM documents
            UNION ALL
            SELECT 'null_fraction_at_most', 'n_chars',
                   ((count(*) - count(n_chars)) * 1.0 / count(*)) <= 0.5,
                   printf('null_fraction=%.6f',
                          (count(*) - count(n_chars)) * 1.0 / count(*))
            FROM documents
            UNION ALL
            SELECT 'values_in_set', 'lang',
                   count(DISTINCT lang)
                       FILTER (WHERE lang NOT IN ('de','en','es','fr')) = 0,
                   CASE WHEN count(DISTINCT lang)
                            FILTER (WHERE lang NOT IN ('de','en','es','fr')) = 0
                        THEN 'all values allowed'
                        ELSE 'violators=' || to_json(list(DISTINCT lang ORDER BY lang)
                            FILTER (WHERE lang NOT IN ('de','en','es','fr')))
                   END
            FROM documents
            UNION ALL
            SELECT 'min_at_least', 'n_chars', min(n_chars) >= 0,
                   'min=' || min(n_chars)
            FROM documents
            UNION ALL
            SELECT 'max_at_most', 'lang', max(lang) <= 'zz',
                   'max=' || max(lang)
            FROM documents
        """,
        "add_column_backfill": """
            SELECT doc_id, lang, length(text) AS text_len,
                   sha256(text) AS text_sha
            FROM documents
        """,
        "delete_rows_mor": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
            FROM documents
            WHERE NOT (lang = 'zh') AND NOT (doc_id < 25)
        """,
        "upsert_merge": """
            WITH upd AS (
                SELECT * REPLACE (o_totalprice*2 AS o_totalprice,
                                  '1-URGENT' AS o_orderpriority)
                FROM orders WHERE o_custkey IN (371, 742)
                UNION ALL
                SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey,
                                  CAST(999999 AS BIGINT) AS o_custkey)
                FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 20)
            ), merged AS (
                SELECT * FROM orders
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
                UNION ALL SELECT * FROM upd
            )
            SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
                   CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
            FROM merged GROUP BY 1 ORDER BY 1
        """,
        "store_files": """
            SELECT col_name, n_values, n_nulls, int_sum FROM (
                SELECT 'doc_id' AS col_name,
                       CAST(count(*) AS BIGINT) AS n_values,
                       CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
                       CAST(sum(doc_id) AS BIGINT) AS int_sum
                FROM documents
                UNION ALL
                SELECT 'lang', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(lang) AS BIGINT),
                       CAST(NULL AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'n_chars', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(n_chars) AS BIGINT),
                       CAST(sum(n_chars) AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'source', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(source) AS BIGINT),
                       CAST(NULL AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'text', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(text) AS BIGINT),
                       CAST(NULL AS BIGINT)
                FROM documents
            ) ORDER BY col_name
        """,
        "snapshot_rollback": """
            SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
            FROM documents WHERE lang < 'm'
        """,
        "roundtrip_lineitem_q1": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS count_order,
                   CAST(sum(CAST(floor(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "roundtrip_pruned": """
            SELECT 'int_range' AS section, o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
                   CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                   CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS lang,
                   CAST(NULL AS VARCHAR) AS source, CAST(NULL AS VARCHAR) AS text_sha
            FROM orders WHERE o_orderkey <= 2000 GROUP BY o_orderpriority
            UNION ALL
            SELECT 'str_eq', NULL, NULL, NULL, NULL,
                   doc_id, lang, NULL, sha256(text)
            FROM documents WHERE lang = 'zh'
            UNION ALL
            SELECT 'str_prefix', NULL, NULL, NULL, NULL,
                   doc_id, NULL, source, sha256(text)
            FROM documents WHERE source >= 'src15' AND source LIKE 'src1%'
        """,
        "roundtrip_orders": """
            SELECT o_orderpriority, count(*) AS n_orders, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
                   CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "roundtrip_events_window": """
            SELECT date_trunc('hour', ts) AS wstart, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "roundtrip_forced_codecs": """
            SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(o_orderkey % 16) AS BIGINT) AS sum_mod,
                   CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                   min(o_orderpriority) AS min_prio,
                   max(o_orderpriority) AS max_prio
            FROM orders WHERE o_orderkey % 8 = 0
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "roundtrip_nested": """
            SELECT c_mktsegment AS seg, count(*) AS n,
                   CAST(sum(CAST(floor(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_bal_cents,
                   CAST(sum(CAST(floor(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_map_cents,
                   CAST(sum(c_custkey) AS BIGINT) AS sum_key,
                   CAST(sum(c_nationkey) AS BIGINT) AS sum_nation
            FROM customer GROUP BY 1 ORDER BY 1
        """,
        "roundtrip_pinned_outers": """
            SELECT 'lz4_bool' AS section, o_orderstatus, big,
                   count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
                   CAST(NULL AS BIGINT) AS s_nationkey,
                   CAST(NULL AS BIGINT) AS sum_bal_cents,
                   CAST(NULL AS VARCHAR) AS min_name
            FROM (SELECT o_orderstatus, o_orderkey,
                         CAST(o_totalprice > 150000.0 AS INTEGER) AS big
                  FROM orders)
            GROUP BY o_orderstatus, big
            UNION ALL
            SELECT 'stored', NULL, NULL, count(*),
                   CAST(sum(s_suppkey) AS BIGINT), s_nationkey,
                   CAST(sum(CAST(floor(s_acctbal*100) AS BIGINT)) AS BIGINT),
                   min(s_name)
            FROM supplier GROUP BY s_nationkey
        """,
        "roundtrip_int96": """
            WITH t AS (
              SELECT o_orderpriority,
                     CAST(o_orderdate AS TIMESTAMP) + to_seconds(o_orderkey % 86399) AS event_ts
              FROM orders
            )
            SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(epoch_us(event_ts) // 1000000) AS BIGINT) AS sum_epoch_s,
                   min(epoch_us(event_ts)) AS min_epoch_us,
                   max(epoch_us(event_ts)) AS max_epoch_us
            FROM t GROUP BY 1 ORDER BY 1
        """,
        "roundtrip_stats_prune": """
            SELECT 'page_range' AS section, o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
                   CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                   CAST(NULL AS BIGINT) AS o_orderkey,
                   CAST(NULL AS BIGINT) AS o_custkey,
                   CAST(NULL AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey <= 5000 GROUP BY o_orderpriority
            UNION ALL
            SELECT 'bloom_eq', o_orderpriority, NULL, NULL, NULL,
                   o_orderkey, NULL, CAST(floor(o_totalprice*100) AS BIGINT)
            FROM orders WHERE o_custkey = 371
            UNION ALL
            SELECT 'in_list', NULL, NULL, NULL, NULL,
                   o_orderkey, o_custkey, CAST(floor(o_totalprice*100) AS BIGINT)
            FROM orders WHERE o_custkey IN (371, 742, 1484)
        """,
        "agg_pushdown": """
            SELECT count(*) AS count_star,
                   count(o_custkey) AS count_o_custkey,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_o_orderkey,
                   min(o_orderkey) AS min_o_orderkey,
                   max(o_orderkey) AS max_o_orderkey
            FROM orders WHERE o_orderkey <= 30000
        """,
        "agg_distinct": """
            SELECT CAST(count(*) AS BIGINT) AS count_star,
                   CAST(count(DISTINCT lang) AS BIGINT) AS distinct_lang,
                   CAST(count(DISTINCT source) AS BIGINT) AS distinct_source,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS distinct_doc_id,
                   CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
                   min(lang) AS min_lang,
                   max(source) AS max_source
            FROM documents WHERE doc_id <= 300
        """,
        "agg_groupby": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS count_star,
                   CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
                   CAST(count(DISTINCT source) AS BIGINT) AS distinct_source
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "roundtrip_zorder_prune": """
            SELECT o_orderkey, o_custkey,
                   CAST(floor(o_totalprice*100) AS BIGINT) AS price_cents
            FROM orders WHERE o_custkey <= 500 AND o_orderkey <= 60000
            ORDER BY o_orderkey
        """,
        "compression_summary": """
            SELECT col AS "column", (SELECT count(*) FROM documents) AS n_values,
                   true AS bytes_ok
            FROM (VALUES ('doc_id'), ('lang'), ('n_chars'), ('source'), ('text')) t(col)
            ORDER BY 1
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(floor(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "join_segment_revenue": """
            SELECT c_mktsegment, count(*) AS n_items,
                   CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "roundtrip_embeddings": """
            SELECT vec_id, label, len(embedding) AS dim,
                   CAST(floor(list_sum(CAST(embedding AS DOUBLE[])) * 1000) AS BIGINT) AS sum_milli
            FROM embeddings ORDER BY vec_id
        """,
        "roundtrip_decimal": """
            SELECT l_returnflag, count(*) AS n,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) * 100 AS BIGINT) AS sum_price_cents
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "relational_aggregates": """
            SELECT 'rollup' AS section, l_returnflag, l_linestatus,
                   count(*) AS n,
                   CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(NULL AS VARCHAR) AS o_orderpriority,
                   CAST(NULL AS BIGINT) AS f_cnt, CAST(NULL AS BIGINT) AS o_cnt,
                   CAST(NULL AS BIGINT) AS p_cnt,
                   CAST(NULL AS VARCHAR) AS p_brand, CAST(NULL AS VARCHAR) AS p_type
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            UNION ALL
            SELECT 'pivot', NULL, NULL, NULL, NULL, o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F'),
                   count(*) FILTER (WHERE o_orderstatus = 'O'),
                   count(*) FILTER (WHERE o_orderstatus = 'P'),
                   NULL, NULL
            FROM orders GROUP BY o_orderpriority
            UNION ALL
            SELECT 'distinct', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
                   p_brand, p_type
            FROM (SELECT DISTINCT p_brand, p_type FROM part)
        """,
        "relational_row_ops": """
            SELECT 'window_rank' AS section, o_custkey, rn, o_orderkey,
                   CAST(NULL AS VARCHAR) AS c_mktsegment,
                   CAST(NULL AS BIGINT) AS n_active,
                   CAST(NULL AS BIGINT) AS n_inactive,
                   CAST(NULL AS BIGINT) AS price_cents
            FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders
            ) WHERE rn <= 3
            UNION ALL
            SELECT 'semi_anti', NULL, NULL, NULL, coalesce(c_mktsegment, seg2),
                   coalesce(n_active, 0), coalesce(n_inactive, 0), NULL
            FROM (
              SELECT c_mktsegment, count(*) AS n_active FROM customer
              WHERE c_custkey IN (SELECT o_custkey FROM orders)
              GROUP BY c_mktsegment
            ) FULL OUTER JOIN (
              SELECT c_mktsegment AS seg2, count(*) AS n_inactive FROM customer
              WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
              GROUP BY c_mktsegment
            ) ON c_mktsegment = seg2
            UNION ALL
            SELECT 'topk', NULL, NULL, o_orderkey, NULL, NULL, NULL, price_cents
            FROM (
              SELECT o_orderkey, CAST(floor(o_totalprice*100) AS BIGINT) AS price_cents
              FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 25
            )
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode+decode+verify sf0.001 documents through the engine,
    returning the per-column summary with round-trip verification bit."""
    sf_dir = "/root/testdata/sf0.001"
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="parzig_entry_")
    summary = encode_table(
        src,
        root,
        group_cols=["lang", "source"],
        salt_cols=["doc_id"],
        size_col="text",
        resume=False,
    )
    agg = (
        summary.groupBy("column")
        .agg(
            F.first("codec").alias("codec"),
            F.sum("n_values").alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
    )
    agg.count()  # run the encode
    decoded = decode_table(spark, root)
    report = verify_roundtrip(src, decoded, ["doc_id"], ["text", "lang", "source", "n_chars"])
    ok = bool(report["ok"])
    return agg.withColumn("roundtrip_sha_ok", F.lit(ok)).orderBy("column")
