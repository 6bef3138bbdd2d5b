"""Write-audit-publish (operators/wap.py): staged batches are invisible to
head readers, auditable + readable by branch, published by marker surgery,
and reclaimable on discard — Iceberg's wap.id / branch-staging workflow on
this store's primitives.
"""

import pytest
from pyspark.sql import functions as F

from parzig_spark.operators import (
    decode_table,
    drop_ref,
    encode_table,
    gc_store,
    list_refs,
    publish_ref,
    stage_batch,
)
from parzig_spark.operators.verify import verify_store


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 8).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
    )


def _store(spark, tmp_path, name="wapstore"):
    root = str(tmp_path / name)
    encode_table(
        _src(spark, 0, 4_000), root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    return root


def _keys(df):
    return sorted(r["k"] for r in df.select("k").collect())


def test_stage_isolates_and_publish_flips(spark, tmp_path):
    root = _store(spark, tmp_path)
    info = stage_batch(spark, _src(spark, 4_000, 6_000), root, wap_id="batch-42")
    assert info["rows_staged"] == 2_000
    # head readers: published view only
    assert _keys(decode_table(spark, root)) == list(range(4_000))
    # branch readers: published + staged
    assert _keys(decode_table(spark, root, ref=info["branch"])) == list(range(6_000))
    # audit gate: every staged blob scrubs clean at the branch view
    bad = verify_store(spark, root, ref=info["branch"]).filter(~F.col("ok")).count()
    assert bad == 0
    # publish: head flips to the staged snapshot, branch drops
    publish_ref(root, info["branch"])
    assert _keys(decode_table(spark, root)) == list(range(6_000))
    assert list_refs(root) == []


def test_stage_replay_converges_and_alias_fails(spark, tmp_path):
    root = _store(spark, tmp_path)
    batch = _src(spark, 4_000, 5_000)
    a = stage_batch(spark, batch, root, wap_id="nightly")
    b = stage_batch(spark, batch, root, wap_id="nightly")  # crash replay
    assert b["branch"] == a["branch"]
    assert _keys(decode_table(spark, root, ref=b["branch"])) == list(range(5_000))
    assert _keys(decode_table(spark, root)) == list(range(4_000))
    # a DIFFERENT batch under the claimed id must fail loudly, not alias
    # (claim_namespace's fingerprint mismatch is a RuntimeError)
    with pytest.raises(RuntimeError):
        stage_batch(spark, _src(spark, 9_000, 9_500), root, wap_id="nightly")


def test_discard_reclaims_staged_artifacts(spark, tmp_path):
    root = _store(spark, tmp_path)
    info = stage_batch(spark, _src(spark, 4_000, 5_000), root, wap_id="reject-me")
    drop_ref(root, info["branch"])
    stats = gc_store(root)
    assert stats["bytes_reclaimed"] > 0
    assert _keys(decode_table(spark, root)) == list(range(4_000))
    # the staged snapshot is gone: publishing the dropped branch impossible,
    # and a fresh stage under a NEW id still works end-to-end
    info2 = stage_batch(spark, _src(spark, 4_000, 4_500), root, wap_id="take-2")
    publish_ref(root, info2["branch"])
    assert _keys(decode_table(spark, root)) == list(range(4_500))


def test_stage_rejects_missing_columns_and_tag_name(spark, tmp_path):
    root = _store(spark, tmp_path)
    with pytest.raises(ValueError):
        stage_batch(
            spark, spark.range(5).select(F.col("id").alias("k")), root, wap_id="x"
        )
    from parzig_spark.operators import create_ref

    create_ref(root, "pinned", kind="tag")
    with pytest.raises(ValueError):
        stage_batch(
            spark, _src(spark, 0, 10), root, wap_id="y", branch="pinned"
        )


def test_stage_batch_with_map_column(spark, tmp_path):
    """A store with a map column stages, replays and aliases like any
    other: the batch fingerprint folds maps through to_json (xxhash64
    cannot hash a map)."""

    def src(lo, hi):
        return _src(spark, lo, hi).withColumn(
            "tags", F.create_map(F.col("val"), F.col("k"))
        )

    root = str(tmp_path / "mapstore")
    encode_table(
        src(0, 1_000), root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    info = stage_batch(spark, src(1_000, 1_500), root, wap_id="maps")
    assert info["rows_staged"] == 500
    staged = decode_table(spark, root, ref=info["branch"])
    assert _keys(staged) == list(range(1_500))
    assert staged.filter(F.col("tags")[F.col("val")] != F.col("k")).count() == 0
    assert _keys(decode_table(spark, root)) == list(range(1_000))
    stage_batch(spark, src(1_000, 1_500), root, wap_id="maps")  # replay
    with pytest.raises(RuntimeError):
        stage_batch(spark, src(2_000, 2_100), root, wap_id="maps")
