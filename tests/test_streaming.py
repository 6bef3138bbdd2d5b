"""Structured Streaming: incremental encode."""

import shutil

import pytest
from pyspark.sql import functions as F

from parzig_spark.operators import decode_table, verify_roundtrip
from parzig_spark.streaming import encode_stream

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def doc_stream_dir(spark, tmp_path):
    d = tmp_path / "stream_in"
    d.mkdir()
    shutil.copy(f"{SF}/documents.parquet", d / "part-0.parquet")
    return str(d)


def test_streaming_encode(spark, doc_stream_dir, tmp_path):
    batch = spark.read.parquet(doc_stream_dir)
    stream = spark.readStream.schema(batch.schema).parquet(doc_stream_dir)
    root = str(tmp_path / "store")
    q = encode_stream(
        stream,
        root,
        group_cols=["lang", "source"],
        salt_cols=["doc_id"],
        checkpoint_dir=str(tmp_path / "cp"),
        size_col="text",
        target_bytes=1 << 20,
    )
    q.awaitTermination(120)
    decoded = decode_table(spark, root)
    report = verify_roundtrip(batch, decoded, ["doc_id"], ["text", "lang"])
    assert report["ok"], report

    # Replaying the same input (fresh checkpoint) must be a no-op thanks to
    # manifest-level idempotence — the partition-level exactly-once story.
    q2 = encode_stream(
        stream,
        root,
        group_cols=["lang", "source"],
        salt_cols=["doc_id"],
        checkpoint_dir=str(tmp_path / "cp2"),
        size_col="text",
        target_bytes=1 << 20,
    )
    q2.awaitTermination(120)
    report2 = verify_roundtrip(batch, decode_table(spark, root), ["doc_id"], ["text"])
    assert report2["ok"] and report2["rows"] == report["rows"]


def test_streaming_two_distinct_batches_no_pid_collision(spark, tmp_path):
    """Two micro-batches with DIFFERENT data must both land in the store.

    Regression: pids used to be derived only from (group, salt) % n_buckets
    with n_buckets from the current batch's bytes — small batches all got
    n_buckets=1, so every batch after the first aliased committed pid 0 and
    was silently dropped by the resume anti-join. pid namespacing by batch
    content fingerprint fixes it.
    """
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    d = tmp_path / "stream_in2"
    d.mkdir()
    root = str(tmp_path / "store2")
    half_a.write.parquet(str(d / "batch-a.parquet"))
    stream = spark.readStream.schema(docs.schema).parquet(str(d) + "/*")
    q = encode_stream(
        stream, root, ["lang", "source"], ["doc_id"],
        checkpoint_dir=str(tmp_path / "cp_a"), size_col="text",
    )
    q.awaitTermination(120)
    half_b.write.parquet(str(d / "batch-b.parquet"))
    # Same checkpoint: the source delivers only the NEW file as batch 2
    # (re-delivery granularity is the checkpoint's job; the namespace
    # guards replayed-identical batches and pid aliasing of new data).
    q2 = encode_stream(
        stream, root, ["lang", "source"], ["doc_id"],
        checkpoint_dir=str(tmp_path / "cp_a"), size_col="text",
    )
    q2.awaitTermination(120)
    decoded = decode_table(spark, root)
    report = verify_roundtrip(docs, decoded, ["doc_id"], ["text", "lang"])
    assert report["ok"], report
    assert decoded.count() == docs.count()


def test_streaming_duplicate_rows_batch_not_aliased(spark, tmp_path):
    """Regression for the XOR-only batch fingerprint: a later batch equal
    to a committed one PLUS an even number of repeated rows used to XOR to
    the same fingerprint (x^x=0), alias the committed pids, and be dropped
    by the resume anti-join. The multiset-sensitive fingerprint (xor + sum
    + count) must namespace it apart so every row survives."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    extra = docs.filter(F.col("doc_id") == 0)  # one row, duplicated twice
    batch2 = docs.unionAll(extra).unionAll(extra)
    d = tmp_path / "stream_dup"
    d.mkdir()
    root = str(tmp_path / "store_dup")
    docs.write.parquet(str(d / "batch-a.parquet"))
    stream = spark.readStream.schema(docs.schema).parquet(str(d) + "/*")
    q = encode_stream(
        stream, root, ["lang", "source"], ["doc_id"],
        checkpoint_dir=str(tmp_path / "cp_dup"), size_col="text",
    )
    q.awaitTermination(120)
    batch2.write.parquet(str(d / "batch-b.parquet"))
    q2 = encode_stream(
        stream, root, ["lang", "source"], ["doc_id"],
        checkpoint_dir=str(tmp_path / "cp_dup"), size_col="text",
    )
    q2.awaitTermination(120)
    decoded = decode_table(spark, root)
    # batch 1 (20 rows) + batch 2 (22 rows incl. the duplicated doc) all land
    assert decoded.count() == 42
    # doc 0: once from batch 1, three times from batch 2 (1 + 2 duplicates)
    assert decoded.filter(F.col("doc_id") == 0).count() == 4


def test_claim_namespace_guard(tmp_path):
    """Round-3 advice: a namespace collision between two DIFFERENT batches
    must fail loudly (silent row loss before); an identical replayed batch
    (same full fingerprint) passes."""
    import pytest

    from parzig_spark.streaming.encode_stream import claim_namespace

    root = str(tmp_path / "store")
    claim_namespace(root, 12345, "a" * 64)
    claim_namespace(root, 12345, "a" * 64)  # replay: same digest, fine
    with pytest.raises(RuntimeError, match="namespace collision"):
        claim_namespace(root, 12345, "b" * 64)


def test_claim_namespace_atomic_and_empty_marker(tmp_path):
    """Round-4 advice: the marker must appear atomically WITH its digest,
    and a leftover empty marker (crash between create and write in the old
    two-step protocol) counts as unclaimed instead of poisoning every replay
    of the batch forever."""
    import os

    from parzig_spark.streaming.encode_stream import claim_namespace

    root = str(tmp_path / "store")
    ns_dir = os.path.join(root, "namespaces")
    os.makedirs(ns_dir)
    # simulate the pre-fix crash artifact: marker exists, digest never landed
    open(os.path.join(ns_dir, "ns_777"), "w").close()
    claim_namespace(root, 777, "c" * 64)  # adopts the orphaned marker
    with open(os.path.join(ns_dir, "ns_777")) as f:
        assert f.read() == "c" * 64
    # and the normal collision semantics still hold on the adopted marker
    claim_namespace(root, 777, "c" * 64)
    import pytest

    with pytest.raises(RuntimeError, match="namespace collision"):
        claim_namespace(root, 777, "d" * 64)
    # no temp litter left behind
    assert sorted(os.listdir(ns_dir)) == ["ns_777"]
