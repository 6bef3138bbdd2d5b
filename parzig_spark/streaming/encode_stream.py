"""Structured Streaming front-end for the encode pipeline.

The reference is strictly batch (single-threaded file reads); this module is
the Spark-native extension the brief asks for: a stream of new source files
is encoded incrementally. Each micro-batch runs the same idempotent
``encode_table`` — partition ids are content-derived and the manifest commit
is first-marker-wins, so exactly-once at the partition level falls out of
the batch machinery (a replayed micro-batch after a crash re-encodes only
uncommitted partitions, byte-identically).

Watermarked windowed aggregation over an event stream is included as the
standard late-data pattern (applyInPandasWithState is not needed — the
engine's stateful unit is the manifest store itself).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.encode import batch_fingerprint, encode_table
from ..plans.manifest import claim_namespace  # noqa: F401  (re-export: established import surface)

# Micro-batches are small; 16 bucket bits (65k partitions per batch) is
# plenty, and shrinking from the batch default of 24 widens the namespace
# to 47 bits (birthday bound ~2^23.5 batches, up from 2^19.5 at 39 bits).
_STREAM_BUCKET_BITS = 16


def encode_stream(
    stream_df: DataFrame,
    store_root: str,
    group_cols: list[str],
    salt_cols: list[str],
    checkpoint_dir: str,
    size_col: str | None = None,
    target_bytes: int = 64 << 20,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream source → incremental encode via foreachBatch.

    Cross-batch pid safety: partition ids are namespaced per micro-batch by
    an order-independent, multiplicity-sensitive content fingerprint
    (XOR + bounded sum + count of per-row xxhash64, sha256-folded into a
    47-bit namespace), so a later batch can never alias a committed pid and
    be silently anti-joined away — while an identical *replayed* batch
    (crash recovery) recomputes the same fingerprint and correctly skips its
    committed partitions. Even a namespace collision cannot lose rows:
    :func:`claim_namespace` pins each namespace to the full 256-bit
    fingerprint and fails loudly on mismatch.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # multiset fingerprint: a batch differing from a committed one only
        # by an even number of repeated rows must not alias it (a replayed
        # batch re-reads the same source, so its fingerprint is stable)
        digest, _n = batch_fingerprint(batch_df)
        batch_fp = int.from_bytes(digest[:6], "big") >> 1  # 47-bit namespace
        claim_namespace(store_root, batch_fp, digest.hex())
        encode_table(
            batch_df,
            store_root,
            group_cols=group_cols,
            salt_cols=salt_cols,
            size_col=size_col,
            target_bytes=target_bytes,
            resume=True,  # replayed batches skip committed partitions
            pid_namespace=batch_fp,
            bucket_bits=_STREAM_BUCKET_BITS,
        ).count()

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    docs_stream: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Cross-micro-batch exact deduplication as a stateful streaming op.

    Fingerprints each document (md5 of whitespace-normalized lowercase —
    the same fp as batch ``dedup_exact``) and drops repeats across ALL
    previous micro-batches: Structured Streaming keeps the seen-fingerprint
    set as managed state. With ``ts_col`` the state is bounded by
    ``dropDuplicatesWithinWatermark`` (late re-occurrences past the
    watermark age out — the production shape; unbounded state is the
    alternative the watermark exists to avoid).
    """
    normalized = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    fp = docs_stream.withColumn("fp", F.md5(normalized))
    if ts_col is not None:
        fp = fp.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
            ts_col, watermark
        )
        return fp.dropDuplicatesWithinWatermark(["fp"])
    return fp.dropDuplicates(["fp"])


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data dropped after the
    watermark), the canonical Structured Streaming stateful pattern."""
    # Watermarks require TIMESTAMP (with zone); parquet NTZ columns cast up.
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "sum_value_cents")
    )
