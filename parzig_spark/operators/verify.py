"""Round-trip verification: decoded content must be bit-identical to source.

Per BASELINE.json input_hint the per-row invariant is sha256 equality on
``content``; ``verify_roundtrip`` verifies every requested column the same
way (Spark-side ``F.sha2(...,256)`` on strings — JVM codegen, no Python),
via a full outer join on the key columns so dropped or phantom rows
surface too. ``verify_store`` audits the stored blobs at rest through the
one read path of :mod:`operators.decode` (driver-planned pids, one
per-pid task function, no shuffle). The reference analog is its
golden-value equality testing
(/root/reference/src/parquet_testing.zig, File.zig:269-292) — promoted here
to a distributed invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sha_expr(df: DataFrame, col: str):
    dtype = dict(df.dtypes)[col]
    if dtype in ("string", "binary"):
        hashed = F.sha2(F.col(col), 256)
    else:
        hashed = F.sha2(F.col(col).cast("string"), 256)
    return F.when(F.col(col).isNull(), F.lit("__NULL__")).otherwise(hashed)


def verify_store(
    spark, store_root: str, snapshot: int | None = None, ref: str | None = None
) -> DataFrame:
    """At-rest integrity audit: re-decode every committed blob and compare
    its canonical digest against the manifest's recorded sha256.

    Read like decode (``plan_read`` pids, one shuffle-free stage, one task
    audits a range of partitions, each from its own manifest file);
    returns one row per (pid, column) with ``ok`` — at 100 TB you run
    this as a scrubber job, filter ``ok = false``.

    ``snapshot``/``ref`` audit a PINNED view instead of the head — the
    write-audit-publish gate (operators/wap.py): scrub the staged branch
    before ``publish_ref`` flips readers to it.
    """
    import json as _json

    import pyarrow as pa

    from ..codecs import decode_column
    from ..plans.manifest import ManifestStore
    from .decode import manifest_rows, map_pids, plan_read
    from .encode import column_digest

    _snap, pids, _ops = plan_read(store_root, snapshot=snapshot, ref=ref)
    schema = pa.schema(
        [("pid", pa.int64()), ("column", pa.string()), ("ok", pa.bool_()), ("err", pa.string())]
    )

    def audit(pid):
        local = ManifestStore(store_root)
        out = []
        for row in manifest_rows(store_root, pid, ["meta_json", "sha256"]):
            try:
                blob = local.read_blob(pid, row["column"])
                digest = column_digest(decode_column(blob, _json.loads(row["meta_json"])))
                ok = digest == row["sha256"]
                err = None if ok else "digest_mismatch"
            except Exception as e:  # noqa: BLE001 — audit must not abort
                ok, err = False, f"{type(e).__name__}: {e}"
            out.append({"pid": pid, "column": row["column"], "ok": ok, "err": err})
        yield pa.RecordBatch.from_pylist(out, schema=schema)

    return map_pids(spark, pids, audit, "pid long, column string, ok boolean, err string")


def verify_roundtrip(
    source: DataFrame,
    decoded: DataFrame,
    key_cols: list[str],
    value_cols: list[str] | None = None,
) -> dict:
    """Returns counts: rows, matched, mismatched, missing, extra."""
    value_cols = value_cols or [c for c in source.columns if c not in key_cols]
    s = source.select(
        *key_cols, *[_sha_expr(source, c).alias(f"_s_{c}") for c in value_cols]
    )
    d = decoded.select(
        *key_cols, *[_sha_expr(decoded, c).alias(f"_d_{c}") for c in value_cols]
    )
    joined = s.join(d, on=key_cols, how="full_outer")
    match_expr = F.lit(True)
    for c in value_cols:
        match_expr = match_expr & (F.col(f"_s_{c}") == F.col(f"_d_{c}"))
    agg = joined.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(match_expr, 1).otherwise(0)).alias("matched"),
        F.sum(
            F.when(F.col(f"_s_{value_cols[0]}").isNull(), 1).otherwise(0)
        ).alias("extra"),
        F.sum(
            F.when(F.col(f"_d_{value_cols[0]}").isNull(), 1).otherwise(0)
        ).alias("missing"),
    ).collect()[0]
    out = {
        "rows": agg["rows"],
        "matched": agg["matched"] or 0,
        "missing": agg["missing"] or 0,
        "extra": agg["extra"] or 0,
    }
    out["mismatched"] = out["rows"] - out["matched"] - out["missing"] - out["extra"]
    out["ok"] = out["rows"] == out["matched"]
    return out
