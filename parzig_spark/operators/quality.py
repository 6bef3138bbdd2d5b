"""Metadata-scale data-quality checks — the audit leg of write-audit-publish.

``check_store`` evaluates declarative expectations (row counts, null
bounds, value domains, min/max bounds) over a store view, answering from
the EXACT manifest statistics wherever provable and decoding only the
partitions whose stats cannot decide (delete-touched ones, and string
partitions without a recorded distinct set). At 10^12-file scale a clean
store's whole quality report is one aggregation over manifest rows — zero
blobs opened — which is what makes it a usable gate between
``stage_batch`` and ``publish_ref`` (operators/wap.py): audit the staged
branch with ``ref=...``, publish only when every row passes.

The Great-Expectations / Iceberg-validation analog, built on stats the
reference parses but never consults (Statistics —
/root/reference/src/generated/parquet.zig:55-76). Exactness contract:
``n_values``/``stat_nulls`` are exact for every partition; integer
``stat_min``/``stat_max`` are exact; STRING bounds are truncated, so
string min/max and domain checks use the exact ``stat_distinct`` sets and
fall to decode where a partition lacks one. Results are always EXACT —
conservatism routes to decode, never to a wrong verdict.

Checks — list of ``(name, column, arg)``:

- ``("row_count_between", None, (lo, hi))`` — inclusive bounds, logical
  (delete-aware) row count.
- ``("no_nulls", col, None)`` — zero nulls in the column.
- ``("null_fraction_at_most", col, f)`` — nulls / rows ≤ f (empty store
  counts as 0.0).
- ``("values_in_set", col, [v, ...])`` — every non-null value is in the
  allowed set (int/string columns); observed reports up to 10 violators.
- ``("min_at_least", col, v)`` / ``("max_at_most", col, v)`` — bounds on
  the non-null extrema (int/string columns; vacuously true when all-null).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import prune
from ..plans.manifest import ManifestStore
from .aggregate import _DISTINCT_DDL, _column_kinds, _pids_where, _stat_rows
from .decode import decode_table, predicate_expr, resolve_view

RESULT_DDL = "check string, column string, passed boolean, observed string"

_CHECKS = (
    "row_count_between",
    "no_nulls",
    "null_fraction_at_most",
    "values_in_set",
    "min_at_least",
    "max_at_most",
)


def _canon(val) -> str:
    return val if isinstance(val, str) else str(int(val))


def check_store(
    spark: SparkSession,
    store_root: str,
    checks: list[tuple],
    snapshot: int | None = None,
    ref: str | None = None,
    where: list[tuple] | None = None,
    return_plan: bool = False,
) -> DataFrame:
    """Evaluate ``checks`` over a store view (head, ``snapshot=``, or a
    named ``ref=`` — audit a staged WAP branch before publishing). Returns
    one row per check: ``(check, column, passed, observed)``; ``observed``
    is a short human-readable summary (count, fraction, extremum, or a
    violator sample).

    ``where`` scopes the audit to the rows matching the predicate triples
    (same ``(column, op, value)`` grammar as decode_table) — the real WAP
    shape: gate ONLY the staged slice, not the whole store. Partition
    economics mirror aggregate_store's split: predicates PRUNE partitions
    that can't match (zero cost), partitions PROVABLY fully covered (the
    inclusion dual — every row matches) stay on the metadata path, and
    only the partial ones decode + row-filter. Auditing a fresh batch
    bounded by a batch predicate therefore opens at most that batch's
    boundary partitions, never the store.

    ``return_plan=True`` returns ``(df, plan)`` with the partition
    economics: ``{"total", "pruned", "metadata", "decoded"}``, read off the
    driver plan (no extra Spark job)."""
    store = ManifestStore(store_root)
    version, snap, ops = resolve_view(store, snapshot, ref)
    kinds, _types = _column_kinds(store)
    ref_col = next(iter(kinds))

    for name, col, arg in checks:
        if name not in _CHECKS:
            raise ValueError(f"unknown check {name!r} (have {_CHECKS})")
        if name == "row_count_between":
            lo, hi = arg
            if col is not None or lo > hi:
                raise ValueError("row_count_between: column must be None, lo <= hi")
            continue
        if col not in kinds:
            raise ValueError(f"unknown column {col!r} in {store_root}")
        if name in ("values_in_set", "min_at_least", "max_at_most") and kinds[
            col
        ] not in ("int", "str"):
            raise ValueError(
                f"{name}: only integer/string columns are supported "
                f"({col!r} is {kinds[col]})"
            )

    for wcol, _op, _v in where or []:
        if wcol not in kinds:
            raise ValueError(f"unknown column {wcol!r} in {store_root}")
    # ---- driver plan: prune, then pick the partitions to decode -------------
    # partial pids (stats cannot prove every row matches ``where``),
    # delete-touched pids (physical manifest counts are stale there) and,
    # for string domain/bound checks, pids without an exact set; ``ops`` is
    # the view's delete-op set (resolve_view)
    stats, pids, state = prune.plan(store, snap, where)
    survive = state != prune.EXCLUDED
    decode = (state == prune.PARTIAL) | np.isin(pids, sorted(store.delete_touched_pids(ops)))
    setless = stats.column("stat_distinct").is_null().to_numpy(zero_copy_only=False)
    for col in {
        col
        for name, col, _ in checks
        if (name == "values_in_set")
        or (name in ("min_at_least", "max_at_most") and kinds[col] == "str")
    }:
        decode |= _pids_where(stats, pids, col, setless)
    decode &= survive  # pruned-out partitions never decode
    metadata = survive & ~decode
    meta = _stat_rows(spark, stats, pids[metadata])
    plan = {
        "total": len(pids),
        "pruned": int((~survive).sum()),
        "metadata": int(metadata.sum()),
        "decoded": int(decode.sum()),
    }

    # ---- one metadata pass + one decode pass --------------------------------
    need_cols = sorted(
        {c for _, c, _ in checks if c is not None}
        | {c for c, _, _ in (where or [])}
    )
    dec = decode_table(
        spark, store_root, columns=need_cols or [ref_col],
        snapshot=version, pids=pids[decode].tolist(),
        predicates=where,
    )
    if where:
        dec = dec.filter(predicate_expr(where))

    def dset(col):
        return F.from_json("stat_distinct", _DISTINCT_DDL)["v"]

    meta_aggs = [
        F.sum(F.when(F.col("column") == ref_col, F.col("n_values")))
        .cast("long").alias("_rows")
    ]
    dec_aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
    for name, col, arg in checks:
        if col is None:
            continue
        tag = f"{name}__{col}"
        w = F.col("column") == col
        if name in ("no_nulls", "null_fraction_at_most"):
            meta_aggs.append(
                F.sum(F.when(w, F.col("stat_nulls"))).cast("long").alias(tag)
            )
            dec_aggs.append(
                F.sum(F.col(col).isNull().cast("long")).cast("long").alias(tag)
            )
        elif name in ("min_at_least", "max_at_most"):
            agg = F.min if name == "min_at_least" else F.max
            if kinds[col] == "int":
                src = F.col("stat_min" if name == "min_at_least" else "stat_max")
                meta_aggs.append(agg(F.when(w, src.cast("long"))).alias(tag))
                dec_aggs.append(agg(F.col(col)).cast("long").alias(tag))
            else:
                # exact string extrema from the sorted distinct set (the
                # truncated stat_min/stat_max bounds are NOT exact).
                # F.get, not element_at: an EMPTY set (all-null partition)
                # must yield NULL — element_at throws under ANSI mode
                src = (
                    F.get(dset(col), 0)
                    if name == "min_at_least"
                    else F.get(dset(col), F.size(dset(col)) - 1)
                )
                meta_aggs.append(agg(F.when(w, src)).alias(tag))
                dec_aggs.append(agg(F.col(col)).alias(tag))

    meta_row = meta.agg(*meta_aggs).collect()[0].asDict()
    dec_row = dec.agg(*dec_aggs).collect()[0].asDict()
    total_rows = int(meta_row["_rows"] or 0) + int(dec_row["_rows"] or 0)

    # ---- values_in_set: exact distinct union, report violators --------------
    violators: dict[str, list[str]] = {}
    for name, col, arg in checks:
        if name != "values_in_set":
            continue
        allowed = [_canon(v) for v in arg]
        vm = meta.filter(
            (F.col("column") == col) & F.col("stat_distinct").isNotNull()
        ).select(F.explode(dset(col)).alias("_v"))
        vd = dec.filter(F.col(col).isNotNull()).select(
            F.col(col).cast("string").alias("_v")
        )
        bad = (
            vm.unionByName(vd).distinct()
            .filter(~F.col("_v").isin(allowed) if allowed else F.lit(True))
            .limit(11)
        )
        violators[col] = sorted(r["_v"] for r in bad.collect())

    # ---- verdicts ------------------------------------------------------------
    rows = []
    for name, col, arg in checks:
        if name == "row_count_between":
            lo, hi = arg
            rows.append((name, None, lo <= total_rows <= hi, f"rows={total_rows}"))
            continue
        tag = f"{name}__{col}"
        if name == "no_nulls":
            nulls = int(meta_row[tag] or 0) + int(dec_row[tag] or 0)
            rows.append((name, col, nulls == 0, f"nulls={nulls}"))
        elif name == "null_fraction_at_most":
            nulls = int(meta_row[tag] or 0) + int(dec_row[tag] or 0)
            frac = (nulls / total_rows) if total_rows else 0.0
            rows.append((name, col, frac <= arg, f"null_fraction={frac:.6f}"))
        elif name in ("min_at_least", "max_at_most"):
            pick = min if name == "min_at_least" else max
            vals = [v for v in (meta_row[tag], dec_row[tag]) if v is not None]
            obs = pick(vals) if vals else None
            if obs is None:
                rows.append((name, col, True, "no non-null values"))
            elif name == "min_at_least":
                rows.append((name, col, obs >= arg, f"min={obs}"))
            else:
                rows.append((name, col, obs <= arg, f"max={obs}"))
        else:  # values_in_set
            bad = violators[col]
            rows.append(
                (
                    name, col, not bad,
                    "all values allowed" if not bad
                    else "violators=" + json.dumps(bad[:10]),
                )
            )
    out = spark.createDataFrame(rows, RESULT_DDL)
    return (out, plan) if return_plan else out
