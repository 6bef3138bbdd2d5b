"""Metadata-scale data-quality checks — the audit leg of write-audit-publish.

``check_store`` evaluates declarative expectations (row counts, null
bounds, value domains, min/max bounds) over a store view. It is a thin
caller of the aggregation core behind ``aggregate_store``
(operators/aggregate.py): each check maps to an aggregate (null counts,
extrema, the distinct-value stream of a domain check), so the view is
resolved, planned and decoded once, the counts and extrema come back in
one Spark aggregation, and each domain check reads its violators off the
core's value stream. Partitions the stats answer exactly stay on the
metadata path; delete-touched, partially matched and (for string domain
and bound checks) set-less partitions decode. A clean store's whole
quality report is one aggregation over manifest rows — zero blobs opened
— which makes it a usable gate between ``stage_batch`` and
``publish_ref`` (operators/wap.py): audit the staged branch with
``ref=...``, publish only when every row passes.

Exactness contract: ``n_values``/``stat_nulls`` are exact for every
partition; integer ``stat_min``/``stat_max`` are exact; STRING bounds are
truncated, so string min/max and domain checks use the exact
``stat_distinct`` sets and fall to decode where a partition lacks one.
Results are always EXACT — conservatism routes to decode, never to a
wrong verdict.

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

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.manifest import ManifestStore
from ..session import arrow_frame
from .aggregate import _answer, _out_name
from .decode import resolve_view

RESULT_SCHEMA = pa.schema(
    [
        ("check", pa.string()),
        ("column", pa.string()),
        ("passed", pa.bool_()),
        ("observed", pa.string()),
    ]
)

# the aggregate each column check reads (row_count_between reads count(*))
_AGG_OF = {
    "no_nulls": "null_count",
    "null_fraction_at_most": "null_count",
    "values_in_set": "distinct",
    "min_at_least": "min",
    "max_at_most": "max",
}
_CHECKS = ("row_count_between", *_AGG_OF)


def _canon(val) -> str:
    return val if isinstance(val, str) else str(int(val))


def _violators(values: DataFrame, allowed: list) -> list[str]:
    """Up to 11 distinct non-null ``_v`` values outside ``allowed``, sorted."""
    bad = values.where(F.col("_v").isNotNull()).distinct()
    if allowed:
        bad = bad.where(~F.col("_v").isin([_canon(a) for a in allowed]))
    return sorted(r["_v"] for r in bad.limit(11).collect())


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
    economics are aggregate_store's: predicates PRUNE partitions that
    can't match (zero cost), partitions PROVABLY fully covered (the
    inclusion dual — every row matches) stay on the metadata path, and
    only the partial ones decode + row-filter. Auditing a fresh batch
    bounded by a batch predicate therefore opens at most that batch's
    boundary partitions, never the store.

    ``return_plan=True`` returns ``(df, plan)`` with the partition
    economics: ``{"total", "pruned", "metadata", "decoded"}``, read off the
    driver plan (no extra Spark job)."""
    store = ManifestStore(store_root)
    view = resolve_view(store, snapshot, ref)
    for name, col, arg in checks:
        if name not in _CHECKS:
            raise ValueError(f"unknown check {name!r} (have {_CHECKS})")
        if name == "row_count_between":
            lo, hi = arg
            if col is not None or lo > hi:
                raise ValueError("row_count_between: column must be None, lo <= hi")
    aggs = [("count", "*")] + [
        (_AGG_OF[name], col) for name, col, _ in checks if name != "row_count_between"
    ]
    kinds, rows, finals, p = _answer(spark, store, view, aggs, where)
    for name, col, _ in checks:
        if name in ("values_in_set", "min_at_least", "max_at_most") and kinds[col] == "other":
            raise ValueError(
                f"{name}: only integer/string columns are supported "
                f"({col!r} is {kinds[col]})"
            )

    # ---- one aggregation for counts and extrema, one query per domain ------
    scalar = {_out_name(fn, c) for fn, c in aggs if fn != "distinct"}
    got = rows.agg(*[finals[n] for n in scalar]).collect()[0]
    total_rows = got["count_star"]
    out = []
    for name, col, arg in checks:
        if name == "row_count_between":
            lo, hi = arg
            out.append((name, None, lo <= total_rows <= hi, f"rows={total_rows}"))
            continue
        if name == "values_in_set":
            bad = _violators(rows.select(F.col(_out_name("distinct", col)).alias("_v")), arg)
            observed = "violators=" + json.dumps(bad[:10]) if bad else "all values allowed"
            out.append((name, col, not bad, observed))
            continue
        obs = got[_out_name(_AGG_OF[name], col)]
        if name == "no_nulls":
            out.append((name, col, obs == 0, f"nulls={obs}"))
        elif name == "null_fraction_at_most":
            frac = (obs / total_rows) if total_rows else 0.0
            out.append((name, col, frac <= arg, f"null_fraction={frac:.6f}"))
        elif obs is None:
            out.append((name, col, True, "no non-null values"))
        elif name == "min_at_least":
            out.append((name, col, obs >= arg, f"min={obs}"))
        else:
            out.append((name, col, obs <= arg, f"max={obs}"))
    plan = {
        "total": p["pids_total"],
        "pruned": p["pids_pruned"],
        "metadata": p["pids_metadata"],
        "decoded": p["pids_decoded"],
    }
    df = arrow_frame(spark, out, RESULT_SCHEMA)
    return (df, plan) if return_plan else df
