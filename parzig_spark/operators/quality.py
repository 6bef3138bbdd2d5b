"""Metadata-scale data-quality checks — the audit leg of write-audit-publish.

``check_store`` evaluates declarative expectations (row counts, null
bounds, value domains, min/max bounds) over a store view. It is a thin
caller of the aggregation core behind ``aggregate_store``
(operators/aggregate.py): each check maps to an aggregate (null counts,
extrema, the distinct values of a domain check), so the view is
resolved, planned and decoded once, in at most one Spark job, and each
domain check reads its violators off the distinct values the core's
partial rows list. Partitions the stats answer exactly stay on the
metadata path; delete-touched, partially matched and (for string domain
and bound checks) set-less partitions decode. A clean store's whole
quality report comes from manifest rows on the driver — no Spark job,
zero blobs opened — which makes it a usable gate between ``stage_batch`` and
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
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

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
    violator sample). Eager, like ``aggregate_store``: the checks run
    before this returns, in at most one Spark job, and the driver holds at
    most ``task_slots`` × (1 + distinct values) partial rows plus the
    metadata partitions' own.

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
    driver plan."""
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
    kinds, answer, rows, p = _answer(spark, store, view, aggs, where)
    for name, col, _ in checks:
        if name in ("values_in_set", "min_at_least", "max_at_most") and kinds[col] == "other":
            raise ValueError(
                f"{name}: only integer/string columns are supported "
                f"({col!r} is {kinds[col]})"
            )

    got = answer.to_pylist()[0]
    total_rows = got["count_star"]
    out = []
    for name, col, arg in checks:
        if name == "row_count_between":
            lo, hi = arg
            out.append((name, None, lo <= total_rows <= hi, f"rows={total_rows}"))
            continue
        if name == "values_in_set":
            # the distinct values the partial rows list, minus the allowed
            allowed = {_canon(a) for a in arg}
            values = pc.unique(rows[_out_name("distinct", col)].drop_null()).to_pylist()
            bad = sorted(v for v in values if v not in allowed)
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
    plan = {k: p[f"pids_{k}"] for k in ("total", "pruned", "metadata", "decoded")}
    df = arrow_frame(spark, out, RESULT_SCHEMA)
    return (df, plan) if return_plan else df
