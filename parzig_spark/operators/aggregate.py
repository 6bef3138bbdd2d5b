"""Aggregates answered from manifest statistics: COUNT, SUM, MIN, MAX,
COUNT(DISTINCT) and null counts, optionally grouped, decoding only the
partitions the statistics cannot answer.

This is the footer-aggregate analog of Parquet's ``Statistics`` and
Iceberg's partition stats: manifests carry exact per-partition
``n_values``, ``stat_nulls``, ``stat_sum`` (decimal string, integer
lanes), exact integer ``stat_min``/``stat_max`` and exact distinct sets
(``stat_distinct``), so a whole-store COUNT or SUM is an
O(manifest-rows) job instead of an O(data) scan.

One private core, :func:`_answer`, serves ``aggregate_store`` and
``check_store`` (operators/quality.py). It takes a view resolved once by
the caller (``resolve_view``) and does each step once:

1. **schema** — lanes, kinds, Spark types, decode columns and casts come
   from one manifest file (``column_metas``);
2. **plan** — one ``prune.plan`` over the snapshot's stat rows splits the
   pids three ways:

   - *pruned*: the stats prove no row matches;
   - *metadata*: the stats prove EVERY row matches and every aggregate
     reads exactly from them (``stat_sum`` for SUM, an exact set for
     COUNT(DISTINCT) and string extrema, single-valued null-free group
     columns, no delete bitmap in the view);
   - *decoded*: everything else;
3. **decode** — the decoded pids go through ``map_pids`` + ``read_pid``
   with the view's delete ops and the predicates: one ``mapInArrow`` scan
   that yields exactly the matching rows (the per-pid reader's row mask),
   so the core applies no row filter of its own;
4. **answer** — one DataFrame of partial rows (each metadata stat row as
   per-aggregate ``F.when(column == c, ...)`` partials, the exploded exact
   sets of the distinct columns, the decoded rows projected to the same
   partial columns) and one ``groupBy(*group_by).agg(...)``: sums of the
   partial counts and sums, min/max of the partial extrema,
   ``countDistinct`` of the values. Set semantics make overlap between the
   set values and the decoded values harmless. The group keys of metadata
   rows come from the driver's stats table, never from a join.

Soundness over speed everywhere: a partition that cannot be PROVEN fully
covered is decoded — never wrong, only slower.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import prune
from ..plans.manifest import ManifestStore
from .decode import (
    _arrow_target_type,
    _spark_type,
    column_metas,
    map_pids,
    prune_manifests,  # noqa: F401 — perfbench/tracing.py wraps it by name
    read_pid,
    resolve_view,
    schema_of,
)

_FNS = ("count", "sum", "min", "max", "null_count", "distinct")

# Parsed shape of the stat_distinct JSON (codecs/stats.py column_distinct):
# a domain tag + the partition's exact sorted distinct values as canonical
# strings — parsed with from_json in the Spark-side metadata partials.
_DISTINCT_DDL = "struct<d:string,v:array<string>>"

_META_COLS = [
    "pid", "column", "n_values", "stat_min", "stat_max", "stat_sum",
    "stat_nulls", "stat_distinct",
]

# exact integer sums: per-partition decimal strings and decoded integers
# both accumulate as decimal(38,0) — no float detour
_DEC = "decimal(38,0)"


def _pids_where(stats: pa.Table, pids: np.ndarray, col: str, row_mask: np.ndarray) -> np.ndarray:
    """Per-pid flags aligned with ``pids``: True where the pid's stat row
    for ``col`` satisfies ``row_mask`` (a bool mask over ``stats`` rows)."""
    sel = pc.equal(stats.column("column"), col).to_numpy(zero_copy_only=False) & row_mask
    return np.isin(pids, stats.column("pid").to_numpy()[sel])


def _kind(t: pa.DataType) -> str:
    """Storage kind of a column decoded as ``t`` — "int", "str" or "other"
    — which decides the stats comparisons that are provably exact."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    return "other"


def _stat_rows(
    spark: SparkSession, stats: pa.Table, pids: np.ndarray, group_by: list[str]
) -> DataFrame:
    """The stat rows (``_META_COLS``) of ``pids`` as a Spark DataFrame, each
    carrying its pid's group key per group column (``_g0``, ``_g1``, ...,
    canonical strings): the single value of that column's exact set, read
    on the driver."""
    t = stats.select(_META_COLS).filter(pa.array(np.isin(stats.column("pid").to_numpy(), pids)))
    row_pid = t.column("pid").to_numpy()
    for i, g in enumerate(group_by):
        at = t.filter(pc.equal(t.column("column"), g))
        key_pid = at.column("pid").to_numpy()
        keys = pa.array(
            [json.loads(s)["v"][0] for s in at.column("stat_distinct").to_pylist()], pa.string()
        )
        order = np.argsort(key_pid)
        at_row = order[np.searchsorted(key_pid, row_pid, sorter=order)]
        t = t.append_column(f"_g{i}", keys.take(at_row))
    return spark.createDataFrame(t)


def _out_name(fn: str, col: str) -> str:
    return "count_star" if (fn, col) == ("count", "*") else f"{fn}_{col}"


def _partials(fn: str, col: str, kind: str | None, ref_col: str):
    """(metadata partial over a stat row, decoded partial over a row, final
    aggregate over the partial column) of one aggregate; the partial
    column is named by the aggregate's output name. The metadata partial
    is None where no stat answers it (distinct values come from the
    exploded sets instead; other-kind columns are decode-only)."""
    name = _out_name(fn, col)
    p = F.col(name)
    own = F.col("column") == (ref_col if col == "*" else col)
    total = F.coalesce(F.sum(p), F.lit(0)).cast("long").alias(name)
    if fn == "count" and col == "*":
        return F.when(own, F.col("n_values")), F.lit(1).cast("long"), total
    if fn == "count":
        meta = F.when(own, F.col("n_values") - F.col("stat_nulls"))
        return meta, F.col(col).isNotNull().cast("long"), total
    if fn == "null_count":
        return F.when(own, F.col("stat_nulls")), F.col(col).isNull().cast("long"), total
    if fn == "distinct":
        # canonical twin of codecs.stats.column_distinct: integers as
        # decimal strings (Spark's integral cast-to-string), strings
        # verbatim — the decoded values must speak the sets' encoding
        dec = F.col(col).cast("string") if kind in ("int", "str") else F.col(col)
        return None, dec, F.countDistinct(p).cast("long").alias(name)
    if fn == "sum":
        if kind == "int":
            return (
                F.when(own, F.col("stat_sum").cast(_DEC)), F.col(col).cast(_DEC),
                F.sum(p).cast("long").alias(name),
            )
        # order-dependent float sums: decode-only
        return None, F.col(col), F.sum(p).cast("double").alias(name)
    agg = F.min if fn == "min" else F.max
    if kind == "int":
        stat = F.col("stat_min" if fn == "min" else "stat_max")
        return F.when(own, stat.cast("long")), F.col(col).cast("long"), agg(p).alias(name)
    if kind == "str":
        # exact string extrema from the sorted distinct set (the truncated
        # stat_min/stat_max are not exact); F.get, never element_at — ANSI
        # throws on the empty all-null set, which must contribute NULL
        v = F.from_json("stat_distinct", _DISTINCT_DDL)["v"]
        meta = F.when(own, F.get(v, 0) if fn == "min" else F.get(v, F.size(v) - 1))
        return meta, F.col(col), agg(p).alias(name)
    return None, F.col(col), agg(p).alias(name)


def _answer(
    spark: SparkSession,
    store: ManifestStore,
    view: tuple,
    aggs: list[tuple],
    predicates: list[tuple] | None,
    group_by: list[str] = (),
):
    """The aggregation core: ``(kinds, rows, finals, plan)`` for ``aggs``
    over the rows of ``view`` (``resolve_view``'s triple) that match
    ``predicates``.

    ``rows`` holds one partial column per aggregate, named by its output
    name, plus the ``group_by`` columns; ``finals`` maps each output name
    to its aggregate over ``rows``; ``plan`` reports the pids pruned,
    answered from metadata and decoded; ``kinds`` is each column's
    storage kind."""
    _version, snap, delete_ops = view
    used = (
        {c for _, c in aggs if c != "*"}
        | {c for c, _, _ in predicates or []}
        | set(group_by)
    )
    metas = column_metas(store, used or None)
    types = {c: _arrow_target_type(m) for c, m in metas.items()}
    kinds = {c: _kind(t) for c, t in types.items()}
    for fn, col in aggs:
        if col != "*" and col not in kinds:
            raise ValueError(f"unknown column {col!r} in {store.root}")
    for g in group_by:
        if g not in kinds:
            raise ValueError(f"unknown group column {g!r} in {store.root}")
    prune.check_rows(types, predicates)
    ref_col = next(iter(kinds))  # any column: one manifest row per (pid, col)
    needed = sorted(used) or [ref_col]

    # every agg must be metadata-computable, else the metadata rows would
    # miss partials — decode everything instead (still pruned)
    meta_capable = all(
        fn in ("count", "null_count")
        or (fn in ("distinct", "min", "max") and kinds.get(col) in ("int", "str"))
        or (fn == "sum" and kinds.get(col) == "int")
        for fn, col in aggs
        if col != "*"
    ) and all(kinds[g] in ("int", "str") for g in group_by)

    # ---- plan: prune, then split survivors into metadata and decoded ------
    lanes = {c: prune.lane(m) for c, m in metas.items()}
    stats, pids, state = prune.plan(snap, predicates, lanes)
    survive = state != prune.EXCLUDED
    full = (state == prune.COVERED) & meta_capable
    if full.any():
        nulls = stats.column("stat_nulls").to_numpy(zero_copy_only=False)
        have_set = stats.column("stat_distinct").is_valid().to_numpy(zero_copy_only=False)
        for fn, col in aggs:
            if fn == "sum":
                # stat_sum present, or the column all-null in that pid
                has_sum = stats.column("stat_sum").is_valid().to_numpy(zero_copy_only=False)
                all_null = nulls == stats.column("n_values").to_numpy()
                full &= _pids_where(stats, pids, col, has_sum | all_null)
            elif fn == "distinct" or (fn in ("min", "max") and kinds[col] == "str"):
                full &= _pids_where(stats, pids, col, have_set)
        # GROUP BY: a pid answers from metadata only when every group column
        # is provably single-valued and null-free there — the whole
        # partition then belongs to one group
        single = prune.set_sizes(stats.column("stat_distinct")) == 1
        for g in group_by:
            full &= _pids_where(stats, pids, g, single & (nulls == 0))
        # merge-on-read deletes make the physical stats stale
        full &= ~np.isin(pids, sorted(store.delete_touched_pids(delete_ops)))
    partial = survive & ~full

    # ---- decode: the decoded pids, one shuffle-free scan --------------------
    cols, ddl, casts = schema_of(metas, needed)
    root = store.root

    def read(pid):
        return read_pid(root, pid, cols, casts, predicates=predicates, delete_ops=delete_ops)

    dec = map_pids(spark, pids[partial].tolist(), read, ddl)

    # ---- answer: one stream of partial rows ---------------------------------
    meta_part, dec_part, finals = {}, {}, {}
    for fn, col in aggs:
        name = _out_name(fn, col)
        meta_e, dec_part[name], finals[name] = _partials(fn, col, kinds.get(col), ref_col)
        if meta_e is not None:
            meta_part[name] = meta_e
    rows = dec.select(*group_by, *[e.alias(n) for n, e in dec_part.items()])
    if full.any():
        meta = _stat_rows(spark, stats, pids[full], group_by)
        keys = [
            F.col(f"_g{i}").cast(_spark_type(metas[g])).alias(g) for i, g in enumerate(group_by)
        ]
        rows = rows.unionByName(
            meta.select(*keys, *[e.alias(n) for n, e in meta_part.items()]),
            allowMissingColumns=True,
        )
        distinct = {_out_name(fn, col): col for fn, col in aggs if fn == "distinct"}
        if distinct:
            vals = meta.filter(
                F.col("column").isin(list(distinct.values())) & F.col("stat_distinct").isNotNull()
            ).select(
                *keys, F.col("column").alias("_c"),
                F.explode(F.from_json("stat_distinct", _DISTINCT_DDL)["v"]).alias("_v"),
            )
            rows = rows.unionByName(
                vals.select(
                    *group_by,
                    *[F.when(F.col("_c") == c, F.col("_v")).alias(n) for n, c in distinct.items()],
                ),
                allowMissingColumns=True,
            )
    plan = {
        "pids_total": len(pids),
        "pids_pruned": int((~survive).sum()),
        "pids_metadata": int(full.sum()),
        "pids_decoded": int(partial.sum()),
    }
    return kinds, rows, finals, plan


def aggregate_store(
    spark: SparkSession,
    store_root: str,
    aggs: list[tuple],
    predicates: list[tuple] | None = None,
    return_plan: bool = False,
    group_by: list[str] | None = None,
):
    """Aggregate over an encoded store, answering from manifest stats
    wherever provably exact and decoding only the partitions that need it.

    ``aggs``: list of ``(fn, column)`` with fn in {"count", "sum", "min",
    "max", "null_count", "distinct"}; ``("count", "*")`` counts rows. SQL
    semantics throughout: count/sum/min/max ignore nulls, ``count(*)``
    doesn't, empty input yields count 0 and NULL for the rest.

    Returns a one-row DataFrame with columns named ``{fn}_{column}``
    (``count_star``); with ``return_plan=True``, returns ``(df, plan)``
    where plan reports how many partitions were pruned / answered from
    metadata / decoded (read off the driver plan — no extra Spark job).

    sum is metadata-eligible on integer-lane columns only (exact decimal
    strings; float sums are order-dependent); min/max are metadata-
    eligible on integer columns (exact int stats) AND string columns —
    the truncated string bounds are never exact, so string extrema read
    the exact stat_distinct sets, decoding only set-less partitions.
    Other types run the whole query through the decode path, predicates
    still pruning.

    ``("distinct", col)`` is COUNT(DISTINCT col): on integer/string
    columns the exact per-partition sets of the metadata partitions are
    exploded into the same value stream as the decoded partitions' values
    — a low-cardinality COUNT(DISTINCT) over the whole store opens zero
    blobs. Other types are decode-only (canonicalizing floats through
    strings is lossy — -0.0/0.0 — so no set is ever recorded for them).

    ``group_by`` turns the answer into one row per group (SQL GROUP BY
    semantics, null groups included) — the partition-aligned rollup: a
    partition whose stat_distinct set for every group column has exactly
    ONE value (and no nulls) belongs wholly to that group, so its stats
    contribute to that group's row without decoding. Stores encoded with
    ``group_cols`` matching the query's GROUP BY answer the whole rollup
    at metadata scale, like a Hive/Iceberg partition-column aggregate;
    mixed-group partitions decode. Group columns must be integer/string
    typed to be metadata-eligible (others run decode-only, still
    pruned)."""
    for fn, col in aggs:
        if fn not in _FNS:
            raise ValueError(f"unsupported aggregate fn: {fn!r}")
        if col == "*" and fn != "count":
            raise ValueError(f"{fn}(*) is not a thing — name a column")
    store = ManifestStore(store_root)
    group_by = list(group_by or [])
    _kinds, rows, finals, plan = _answer(
        spark, store, resolve_view(store), aggs, predicates, group_by
    )
    out = rows.groupBy(*group_by).agg(*finals.values())
    out = out.select(*group_by, *[_out_name(fn, c) for fn, c in aggs])
    return (out, plan) if return_plan else out
