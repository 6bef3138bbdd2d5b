"""Aggregates answered from manifest statistics: COUNT, SUM, MIN, MAX,
COUNT(DISTINCT) and null counts, optionally grouped, decoding only the
partitions the statistics cannot answer.

This is the footer-aggregate analog of Parquet's ``Statistics`` and
Iceberg's partition stats: manifests carry exact per-partition
``n_values``, ``stat_nulls``, ``stat_sum`` (decimal string, integer
lanes), exact integer ``stat_min``/``stat_max`` and exact distinct sets
(``stat_distinct``), so a whole-store COUNT or SUM reads manifest rows,
not data.

One private core, :func:`_answer`, serves ``aggregate_store`` and
``check_store`` (operators/quality.py). It takes a view resolved once by
the caller (``resolve_view``) and does each step once:

1. **schema** — lanes, kinds, decode columns and casts come from one
   manifest file (``column_metas``);
2. **plan** — one ``prune.plan`` over the snapshot's stat rows splits the
   pids three ways: *pruned* (the stats prove no row matches), *metadata*
   (they prove EVERY row matches and answer every aggregate exactly:
   ``stat_sum`` for SUM, an exact set for COUNT(DISTINCT) and string
   extrema, single-valued null-free group columns, no delete bitmap in the
   view) and *decoded* (everything else);
3. **partials** — one ``map_pids`` stage of at most ``task_slots`` tasks
   reads the decoded pids (``read_pid``: exactly the matching rows, deletes
   applied) and folds them with ``pyarrow``'s ``group_by`` into partial
   rows: one per group (counts, integer sums as ``decimal(38,0)``, float
   sums, extrema) and one per distinct (group, value) of each
   COUNT(DISTINCT), values as the exact sets' canonical strings. The driver
   collects them with one ``toArrow()`` and builds the metadata pids'
   partial rows in Arrow from the plan's ``stats`` table; a pid's group
   keys are the single values of its group columns' sets;
4. **answer** — one more ``group_by`` on the driver folds both (set
   semantics make overlap between set values and decoded values harmless),
   and the answer reaches Spark as a LocalRelation: at most one Spark job,
   with no Exchange, and none when metadata answers every surviving pid.

Soundness over speed everywhere: a partition that cannot be PROVEN fully
covered is decoded — never wrong, only slower.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..plans import prune
from ..plans.manifest import ManifestStore
from ..session import task_slots
from .decode import (
    _arrow_type,
    column_metas,
    deal_pids,
    map_pids,
    prune_manifests,  # noqa: F401 — perfbench/tracing.py wraps it by name
    read_pid,
    resolve_view,
    schema_of,
)

_FNS = ("count", "sum", "min", "max", "null_count", "distinct")

# how partial columns fold: counts and sums add up, extrema take the
# extremum; COUNT(DISTINCT) keeps its values and counts them at the end
_FOLD = {"count": "sum", "null_count": "sum", "sum": "sum", "min": "min", "max": "max"}

# exact integer sums: per-partition decimal strings and decoded integers
# both accumulate as decimal(38,0), never as a wrapping int64
_DEC = pa.decimal128(38, 0)


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


def _out_name(fn: str, col: str) -> str:
    return "count_star" if (fn, col) == ("count", "*") else f"{fn}_{col}"


def _canon_float(a):
    """Floats with SQL equality made bitwise: -0.0 as 0.0, every NaN as
    one NaN."""
    nan, zero = pa.scalar(float("nan"), a.type), pa.scalar(0, a.type)
    return pc.if_else(pc.is_nan(a), nan, pc.add(a, zero))


def _order_key(a, inverse: bool = False) -> pa.Array:
    """Floats as int64 keys in Spark's float order, NaN above +inf (Arrow's
    min/max skip NaN, and give +-inf over NaN alone); ``inverse`` maps the
    keys back."""
    a = a if inverse else _canon_float(pc.cast(a, pa.float64()))
    bits = a.fill_null(0).to_numpy(zero_copy_only=False).view(np.int64)
    key = np.where(bits < 0, bits ^ np.int64(2**63 - 1), bits)
    mask = a.is_null().to_numpy(zero_copy_only=False)
    return pa.array(key.view(np.float64) if inverse else key, mask=mask)


def _pre(t: pa.Table, keys: list[str], specs: dict) -> pa.Table:
    """Decoded rows as partial rows, each row a group of one: integer sums
    as ``decimal(38,0)``, float extrema as :func:`_order_key`, integer and
    string COUNT(DISTINCT) values as ``codecs.stats.column_distinct``'s
    canonical strings (integers as decimal strings), so they meet the
    metadata pids' exact sets under set semantics."""
    out = {g: _canon_float(t[g]) if pa.types.is_floating(t[g].type) else t[g] for g in keys}
    for name, (fn, col, ctype) in specs.items():
        a, kind = (t[col], _kind(ctype)) if col != "*" else (None, None)
        if a is None:
            out[name] = pa.array(np.ones(t.num_rows, np.int64))
        elif fn in ("count", "null_count"):
            out[name] = pc.cast(pc.is_valid(a) if fn == "count" else pc.is_null(a), pa.int64())
        elif fn == "sum" and pa.types.is_floating(ctype):  # order-dependent: decode-only
            out[name] = pc.cast(a, pa.float64())
        elif fn == "sum":
            if kind != "int" and not pa.types.is_decimal(ctype):
                raise ValueError(f"sum({col}) needs a numeric column, not {ctype}")
            out[name] = pc.cast(a, _DEC if kind == "int" else pa.decimal128(38, ctype.scale))
        elif pa.types.is_floating(ctype):
            out[name] = _canon_float(a) if fn == "distinct" else _order_key(a)
        elif kind == "int" and fn != "distinct":
            out[name] = pc.cast(a, pa.int64())
        elif kind != "other":  # string extrema; int and string distinct values
            out[name] = pc.cast(a, pa.string())
        else:
            out[name] = a
    return pa.table(out)


def _fold(t: pa.Table, keys: list[str], specs: dict) -> pa.Table:
    """Partial rows folded to one row per group (counts, sums, extrema) and
    one per distinct (group, value) of each COUNT(DISTINCT). Idempotent: a
    task folds each pid, then its pids' partials."""
    scalar = [(n, _FOLD[s[0]]) for n, s in specs.items() if s[0] != "distinct"]
    parts = []
    if scalar or keys:
        got = t.group_by(keys, use_threads=False).aggregate(scalar)
        got = got.select([*keys, *[f"{n}_{op}" for n, op in scalar]])
        parts.append(got.rename_columns([*keys, *[n for n, _ in scalar]]))
    for name, (fn, *_) in specs.items():
        if fn == "distinct":
            vals = t.select([*keys, name]).filter(pc.is_valid(t[name]))
            parts.append(vals.group_by([*keys, name], use_threads=False).aggregate([]))
    return pa.concat_tables(parts, promote_options="default").select([*keys, *specs])


def _meta_rows(stats: pa.Table, pids: np.ndarray, keys: list[str], specs: dict, ref_col: str):
    """Partial rows of the metadata ``pids`` from their stat rows: one per
    pid with the counts, integer sums and integer extrema, and one per
    value of each exact set a COUNT(DISTINCT) or string extremum reads. A
    pid's group keys are the single values of its group columns' sets."""
    t = stats.filter(pa.array(np.isin(stats.column("pid").to_numpy(), pids))).sort_by("pid")

    def at(col):  # the pids' stat rows of ``col``, in pid order
        return t.filter(pc.equal(t.column("column"), col))

    key_cols = {g: pc.list_flatten(prune.set_values(at(g)["stat_distinct"])) for g in keys}
    base, parts = dict(key_cols), []
    for name, (fn, col, ctype) in specs.items():
        s = at(ref_col if col == "*" else col)
        if fn in ("count", "null_count", "sum") or (fn != "distinct" and _kind(ctype) == "int"):
            stat = {"count": "n_values", "null_count": "stat_nulls", "sum": "stat_sum"}.get(fn)
            base[name] = s[stat or f"stat_{fn}"]  # stat_min / stat_max
            if fn == "count" and col != "*":
                base[name] = pc.subtract(base[name], s["stat_nulls"])
        else:  # distinct values and string extrema: every value of the set
            vals = prune.set_values(s["stat_distinct"])
            parent = pc.list_parent_indices(vals)
            keys_at = {g: k.take(parent) for g, k in key_cols.items()}
            parts.append(pa.table({**keys_at, name: pc.list_flatten(vals)}))
    return pa.concat_tables(([pa.table(base)] if base else []) + parts, promote_options="default")


def _finish(rows: pa.Table, keys: list[str], specs: dict) -> pa.Table:
    """The answer from partial rows: one row per group (one row when
    ungrouped, also over no rows), one column per aggregate, at the Arrow
    types whose Spark types the answer has."""
    ops = [(n, _FOLD.get(s[0], "count_distinct")) for n, s in specs.items()]
    got = rows.group_by(keys, use_threads=False).aggregate(ops)
    fields = [pa.field(g, got[g].type) for g in keys]
    cols = [got[g] for g in keys]
    for (name, op), (fn, _col, ctype) in zip(ops, specs.values()):
        a = got[f"{name}_{op}"]
        counted = fn in ("count", "null_count", "distinct")
        if counted:
            a = a.fill_null(0)
        elif fn == "sum" and _kind(ctype) == "int":
            a = pc.cast(a, pa.int64())  # ArrowInvalid past int64, never a wrap
        elif fn == "sum":
            a = pc.cast(a, pa.float64())
        elif pa.types.is_floating(ctype):
            a = _order_key(a, inverse=True).cast(ctype)
        fields.append(pa.field(name, a.type, nullable=not counted))
        cols.append(a)
    return pa.Table.from_arrays(cols, schema=pa.schema(fields))


def _answer(
    spark: SparkSession,
    store: ManifestStore,
    view: tuple,
    aggs: list[tuple],
    predicates: list[tuple] | None,
    group_by: list[str] = (),
):
    """The aggregation core, eager: ``(kinds, answer, rows, plan)`` for
    ``aggs`` over the rows of ``view`` (``resolve_view``'s triple) that
    match ``predicates``. ``answer`` is an Arrow table of the ``group_by``
    columns and one column per output name; ``rows`` are the partial rows
    it was folded from (each COUNT(DISTINCT) column lists its values);
    ``plan`` counts the pids pruned, answered from metadata and decoded;
    ``kinds`` is each column's storage kind."""
    _version, snap, delete_ops = view
    used = (
        {c for _, c in aggs if c != "*"}
        | {c for c, _, _ in predicates or []}
        | set(group_by)
    )
    metas = column_metas(store, used or None)
    types = {c: _arrow_type(m, target=True) for c, m in metas.items()}
    kinds = {c: _kind(t) for c, t in types.items()}
    if missing := sorted(used - kinds.keys()):
        raise ValueError(f"unknown column {missing[0]!r} in {store.root}")
    prune.check_rows(types, predicates)
    ref_col = next(iter(kinds))  # any column: one manifest row per (pid, col)
    needed = sorted(used) or [ref_col]
    specs = {_out_name(fn, col): (fn, col, types.get(col)) for fn, col in aggs}
    # the partial rows' schema: what _pre makes of no rows (and ValueError
    # for an aggregate the column's type has none of)
    schema = _pre(pa.schema([(c, types[c]) for c in needed]).empty_table(), group_by, specs).schema

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
        sizes = pc.list_value_length(prune.set_values(stats.column("stat_distinct")))
        single = pc.fill_null(pc.equal(sizes, 1), False).to_numpy(zero_copy_only=False)
        for g in group_by:
            full &= _pids_where(stats, pids, g, single & (nulls == 0))
        # merge-on-read deletes make the physical stats stale
        full &= ~np.isin(pids, sorted(store.delete_touched_pids(delete_ops)))
    partial = survive & ~full

    # ---- partial rows: one decode stage, then the metadata pids -------------
    parts = []
    if partial.any():
        cols, _ddl, casts = schema_of(metas, needed)
        runs = deal_pids(pids[partial].tolist(), task_slots(spark))
        root = store.root

        def fold_run(i):
            folded = []
            for pid in runs[i]:
                batches = list(read_pid(root, pid, cols, casts, predicates, delete_ops))
                if batches:
                    table = pa.Table.from_batches(batches)
                    folded.append(_fold(_pre(table, group_by, specs), group_by, specs))
            if folded:
                yield from _fold(pa.concat_tables(folded), group_by, specs).to_batches()

        # map_pids over the run indexes: at most task_slots of them, so each
        # task gets one run and folds all of its pids
        ddl = from_arrow_schema(schema)  # the decode DDL's types: _arrow_type(target=True)
        parts.append(map_pids(spark, list(range(len(runs))), fold_run, ddl).toArrow())
    if full.any():
        parts.append(_meta_rows(stats, pids[full], group_by, specs, ref_col).select(schema.names))
    rows = pa.concat_tables([p.cast(schema) for p in parts]) if parts else schema.empty_table()
    answer = _finish(rows, group_by, specs)
    plan = {
        "pids_total": len(pids),
        "pids_pruned": int((~survive).sum()),
        "pids_metadata": int(full.sum()),
        "pids_decoded": int(partial.sum()),
    }
    return kinds, answer, rows, plan


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
    "max", "null_count", "distinct"}; ``("count", "*")`` counts rows and
    ``("distinct", col)`` is COUNT(DISTINCT col). SQL semantics throughout:
    count/sum/min/max ignore nulls, ``count(*)`` doesn't, empty input
    yields count 0 and NULL for the rest; an integer sum outside the long
    range raises.

    Returns a DataFrame with columns named ``{fn}_{column}``
    (``count_star``), after the ``group_by`` columns; with
    ``return_plan=True``, ``(df, plan)``, where plan counts the partitions
    pruned / answered from metadata / decoded. Eager, like ``check_store``:
    the answer is computed before this returns, in at most one Spark job
    (one Python stage of at most ``task_slots`` tasks, no Exchange), in
    none when metadata answers every partition that survives pruning. The
    driver holds at most ``task_slots`` × (groups + distinct values)
    partial rows from the tasks, plus the metadata partitions' own, and
    returns the answer as a LocalRelation.

    Metadata-eligible: counts; sum on integer columns (exact decimal
    strings; float sums are order-dependent); min/max on integer columns
    (exact int stats) and on string columns, whose truncated bounds are
    never exact, so their extrema read the exact sets; COUNT(DISTINCT) on
    integer/string columns from the exact sets, so a low-cardinality
    COUNT(DISTINCT) over the whole store opens zero blobs. Other types are
    decode-only, predicates still pruning (no set is recorded for floats:
    canonicalizing them through strings is lossy, -0.0/0.0).

    ``group_by`` gives one row per group (SQL GROUP BY semantics, null
    groups included) — the partition-aligned rollup: a partition whose set
    for every group column has exactly ONE value (and no nulls) belongs
    wholly to that group and contributes without decoding, so a store
    encoded with ``group_cols`` matching the GROUP BY answers the rollup
    at metadata scale, like a Hive/Iceberg partition-column aggregate.
    Mixed-group partitions decode; group columns must be integer/string
    typed to be metadata-eligible."""
    for fn, col in aggs:
        if fn not in _FNS:
            raise ValueError(f"unsupported aggregate fn: {fn!r}")
        if col == "*" and fn != "count":
            raise ValueError(f"{fn}(*) is not a thing — name a column")
    store = ManifestStore(store_root)
    group_by = list(group_by or [])
    _kinds, answer, _rows, plan = _answer(
        spark, store, resolve_view(store), aggs, predicates, group_by
    )
    # a LocalRelation: Spark's types come from the answer's Arrow types
    out = spark.createDataFrame(answer.select([*group_by, *[_out_name(fn, c) for fn, c in aggs]]))
    return (out, plan) if return_plan else out
