"""Metadata-only aggregate pushdown: COUNT/SUM/MIN/MAX answered from the
manifest statistics without opening a single blob.

The Parquet footer-aggregate / Iceberg partition-stats analog (the
reference parses exactly these Statistics structures but never consults
them — /root/reference/src/generated/parquet.zig:55-76): manifests carry
exact per-partition ``n_values``, ``stat_nulls``, ``stat_sum`` (decimal
string, integer lanes), and exact integer ``stat_min``/``stat_max``, so a
whole-store COUNT or SUM is a METADATA-scale job — at 10^12-file scale an
O(manifest-rows) aggregation instead of an O(data) scan.

The driver plans the query from the snapshot's stat rows
(:mod:`plans.prune`) and splits the store three ways per partition:

- **pruned** — the stats prove no row matches;
- **fully covered** — the stats prove EVERY row matches, and every
  aggregate can be read exactly from the partition's stats (``stat_sum``
  present for SUM, an exact set for COUNT(DISTINCT) and string extrema,
  single-valued group columns for GROUP BY, no delete bitmap): the
  partition's stats contribute verbatim, aggregated Spark-side;
- **partial** — everything else: decoded via the normal pruned/paged
  path, row-filtered, aggregated, and combined with the metadata half.

Soundness over speed everywhere: a partition that cannot be PROVEN fully
covered falls to the decode path — never wrong, only slower.
"""

from __future__ import annotations

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
    decode_table,
    predicate_expr,
    prune_manifests,  # noqa: F401 — perfbench/tracing.py wraps it by name
)

_FNS = ("count", "sum", "min", "max", "null_count", "distinct")

# Parsed shape of the stat_distinct JSON (codecs/stats.py column_distinct):
# a domain tag + the partition's exact sorted distinct values as canonical
# strings — parsed with from_json in the Spark-side metadata aggregation.
_DISTINCT_DDL = "struct<d:string,v:array<string>>"

_META_COLS = [
    "pid", "column", "n_values", "stat_min", "stat_max", "stat_sum",
    "stat_nulls", "stat_distinct",
]


def _pids_where(stats: pa.Table, pids: np.ndarray, col: str, row_mask: np.ndarray) -> np.ndarray:
    """Per-pid flags aligned with ``pids``: True where the pid's stat row
    for ``col`` satisfies ``row_mask`` (a bool mask over ``stats`` rows)."""
    sel = pc.equal(stats.column("column"), col).to_numpy(zero_copy_only=False) & row_mask
    return np.isin(pids, stats.column("pid").to_numpy()[sel])


def _stat_rows(spark: SparkSession, stats: pa.Table, pids: np.ndarray) -> DataFrame:
    """The stat rows (``_META_COLS``) of ``pids`` as a Spark DataFrame —
    the metadata half's input, taken from the driver plan's table."""
    rows = np.isin(stats.column("pid").to_numpy(), pids)
    return spark.createDataFrame(stats.select(_META_COLS).filter(pa.array(rows)))


def _column_kinds(store: ManifestStore) -> tuple[dict[str, str], dict[str, str]]:
    """(storage lane per column — "int" / "str" / "other", Spark DDL type
    per column) from ONE committed manifest file — the lane drives which
    stats comparisons are provably exact, the type gives the decode-half
    aggregates their natural output type."""
    import json

    table = store.read_one_manifest()
    if table is None or table.num_rows == 0:
        raise ValueError(f"no committed partitions in {store.root}")
    first_pid = table.column("pid")[0].as_py()
    kinds: dict[str, str] = {}
    types: dict[str, str] = {}
    for row in table.filter(
        pa.compute.equal(table.column("pid"), first_pid)
    ).to_pylist():
        meta = json.loads(row["meta_json"])
        t = _arrow_target_type(meta)
        if pa.types.is_integer(t):
            kinds[row["column"]] = "int"
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            kinds[row["column"]] = "str"
        else:
            kinds[row["column"]] = "other"
        types[row["column"]] = _spark_type(meta)
    return kinds, types


def _out_name(fn: str, col: str) -> str:
    return "count_star" if (fn, col) == ("count", "*") else f"{fn}_{col}"


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
    "max", "null_count"}; ``("count", "*")`` counts rows. SQL semantics
    throughout: count/sum/min/max ignore nulls, ``count(*)`` doesn't,
    empty input yields count 0 and NULL for the rest.

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
    columns the per-partition EXACT distinct sets (stat_distinct, manifest
    v7) are unioned for every fully-covered partition that recorded one —
    a low-cardinality COUNT(DISTINCT) over the whole store is a
    metadata-scale set union, zero blobs opened — and only set-less /
    partial / delete-touched partitions decode; the two value streams
    union before the final count, so overlap between halves never double
    counts. Other types fall to the decode path whole (canonicalizing
    floats through strings is lossy — -0.0/0.0 — so no set is ever
    recorded for them).

    ``group_by`` turns the answer into one row per group (SQL GROUP BY
    semantics, null groups included) — the partition-aligned rollup: a
    partition whose stat_distinct set for every group column has exactly
    ONE value (and no nulls) belongs wholly to that group, so its stats
    contribute to that group's row without decoding. Stores encoded with
    ``group_cols`` matching the query's GROUP BY — the natural layout —
    answer the whole rollup at metadata scale, exactly like a Hive/Iceberg
    partition-column aggregate; mixed-group partitions decode. Group
    columns must be integer/string typed to be metadata-eligible (others
    run decode-only, still pruned)."""
    for fn, col in aggs:
        if fn not in _FNS:
            raise ValueError(f"unsupported aggregate fn: {fn!r}")
        if col == "*" and fn != "count":
            raise ValueError(f"{fn}(*) is not a thing — name a column")
    store = ManifestStore(store_root)
    store.check_format()
    kinds, sql_types = _column_kinds(store)
    for fn, col in aggs:
        if col != "*" and col not in kinds:
            raise ValueError(f"unknown column {col!r} in {store_root}")
    for g in group_by or []:
        if g not in kinds:
            raise ValueError(f"unknown group column {g!r} in {store_root}")
    ref_col = next(iter(kinds))  # any column: one manifest row per (pid, col)

    # every agg must be metadata-computable, else the metadata half would
    # be missing fields — fall back to decoding everything (still pruned)
    meta_capable = all(
        fn in ("count", "null_count")
        or (fn in ("distinct", "min", "max") and kinds.get(col) in ("int", "str"))
        or (fn == "sum" and kinds.get(col) == "int")
        for fn, col in aggs
        if col != "*"
    ) and all(kinds.get(g) in ("int", "str") for g in group_by or [])

    # ---- driver plan: prune, then split survivors into fully covered
    # (answered from stats) and partial (decoded) --------------------------
    snap = store.fresh_snapshot()
    stats, pids, state = prune.plan(store, snap, predicates)
    survive = state != prune.EXCLUDED
    full = survive & (state == prune.COVERED) if meta_capable else np.zeros(len(pids), bool)
    if meta_capable:
        nulls = stats.column("stat_nulls").to_numpy(zero_copy_only=False)
        have_set = stats.column("stat_distinct").is_valid().to_numpy(zero_copy_only=False)
        for fn, col in aggs:
            if fn == "sum":
                # stat_sum present, or the column all-null in that pid
                has_sum = stats.column("stat_sum").is_valid().to_numpy(zero_copy_only=False)
                all_null = nulls == stats.column("n_values").to_numpy()
                full &= _pids_where(stats, pids, col, has_sum | all_null)
            elif fn == "distinct" or (fn in ("min", "max") and kinds[col] == "str"):
                # exact sets: COUNT(DISTINCT) always; string extrema too
                # (the truncated stat_min/stat_max are not exact)
                full &= _pids_where(stats, pids, col, have_set)
        # GROUP BY: a pid answers from metadata only when every group column
        # is provably single-valued and null-free there — the whole
        # partition then belongs to one group
        single = prune.set_sizes(stats.column("stat_distinct")) == 1
        for g in group_by or []:
            full &= _pids_where(stats, pids, g, single & (nulls == 0))
        # merge-on-read deletes make the physical stats stale
        full &= ~np.isin(pids, sorted(store.delete_touched_pids()))
    partial = survive & ~full

    # ---- metadata half -----------------------------------------------------
    meta_rows = _stat_rows(spark, stats, pids[full])
    if group_by:
        # pid -> group key, read from the single-valued stat_distinct set
        # (cast back from the canonical string to the column's own type);
        # every full pid has exactly one value per group column by the
        # eligibility rule above
        key_df = None
        for g in group_by:
            kg = meta_rows.filter(
                (F.col("column") == g) & F.col("stat_distinct").isNotNull()
            ).select(
                "pid",
                F.element_at(F.from_json("stat_distinct", _DISTINCT_DDL)["v"], 1)
                .cast(sql_types[g]).alias(g),
            )
            key_df = kg if key_df is None else key_df.join(kg, "pid")
        meta_rows = meta_rows.join(key_df, "pid")
    scalar = [(fn, c) for fn, c in aggs if fn != "distinct"]
    dist_cols = [c for fn, c in aggs if fn == "distinct"]
    meta_aggs, dec_aggs = [], []
    for fn, col in scalar:
        name = _out_name(fn, col)
        if (fn, col) == ("count", "*"):
            meta_aggs.append(
                F.sum(F.when(F.col("column") == ref_col, F.col("n_values")))
                .cast("long").alias(name)
            )
            dec_aggs.append(F.count(F.lit(1)).cast("long").alias(name))
        elif fn == "count":
            meta_aggs.append(
                F.sum(
                    F.when(
                        F.col("column") == col,
                        F.col("n_values") - F.col("stat_nulls"),
                    )
                ).cast("long").alias(name)
            )
            dec_aggs.append(F.count(F.col(col)).cast("long").alias(name))
        elif fn == "null_count":
            meta_aggs.append(
                F.sum(F.when(F.col("column") == col, F.col("stat_nulls")))
                .cast("long").alias(name)
            )
            dec_aggs.append(
                F.sum(F.col(col).isNull().cast("long")).cast("long").alias(name)
            )
        elif fn == "sum":
            if kinds[col] == "int":
                # exact: per-partition decimal strings + a decimal(38,0)
                # accumulator on the decoded side — no float detour
                meta_aggs.append(
                    F.sum(
                        F.when(
                            F.col("column") == col,
                            F.col("stat_sum").cast("decimal(38,0)"),
                        )
                    ).cast("long").alias(name)
                )
                dec_aggs.append(
                    F.sum(F.col(col).cast("decimal(38,0)")).cast("long").alias(name)
                )
            else:
                # non-integer sums are decode-only (meta_capable is False):
                # the metadata half contributes a typed NULL, the decode
                # half sums natively
                meta_aggs.append(F.lit(None).cast("double").alias(name))
                dec_aggs.append(F.sum(F.col(col)).cast("double").alias(name))
        elif fn in ("min", "max"):
            agg = F.min if fn == "min" else F.max
            if kinds[col] == "int":
                src_col = F.col("stat_min" if fn == "min" else "stat_max")
                meta_aggs.append(
                    agg(
                        F.when(F.col("column") == col, src_col.cast("long"))
                    ).alias(name)
                )
                dec_aggs.append(agg(F.col(col)).cast("long").alias(name))
            elif kinds[col] == "str":
                # exact string extrema from the sorted distinct set; F.get
                # (never element_at — ANSI throws on the empty all-null
                # set, which must contribute NULL)
                v = F.from_json("stat_distinct", _DISTINCT_DDL)["v"]
                src_col = F.get(v, 0) if fn == "min" else F.get(v, F.size(v) - 1)
                meta_aggs.append(
                    agg(F.when(F.col("column") == col, src_col)).alias(name)
                )
                dec_aggs.append(agg(F.col(col)).alias(name))
            else:
                # decode-only lane: natural type both halves (meta is NULL)
                meta_aggs.append(F.lit(None).cast(sql_types[col]).alias(name))
                dec_aggs.append(agg(F.col(col)).alias(name))
    # ---- decode half (partial + delete-touched partitions only) ------------
    needed = sorted(
        {c for _, c in aggs if c != "*"}
        | {c for c, _, _ in (predicates or [])}
        | set(group_by or [])
    ) or [ref_col]
    dec = decode_table(
        spark, store_root, columns=needed, predicates=predicates,
        pids=pids[partial].tolist(),
    )
    if predicates:
        dec = dec.filter(predicate_expr(predicates))

    # ---- combine (sum counts/sums, min mins, max maxes — nulls ignored) ----
    out = None
    if scalar:
        if group_by:
            meta_half = meta_rows.groupBy(*group_by).agg(*meta_aggs)
            dec_half = dec.groupBy(*group_by).agg(*dec_aggs)
        else:
            meta_half = meta_rows.agg(*meta_aggs)
            dec_half = dec.agg(*dec_aggs)
        combo = []
        for fn, col in scalar:
            name = _out_name(fn, col)
            if fn in ("count", "sum", "null_count"):
                e = F.sum(F.col(name)).cast("long")
                if fn != "sum":
                    e = F.coalesce(e, F.lit(0).cast("long"))
            elif fn == "min":
                e = F.min(F.col(name))
            else:
                e = F.max(F.col(name))
            combo.append(e.alias(name))
        both = meta_half.unionByName(dec_half)
        if group_by:
            out = both.groupBy(*group_by).agg(*combo)
        else:
            out = both.agg(*combo)

    # ---- COUNT(DISTINCT): union the exact sets of fully-covered partitions
    # with the decoded partitions' values, then count — set semantics make
    # the overlap between halves harmless, and every half is either
    # metadata-scale (exploded JSON sets) or already-decoded rows
    gcols = list(group_by or [])
    dist_names_done: list[str] = []
    for col in dist_cols:
        name = _out_name("distinct", col)
        if kinds[col] in ("int", "str"):
            vals_meta = meta_rows.filter(
                (F.col("column") == col) & F.col("stat_distinct").isNotNull()
            ).select(
                *gcols,
                F.explode(F.from_json("stat_distinct", _DISTINCT_DDL)["v"]).alias("_v"),
            )
            # canonical twin of codecs.stats.column_distinct: integers as
            # decimal strings (Spark's integral cast-to-string), strings
            # verbatim — the decoded stream must speak the set's encoding
            vals_dec = dec.filter(F.col(col).isNotNull()).select(
                *gcols, F.col(col).cast("string").alias("_v")
            )
            u = vals_meta.unionByName(vals_dec)
        else:
            # no sets recorded for this type (lossy canonicalization) —
            # meta_capable forced the whole store through the decode path,
            # so dec holds every surviving row; count natively
            u = dec.filter(F.col(col).isNotNull()).select(
                *gcols, F.col(col).alias("_v")
            )
        if not gcols:
            piece = u.agg(F.countDistinct("_v").cast("long").alias(name))
            out = piece if out is None else out.crossJoin(piece)
            continue
        piece = u.groupBy(*gcols).agg(
            F.countDistinct("_v").cast("long").alias(name)
        )
        if out is None:
            out = piece
            dist_names_done.append(name)
            continue
        # null-safe group join via the struct trick (plain on=[cols] joins
        # drop NULL groups); a group with no non-null values is a 0 count —
        # including EARLIER pieces' counts for a group this piece
        # introduces (possible only when every agg is a distinct, so every
        # lhs agg column is itself a distinct count)
        lhs = out.withColumn("_gkey", F.struct(*[F.col(g) for g in gcols]))
        rhs = piece.withColumn(
            "_gkey", F.struct(*[F.col(g) for g in gcols])
        ).drop(*gcols)
        carried = [
            F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c)
            if c in dist_names_done
            else F.col(c)
            for c in lhs.columns
            if c not in gcols and c != "_gkey"
        ]
        out = (
            lhs.join(rhs, "_gkey", "full_outer")
            .select(
                *[F.col("_gkey")[g].alias(g) for g in gcols],
                *carried,
                F.coalesce(F.col(name), F.lit(0).cast("long")).alias(name),
            )
        )
        dist_names_done.append(name)
    if dist_cols or group_by:
        order = gcols + [_out_name(fn, c) for fn, c in aggs]
        out = out.select(*order)

    if not return_plan:
        return out
    plan = {
        "pids_total": len(pids),
        "pids_pruned": int((~survive).sum()),
        "pids_metadata": int(full.sum()),
        "pids_decoded": int(partial.sum()),
    }
    return out, plan
