"""The aggregation core behind aggregate_store and check_store
(operators/aggregate.py ``_answer``): one view resolution, one plan, one
decode scan and one Spark aggregation per query — checked on the
executed plan — and answers equal to DuckDB's on the same rows, both on
encoded partitions and on partitions that compaction and add_columns
wrote (their stats come from the same manifest-row builder).
"""

import json
import random
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parzig_spark.operators import (
    add_columns,
    aggregate,
    aggregate_store,
    check_store,
    compact_store,
    decode,
    delete_rows,
    encode_table,
    quality,
)
from parzig_spark.plans import prune

duckdb = pytest.importorskip("duckdb")

BIG = 2**60  # int keys above 2^53: a float64 detour would collapse them
GROUPS = ["α", "b", "ç", "d", None]
WORDS = ["x", "ÿ", "日本", "emoji😀", "Zed", None]
_SCHEMA = "g string, band int, k long, big long, s string, x double"


def _rows(n=3_000, seed=11):
    """Seeded source rows: null string and int group keys, non-ASCII
    strings, int keys above 2^53 and a float column."""
    rng = random.Random(seed)
    rows = []
    for k in range(n):
        band = None if k % 17 == 0 else k // 250
        x = None if k % 9 == 0 else k * 0.25  # dyadic: sums exact in any order
        rows.append((rng.choice(GROUPS), band, k, BIG + 7 * k, rng.choice(WORDS), x))
    return rows


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """(root, surviving rows): the store encoded with (g, band) partitions,
    so group-by-g and group-by-band rollups and k/big ranges all have
    metadata-answered partitions, then one delete applied."""
    rows = _rows()
    root = str(tmp_path_factory.mktemp("core") / "store")
    df = spark.createDataFrame(rows, _SCHEMA)
    encode_table(
        df, root, group_cols=["g", "band"], salt_cols=["k"],
        target_bytes=4 << 10, resume=False,
    ).count()
    gone = {3, 500, 501, 1777, 2999}
    delete_rows(spark, root, [("k", "in", sorted(gone))])
    return root, [r for r in rows if r[2] not in gone]


@pytest.fixture(scope="module")
def compacted(spark, store, tmp_path_factory):
    """(root, surviving rows): ``store`` rewritten by compaction — merge
    groups z-ordered on (k, big) into the PAGED layout, the applied delete
    purged."""
    root, rows = store
    dst = str(tmp_path_factory.mktemp("core") / "compacted")
    compact_store(
        spark, root, dst, target_bytes=16 << 10, zorder_cols=["k", "big"], page_values=64,
    ).count()
    return dst, rows


_FIELDS = [
    ("g", pa.string()), ("band", pa.int32()), ("k", pa.int64()),
    ("big", pa.int64()), ("s", pa.string()), ("x", pa.float64()),
]


def _duck(rows, sql, fields=_FIELDS):
    """``sql`` over a DuckDB-owned copy of ``rows``: filters over a
    registered Arrow table push into the Arrow scan and answer with
    Arrow's NaN semantics, not SQL's."""
    con = duckdb.connect()
    try:
        table = pa.table(
            {n: [r[i] for r in rows] for i, (n, _t) in enumerate(fields)},
            schema=pa.schema(fields),
        )
        con.register("src", table)
        con.execute("CREATE TABLE t AS SELECT * FROM src")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


_SQL = {
    "count": "count({})",
    "null_count": "coalesce(sum(CASE WHEN {} IS NULL THEN 1 ELSE 0 END), 0)",
    "sum": "sum({})",
    "min": "min({})",
    "max": "max({})",
    "distinct": "count(DISTINCT {})",
}


def _where_sql(predicates):
    out = []
    for col, op, val in predicates:
        if op == "in":
            out.append(f"{col} IN ({', '.join(repr(v) for v in val)})")
        else:
            out.append(f"{col} {op} {val!r}")
    return " WHERE " + " AND ".join(out) if out else ""


def _key(row, group_by):
    return tuple((row[g] is None, row[g]) for g in group_by)


AGGS = [
    ("count", "*"), ("count", "s"), ("null_count", "s"), ("sum", "k"),
    ("min", "big"), ("max", "big"), ("min", "s"), ("max", "s"),
    ("distinct", "band"), ("distinct", "s"),
]
PREDICATES = {
    "none": [],
    "range": [("big", "<", BIG + 7 * 1_700)],
    "in": [("g", "in", ["α", "d"])],
}


@pytest.mark.parametrize("group_by", [[], ["g"], ["band"]], ids=["ungrouped", "by_str", "by_int"])
@pytest.mark.parametrize("pred", list(PREDICATES))
def test_aggregate_matches_duckdb(spark, store, group_by, pred):
    """Every aggregate, grouped or not, under no / range / IN predicates,
    equals DuckDB's answer on the source rows minus the deleted rows."""
    root, rows = store
    predicates = PREDICATES[pred]
    out = aggregate_store(spark, root, AGGS, predicates=predicates, group_by=group_by)
    select = [
        *group_by,
        *[
            f"{_SQL[fn].format('*' if c == '*' else c)} AS "
            f"{'count_star' if c == '*' else f'{fn}_{c}'}"
            for fn, c in AGGS
        ],
    ]
    sql = f"SELECT {', '.join(select)} FROM t{_where_sql(predicates)}"
    if group_by:
        sql += f" GROUP BY {', '.join(group_by)}"
    want = sorted(_duck(rows, sql), key=lambda r: _key(r, group_by))
    got = sorted([r.asDict() for r in out.collect()], key=lambda r: _key(r, group_by))
    assert got == want
    assert out.columns == list(want[0])


def test_float_aggregates_match_duckdb(spark, store):
    """Float min/max/sum run decode-only and still match."""
    root, rows = store
    out = aggregate_store(
        spark, root, [("count", "x"), ("min", "x"), ("max", "x"), ("sum", "x")],
        predicates=PREDICATES["range"],
    ).collect()[0].asDict()
    want = _duck(
        rows,
        "SELECT count(x) AS count_x, min(x) AS min_x, max(x) AS max_x, sum(x) AS sum_x "
        f"FROM t{_where_sql(PREDICATES['range'])}",
    )[0]
    assert out == want


@pytest.mark.parametrize("group_by", [[], ["g"], ["band"]], ids=["ungrouped", "by_str", "by_int"])
@pytest.mark.parametrize("pred", list(PREDICATES))
def test_aggregate_matches_duckdb_compacted(spark, compacted, group_by, pred):
    """The same differential over partitions compaction wrote."""
    test_aggregate_matches_duckdb(spark, compacted, group_by, pred)


def test_float_aggregates_match_duckdb_compacted(spark, compacted):
    test_float_aggregates_match_duckdb(spark, compacted)


@pytest.mark.parametrize("group_by", [[], ["g"]], ids=["ungrouped", "by_str"])
def test_added_column_aggregates_match_duckdb(spark, store, tmp_path, group_by):
    """sum/min/max/distinct of a column add_columns backfilled into a
    widened copy (the delete carried across) equal DuckDB's."""
    root, rows = store

    def w(k):
        return None if k % 11 == 0 else (k * 37) % 1000

    wide = spark.createDataFrame(_rows(), _SCHEMA).withColumn(
        "w", F.when(F.col("k") % 11 == 0, None).otherwise((F.col("k") * 37) % 1000)
    )
    dst = str(tmp_path / "wide")
    add_columns(wide, root, dst, ["w"]).count()
    aggs = [("sum", "w"), ("min", "w"), ("max", "w"), ("distinct", "w")]
    out = aggregate_store(spark, dst, aggs, group_by=group_by)
    select = [*group_by, *[f"{_SQL[fn].format(c)} AS {fn}_{c}" for fn, c in aggs]]
    sql = f"SELECT {', '.join(select)} FROM t"
    if group_by:
        sql += f" GROUP BY {', '.join(group_by)}"
    want = sorted(
        _duck([(*r, w(r[2])) for r in rows], sql, [*_FIELDS, ("w", pa.int64())]),
        key=lambda r: _key(r, group_by),
    )
    got = sorted([r.asDict() for r in out.collect()], key=lambda r: _key(r, group_by))
    assert got == want


@pytest.mark.parametrize("pred", ["none", "range"])
def test_check_store_observed_matches_duckdb(spark, store, pred):
    """check_store's ``observed`` strings equal the values DuckDB derives
    from the same rows."""
    root, rows = store
    where = PREDICATES[pred]
    allowed = ["x", "ÿ"]
    checks = [
        ("row_count_between", None, (0, 10**9)),
        ("no_nulls", "s", None),
        ("null_fraction_at_most", "s", 0.5),
        ("values_in_set", "s", allowed),
        ("min_at_least", "big", 0),
        ("max_at_most", "big", 0),
        ("min_at_least", "s", ""),
        ("max_at_most", "s", "zzz"),
    ]
    got = {
        (r["check"], r["column"]): r["observed"]
        for r in check_store(spark, root, checks, where=where).collect()
    }
    w = _where_sql(where)
    agg = _duck(
        rows,
        "SELECT count(*) AS n, count(*) - count(s) AS nulls, min(big) AS min_big, "
        f"max(big) AS max_big, min(s) AS min_s, max(s) AS max_s FROM t{w}",
    )[0]
    vals = [r["s"] for r in _duck(rows, f"SELECT DISTINCT s FROM t{w}") if r["s"] is not None]
    bad = sorted(v for v in vals if v not in allowed)
    assert got == {
        ("row_count_between", None): f"rows={agg['n']}",
        ("no_nulls", "s"): f"nulls={agg['nulls']}",
        ("null_fraction_at_most", "s"): f"null_fraction={agg['nulls'] / agg['n']:.6f}",
        ("values_in_set", "s"): "violators=" + json.dumps(bad[:10]),
        ("min_at_least", "big"): f"min={agg['min_big']}",
        ("max_at_most", "big"): f"max={agg['max_big']}",
        ("min_at_least", "s"): f"min={agg['min_s']}",
        ("max_at_most", "s"): f"max={agg['max_s']}",
    }


# --- plan shape ---------------------------------------------------------------


@pytest.fixture
def calls(monkeypatch):
    """Counts of prune.plan and resolve_view calls (every module binding)."""
    n = {"plan": 0, "resolve_view": 0}

    def counted(key, fn):
        def wrapper(*a, **k):
            n[key] += 1
            return fn(*a, **k)
        return wrapper

    monkeypatch.setattr(prune, "plan", counted("plan", prune.plan))
    view = counted("resolve_view", decode.resolve_view)
    for mod in (decode, aggregate, quality):
        if hasattr(mod, "resolve_view"):
            monkeypatch.setattr(mod, "resolve_view", view)
    return n


SHAPES = {
    "ungrouped_range": dict(aggs=[("count", "*"), ("distinct", "s")],
                            predicates=[("k", "<", 1_600)]),
    "grouped": dict(aggs=[("count", "*"), ("sum", "k"), ("distinct", "s")], group_by=["g"]),
    "grouped_distinct_only": dict(aggs=[("distinct", "s"), ("distinct", "band")],
                                  group_by=["band"]),
}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_one_scan_no_join(spark, store, calls, shape):
    """One query = one view resolution, one prune.plan, one mapInArrow
    decode scan and no join in the executed plan."""
    root, _rows = store
    out, plan = aggregate_store(spark, root, return_plan=True, **SHAPES[shape])
    assert calls == {"plan": 1, "resolve_view": 1}
    physical = out._jdf.queryExecution().executedPlan().toString()
    out.collect()
    assert len(re.findall(r"MapInArrow", physical)) == 1, physical
    assert not re.search(r"Join|CartesianProduct", physical), physical
    assert plan["pids_metadata"] > 0 and plan["pids_decoded"] > 0, plan


def test_check_store_plans_once(spark, store, calls):
    root, _rows = store
    check_store(
        spark, root, [("row_count_between", None, (0, 10**9)), ("values_in_set", "s", ["x"])],
        where=[("k", ">=", 1_000)],
    ).collect()
    assert calls == {"plan": 1, "resolve_view": 1}
