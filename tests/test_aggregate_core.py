"""The aggregation core behind aggregate_store and check_store
(operators/aggregate.py ``_answer``): one view resolution, one plan and
at most one Spark job per query — one Python stage, counted through a job
group, and none when metadata answers — and answers equal to DuckDB's on
the same rows, both on encoded partitions and on partitions that
compaction and add_columns wrote (their stats come from the same
manifest-row builder). The result schema, the empty-input answers and
integer-SUM overflow are pinned.
"""

import contextlib
import json
import random

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
from parzig_spark.session import task_slots

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


@contextlib.contextmanager
def _jobs(spark, name):
    """Yields a function giving ``(stages, tasks)`` of each Spark job run
    so far inside the block, in job order: the job-group count of
    ``test_driver_tables._job_group``, with each job's stages and tasks."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)

    def jobs():
        tracker = sc.statusTracker()
        out = []
        for job in sorted(tracker.getJobIdsForGroup(name)):
            stages = tracker.getJobInfo(job).stageIds
            out.append((len(stages), sum(tracker.getStageInfo(s).numTasks for s in stages)))
        return out

    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _one_python_stage(spark, jobs):
    """One job of one stage (so no Exchange) of at most task_slots tasks."""
    got = jobs()
    assert len(got) == 1 and got[0][0] == 1 and 1 <= got[0][1] <= task_slots(spark), got


@pytest.mark.parametrize("shape", list(SHAPES))
def test_one_scan_no_join(spark, store, calls, shape):
    """One query = one view resolution, one prune.plan and one Spark job:
    the decode scan, one Python stage of at most task_slots tasks, so no
    Exchange and no join."""
    root, _rows = store
    with _jobs(spark, f"one-scan-{shape}") as jobs:
        out, plan = aggregate_store(spark, root, return_plan=True, **SHAPES[shape])
        out.collect()
        assert calls == {"plan": 1, "resolve_view": 1}
        _one_python_stage(spark, jobs)
    assert plan["pids_metadata"] > 0 and plan["pids_decoded"] > 0, plan


def test_metadata_answer_runs_no_job(spark, typed_store):
    """No predicate, no delete op, every aggregate answered by the stats:
    aggregate_store and check_store run no Spark job at all."""
    aggs = [("count", "*"), ("sum", "k"), ("min", "band"), ("max", "g"), ("distinct", "g")]
    with _jobs(spark, "metadata-only") as jobs:
        out, plan = aggregate_store(spark, typed_store, aggs, return_plan=True)
        got = out.collect()[0]
        audit = check_store(
            spark, typed_store, [("values_in_set", "g", ["g0", "g1"]), ("min_at_least", "k", 0)]
        ).collect()
        assert jobs() == []
    assert plan["pids_decoded"] == 0 and plan["pids_metadata"] == plan["pids_total"] > 1, plan
    assert tuple(got) == (400, sum(range(400)), 0, "g2", 3)
    assert [r["observed"] for r in audit] == ['violators=["g2"]', "min=0"]


@pytest.mark.parametrize(
    "kw",
    [
        dict(aggs=[("count", "*"), ("sum", "k"), ("max", "x")], predicates=[("k", "<", 150)]),
        dict(aggs=[("distinct", "s"), ("distinct", "big")]),
        dict(aggs=[("count", "*"), ("min", "s"), ("distinct", "k")], group_by=["g", "band"],
             predicates=[("big", ">=", BIG + 7 * 900)]),
    ],
    ids=["range", "distinct", "group_by"],
)
def test_decoding_aggregate_runs_one_python_stage(spark, store, kw):
    """Every aggregate that decodes runs exactly one Spark job: one Python
    stage of at most task_slots tasks, COUNT(DISTINCT) and GROUP BY
    included."""
    root, _rows = store
    with _jobs(spark, "decoding-" + "-".join(f"{fn}_{c}" for fn, c in kw["aggs"])) as jobs:
        out, plan = aggregate_store(spark, root, return_plan=True, **kw)
        out.collect()
        _one_python_stage(spark, jobs)
    assert plan["pids_decoded"] > 0, plan


def test_check_store_runs_one_python_stage(spark, store):
    """A values_in_set check reads its violators off the same partial rows
    as the counts and extrema: one Spark job, not one more per domain."""
    root, _rows = store
    with _jobs(spark, "check-one-stage") as jobs:
        out, plan = check_store(
            spark, root,
            [("row_count_between", None, (0, 10**9)), ("values_in_set", "s", ["x"]),
             ("values_in_set", "g", ["α"]), ("max_at_most", "big", 0)],
            where=[("k", ">=", 1_000)], return_plan=True,
        )
        out.collect()
        _one_python_stage(spark, jobs)
    assert plan["decoded"] > 0, plan


def test_check_store_plans_once(spark, store, calls):
    root, _rows = store
    check_store(
        spark, root, [("row_count_between", None, (0, 10**9)), ("values_in_set", "s", ["x"])],
        where=[("k", ">=", 1_000)],
    ).collect()
    assert calls == {"plan": 1, "resolve_view": 1}


# --- pinned answers: result schema, empty input, integer-SUM overflow -------


_PIN_SCHEMA = "g string, band int, k long, x double, dt date, f float"
PIN_AGGS = [
    ("count", "*"), ("count", "band"), ("null_count", "band"), ("sum", "band"),
    ("min", "band"), ("max", "band"), ("distinct", "band"), ("sum", "k"),
    ("min", "g"), ("max", "g"), ("distinct", "g"), ("sum", "x"), ("min", "x"),
    ("max", "x"), ("distinct", "x"), ("min", "dt"), ("max", "dt"), ("distinct", "dt"),
    ("count", "dt"), ("sum", "f"), ("min", "f"), ("max", "f"),
]
# (name, Spark type, nullable) of every PIN_AGGS output column
PIN_FIELDS = [
    ("count_star", "bigint", False), ("count_band", "bigint", False),
    ("null_count_band", "bigint", False), ("sum_band", "bigint", True),
    ("min_band", "bigint", True), ("max_band", "bigint", True),
    ("distinct_band", "bigint", False), ("sum_k", "bigint", True),
    ("min_g", "string", True), ("max_g", "string", True), ("distinct_g", "bigint", False),
    ("sum_x", "double", True), ("min_x", "double", True), ("max_x", "double", True),
    ("distinct_x", "bigint", False), ("min_dt", "date", True), ("max_dt", "date", True),
    ("distinct_dt", "bigint", False), ("count_dt", "bigint", False),
    ("sum_f", "double", True), ("min_f", "float", True), ("max_f", "float", True),
]


@pytest.fixture(scope="module")
def typed_store(spark, tmp_path_factory):
    """A store of int, long, string, double, date and float columns."""
    import datetime

    day = datetime.date(2020, 1, 1)
    rows = [
        (f"g{i % 3}", i % 5, i, i * 0.5, day + datetime.timedelta(days=i % 40), float(i))
        for i in range(400)
    ]
    root = str(tmp_path_factory.mktemp("core") / "typed")
    encode_table(
        spark.createDataFrame(rows, _PIN_SCHEMA), root, group_cols=["g"], salt_cols=["k"],
        target_bytes=2 << 10, resume=False,
    ).count()
    return root


@pytest.mark.parametrize(
    "group_by, keys",
    [([], []), (["band"], [("band", "int", True)]), (["g"], [("g", "string", True)])],
    ids=["ungrouped", "by_int", "by_str"],
)
def test_result_schema_and_empty_input(spark, typed_store, group_by, keys):
    """Output columns, Spark types and nullability per aggregate kind and
    group-key type; a predicate that matches nothing answers count 0 and
    NULL for the rest in one row ungrouped, and no row grouped."""
    out = aggregate_store(spark, typed_store, PIN_AGGS, group_by=group_by)
    got = [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields]
    assert got == keys + PIN_FIELDS
    empty = aggregate_store(
        spark, typed_store, PIN_AGGS, group_by=group_by, predicates=[("k", ">", 10**6)]
    )
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in empty.schema.fields] == got
    rows = [r.asDict() for r in empty.collect()]
    if group_by:
        assert rows == []
    else:
        zero = {"count_star", "count_band", "null_count_band", "count_dt"}
        assert rows == [
            {n: 0 if n in zero or n.startswith("distinct_") else None for n, _t, _ in PIN_FIELDS}
        ]


@pytest.mark.parametrize(
    "predicates, decoded", [([], False), ([("k", "<", 1_990)], True)],
    ids=["metadata", "decoded"],
)
def test_int_sum_overflow_raises(spark, tmp_path, predicates, decoded):
    """A SUM of int64 values whose total leaves int64 raises — from
    metadata partials and from decoded rows alike — and never wraps."""
    root = str(tmp_path / "big")
    src = spark.range(0, 2_000, numPartitions=4).select(
        (F.col("id") % 4).cast("int").alias("grp"),
        F.col("id").alias("k"),
        (F.lit(2**62) + F.col("id")).alias("v"),
    )
    encode_table(
        src, root, group_cols=["grp"], salt_cols=["k"], target_bytes=8 << 10, resume=False,
    ).count()
    _df, plan = aggregate_store(spark, root, [("count", "*")], predicates, return_plan=True)
    assert (plan["pids_decoded"] > 0) == decoded and plan["pids_metadata"] + plan[
        "pids_decoded"
    ] > 0, plan
    with pytest.raises(Exception):
        aggregate_store(spark, root, [("sum", "v")], predicates).collect()
