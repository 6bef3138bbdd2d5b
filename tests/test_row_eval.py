"""The row evaluator (plans/prune.py ``row_mask`` / ``row_exact``): SQL
semantics checked against DuckDB over a ``CREATE TABLE`` copy (a
registered Arrow table would push the filter into Arrow and answer with
Arrow's NaN semantics), the exactness table, and every read path plus
``delete_rows`` agreeing on a NaN column.
"""

import datetime
import math
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st

from parzig_spark.plans import prune

duckdb = pytest.importorskip("duckdb")

NAN, INF = float("nan"), float("inf")

_INT_EDGES = [-(2**63), 2**63 - 1, 2**53, 2**53 + 1, -(2**53) - 1, 0, 1, -1, 127, -128]
int64s = st.one_of(st.integers(-(2**63), 2**63 - 1), st.sampled_from(_INT_EDGES))
int8s = st.integers(-128, 127)
floats = st.one_of(st.floats(), st.sampled_from([NAN, -NAN, 0.0, -0.0, INF, -INF, 0.5, 2.0**53]))
strings = st.one_of(
    st.text(st.characters(exclude_categories=("Cs",), exclude_characters="\x00"), max_size=4),
    st.sampled_from(["", "a", "ab", "b", "z", "é", "日本", "😀", "😀a", "\U0010ffff"]),
)
dates = st.dates(datetime.date(1900, 1, 1), datetime.date(2100, 1, 1))
int_lits = st.one_of(st.integers(-(2**100), 2**100), st.sampled_from(_INT_EDGES))

# column -> (Arrow type, value strategy, literal strategies an IN list draws
# its members from — one kind per list, as Catalyst hands them over)
COLUMNS = {
    "i": (pa.int64(), int64s, [int_lits, floats]),
    "j": (pa.int8(), int8s, [int_lits]),
    "f": (pa.float64(), floats, [floats, int_lits]),
    "s": (pa.string(), strings, [strings]),
    "d": (pa.date32(), dates, [dates]),
}


@st.composite
def tables(draw):
    n = draw(st.integers(0, 12))
    return pa.table({
        c: pa.array([draw(st.one_of(st.none(), vals)) for _ in range(n)], t)
        for c, (t, vals, _lits) in COLUMNS.items()
    })


@st.composite
def predicates(draw):
    col = draw(st.sampled_from(sorted(COLUMNS)))
    ops = [o for o in prune.OPS if col == "s" or o not in ("startswith", "like_prefix")]
    op = draw(st.sampled_from(ops))
    lits = draw(st.sampled_from(COLUMNS[col][2]))
    if op in ("startswith", "like_prefix"):
        return col, op, draw(strings)
    if op == "in":
        return col, op, draw(st.lists(st.one_of(st.none(), lits), max_size=4))
    return col, op, draw(st.one_of(st.none(), lits))


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        text = "nan" if math.isnan(v) else repr(v)
        return f"CAST('{text}' AS DOUBLE)"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return f"DATE '{v.isoformat()}'"


def _sql(col, op, val) -> str:
    if op in ("startswith", "like_prefix"):
        return f"starts_with({col}, {_sql_literal(val)})"
    if op == "in":
        members = list(val)
        return f"{col} IN ({', '.join(map(_sql_literal, members))})" if members else "FALSE"
    return f"{col} {'=' if op == '==' else op} {_sql_literal(val)}"


def _duck_rows(table: pa.Table, where: str) -> list[int]:
    """Row indexes DuckDB keeps, filtering a DuckDB-owned copy of ``table``."""
    con = duckdb.connect()
    try:
        con.register("src", table.append_column("_r", pa.array(range(table.num_rows), pa.int64())))
        con.execute("CREATE TABLE t AS SELECT * FROM src")
        return [r[0] for r in con.execute(f"SELECT _r FROM t WHERE {where} ORDER BY _r").fetchall()]
    finally:
        con.close()


_NULL_ROW = pa.table({c: pa.array([None], t) for c, (t, _vals, _lits) in COLUMNS.items()})


@settings(max_examples=200, deadline=None)
@given(table=tables(), preds=st.lists(predicates(), min_size=1, max_size=2))
@example(table=_NULL_ROW, preds=[("j", "!=", 128)])  # a clamped literal keeps nulls null
def test_row_mask_matches_duckdb(table, preds):
    """``row_mask`` keeps exactly the rows DuckDB's WHERE keeps."""
    for col, op, val in preds:
        assert prune.row_exact(table.column(col).type, op, val), (col, op, val)
    got = prune.row_mask(table, preds).nonzero()[0].tolist()
    assert got == _duck_rows(table, " AND ".join(_sql(*p) for p in preds)), preds


_UTC = datetime.timezone.utc
# lane -> (a decoded Arrow type, a literal of the matching kind)
_LANES = {
    "int": (pa.int32(), 7),
    "float": (pa.float32(), 0.5),
    "str": (pa.large_string(), "a"),
    "date": (pa.date32(), datetime.date(2024, 1, 1)),
    "bool": (pa.bool_(), True),
    "decimal": (pa.decimal128(10, 2), Decimal("1.50")),
    "ts": (pa.timestamp("us"), datetime.datetime(2024, 1, 1)),
    "tstz": (pa.timestamp("us", "UTC"), datetime.datetime(2024, 1, 1, tzinfo=_UTC)),
    "bytes": (pa.binary(), b"a"),
}
_EXACT = {
    ("int", "int"), ("int", "float"), ("float", "int"), ("float", "float"),
    ("str", "str"), ("date", "date"), ("bool", "bool"), ("decimal", "decimal"),
    ("ts", "ts"), ("tstz", "tstz"),
}


@pytest.mark.parametrize("lit_lane", sorted(_LANES))
@pytest.mark.parametrize("col_lane", sorted(_LANES))
def test_row_exact_table(col_lane, lit_lane):
    """``row_exact`` holds for exactly the (column, literal) pairs of the
    literal table, for comparisons and IN lists alike; a null literal is
    exact everywhere (it never matches)."""
    t, lit = _LANES[col_lane][0], _LANES[lit_lane][1]
    want = (col_lane, lit_lane) in _EXACT
    for op in ("==", "!=", "<", ">="):
        assert prune.row_exact(t, op, lit) is want, op
    assert prune.row_exact(t, "in", [lit, None]) is want
    assert prune.row_exact(t, "startswith", lit) is (want and col_lane == "str")
    assert prune.row_exact(t, "==", None) is True


def test_row_exact_rejects_the_rest():
    assert not prune.row_exact(pa.int64(), "like", 1)  # unknown op
    assert not prune.row_exact(pa.int64(), "in", [1, "1"])  # one bad member
    assert not prune.row_exact(pa.decimal128(10, 2), "==", Decimal("NaN"))
    assert not prune.row_exact(pa.float64(), "<", 10**400)  # beyond float64
    assert not prune.row_exact(pa.date32(), "==", datetime.datetime(2024, 1, 1))
    assert not prune.row_exact(pa.struct([("a", pa.int64())]), "==", 1)
    with pytest.raises(ValueError, match="not row-exact"):
        prune.row_mask(pa.table({"k": [1]}), [("k", "==", "1")])


# --- every read path and delete_rows on a NaN column -------------------------

NAN_X = [NAN, 1.0, 0.1, None, 2.0, NAN, -1.0, 0.6, -0.0]
# predicate -> (WHERE text for Spark SQL and DuckDB, SQL match count)
NAN_CASES = [
    (("x", ">", 0.5), "x > 0.5", 5),
    (("x", ">=", 0.5), "x >= 0.5", 5),
    (("x", "==", NAN), "x = CAST('NaN' AS DOUBLE)", 2),
    (("x", "!=", 0.5), "x != 0.5", 8),
    (("x", "==", 0.0), "x = 0.0", 1),
]


def test_nan_column_every_path_agrees(spark, tmp_path):
    """decode_table, aggregate_store, data-source SQL, a DuckDB table and
    delete_rows' rows_matched all give the SQL count: NaN equals NaN and
    sorts above every number, -0.0 equals 0.0, a null never matches."""
    from parzig_spark.operators import aggregate_store, decode_table, delete_rows, encode_table
    from parzig_spark.sources.datasource import register_datasource

    root = str(tmp_path / "nanstore")
    df = spark.createDataFrame(
        [(0, k, x) for k, x in enumerate(NAN_X)], "g int, k long, x double"
    )
    encode_table(df, root, group_cols=["g"], salt_cols=["k"], resume=False).count()
    register_datasource(spark)
    src = spark.read.format("parzig").load(root)
    table = pa.table({"x": pa.array(NAN_X, pa.float64())})
    for pred, where, want in NAN_CASES:
        assert len(_duck_rows(table, where)) == want, where
        assert decode_table(spark, root, predicates=[pred]).count() == want, pred
        got = aggregate_store(spark, root, [("count", "*")], predicates=[pred]).collect()[0][0]
        assert got == want, pred
        assert src.where(where).count() == want, where
    for pred, _where, want in NAN_CASES:
        assert delete_rows(spark, root, [pred])["rows_matched"] == want, pred
    # every non-null row matched some delete: only the null row is left
    assert [r["x"] for r in decode_table(spark, root).collect()] == [None]
