"""The predicate evaluators: ``(column, op, value)`` predicates against
stored statistics and against decoded rows, vectorized with Arrow/numpy.

Every read goes through here. ``decode_table``, ``aggregate_store``,
``check_store``, ``delete_rows`` and the ``parzig`` data source evaluate
the snapshot's per-(pid, column) stat rows on the driver; inside a
partition ``decode_pid_rows`` evaluates a PAGED column's per-page entries
to choose the sections it reads, then :func:`row_mask` over the decoded
predicate columns to keep exactly the matching rows. The stats side is
the decode-side analog of Parquet Statistics / ColumnIndex / BloomFilter
skipping, which the reference parses but never consults
(/root/reference/src/generated/parquet.zig:55-76,312-325).

For every stat row the stats evaluator answers two questions:

- **may** — can any row satisfy the predicate? False only when the stats
  PROVE none can; the pid (or page) is then excluded.
- **covers** — does every non-null row provably satisfy it? With
  ``stat_nulls == 0`` on every predicate column the pid is fully covered,
  so aggregates and audits can answer it from metadata.

Three stats feed both answers: the exact distinct set (``stat_distinct``,
membership is exact both ways), the min/max envelope (exact on the int,
float and date lanes; truncated-but-sound on strings — stat_min ≤ true min,
stat_max ≥ true max) and, for equality only, the bloom (exclusion only).

The row evaluator has Spark/DuckDB SQL semantics: NaN equals NaN and
sorts above every number, ``-0.0 == 0.0``, and a null value or a null
literal never matches. Its guard :func:`row_exact` decides from the
decoded Arrow type, so callers reject a predicate at plan time.

One literal table (``_domain``) serves both evaluators: int × int
compares exactly (stats as decimal128(38,0); out-of-range literals clamp,
so keys above 2^53 never collapse), int/float × float and float × int as
float64 (Spark's promotion), str × str in UTF-8 byte order, date, bool
and decimal against same-type literals, datetime × timestamp only when
both or neither carry a tz. Every other pair is not row-exact. Stats are
compared on the int, float, str and date lanes only; Arrow's min/max
skip NaN, so on the float lane a NaN literal never prunes, ``>``, ``>=``
and ``!=`` never exclude and nothing is ever covered. Missing stats,
unparseable stats and lane mismatches keep the row: never wrong, only
slower.
"""

from __future__ import annotations

import datetime
import decimal
import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj
import pyarrow.parquet as pq

from ..codecs import dtypes
from ..codecs.stats import _bloom_probes, bloom_key, increment_string

EXCLUDED, PARTIAL, COVERED = 0, 1, 2

# snapshot columns the evaluator reads (n_values / stat_sum ride along for
# aggregate eligibility; the evaluator itself never needs them)
STAT_COLS = [
    "pid", "column", "stat_min", "stat_max", "stat_bloom", "stat_bloom_dom",
    "stat_distinct", "stat_nulls", "n_values", "stat_sum",
]

OPS = ("==", "=", "!=", "<", "<=", ">", ">=", "in", "startswith", "like_prefix")
_PREFIX = ("startswith", "like_prefix")

_SET_SCHEMA = pa.schema([("d", pa.string()), ("v", pa.list_(pa.string()))])
_DEC = pa.decimal128(38, 0)


def lane(meta: dict) -> str:
    """Comparison lane of a column's stats from its manifest meta (only the
    "int", "float", "str" and "date" lanes carry comparable stats)."""
    if meta.get("codec") == "paged":
        return lane(meta["pages"][0]["meta"])
    if meta.get("codec") in ("list", "map", "struct", "decimal") or meta.get("fixed"):
        return "other"
    if meta.get("halffloat"):
        return "float"
    token = meta.get("codec_meta", {}).get("dtype")
    return _type_lane(dtypes.arrow_type(token)) if token else "other"


def lanes(table: pa.Table | None) -> dict[str, str]:
    """Lane per column from manifest rows (first row per column). Reads
    ``meta_json`` when the table carries it; otherwise falls back to the
    bloom/set domain tags ("i64" → int, "str" → str) and "other"."""
    out: dict[str, str] = {}
    if table is None:
        return out
    first: dict[str, int] = {}
    for i, c in enumerate(table.column("column").to_pylist()):
        first.setdefault(c, i)
    names = [c for c in ("column", "meta_json", "stat_bloom_dom", "stat_distinct")
             if c in table.column_names]
    for r in table.select(names).take(list(first.values())).to_pylist():
        if r.get("meta_json"):
            out[r["column"]] = lane(json.loads(r["meta_json"]))
            continue
        tag = r.get("stat_bloom_dom")
        if tag is None and r.get("stat_distinct"):
            tag = json.loads(r["stat_distinct"])["d"]
        out[r["column"]] = {"i64": "int", "str": "str"}.get(tag, "other")
    return out


def plan(snap: str, predicates, col_lanes: dict[str, str]):
    """(stats, pids, state) for a snapshot: its stat rows (STAT_COLS; the
    blooms only under an equality predicate), every pid, and each pid's
    :func:`classify` verdict under ``col_lanes`` (the caller's schema)."""
    predicates = predicates or []
    equality = any(op in ("==", "=", "in") for _c, op, _v in predicates)
    stats = pq.read_table(
        snap,
        columns=[c for c in STAT_COLS if equality or c not in ("stat_bloom", "stat_bloom_dom")],
    )
    pids, state = classify(stats, predicates, col_lanes)
    return stats, pids, state


def classify(stats: pa.Table, predicates, col_lanes: dict[str, str]):
    """(pids, state): every pid in ``stats`` (sorted) and its verdict under
    the conjunction of ``predicates`` — EXCLUDED when some predicate's stats
    prove no row matches, COVERED when every predicate column proves every
    row matches (its stats cover and it holds no nulls), else PARTIAL. A
    predicate on a column a pid has no stat row for leaves it PARTIAL."""
    pid = stats.column("pid").to_numpy()
    pids, inv = np.unique(pid, return_inverse=True)
    excluded = np.zeros(len(pids), bool)
    covered = np.ones(len(pids), bool)
    column = stats.column("column")
    for col, op, val in predicates:
        idx = np.flatnonzero(_mask(pc.equal(column, col)))
        sub = stats.take(idx)
        may, covers = verdicts(
            op, val, col_lanes.get(col, "other"),
            sub.column("stat_min"), sub.column("stat_max"),
            *(_opt(sub, c) for c in ("stat_bloom", "stat_bloom_dom", "stat_distinct")),
        )
        nulls = _opt(sub, "stat_nulls")
        if nulls is None:
            covers[:] = False
        else:
            covers &= _mask(pc.equal(nulls, 0))
        excluded[inv[idx[~may]]] = True
        hit = np.zeros(len(pids), bool)
        hit[inv[idx[covers]]] = True
        covered &= hit
    state = np.where(excluded, EXCLUDED, np.where(covered, COVERED, PARTIAL))
    return pids, state


def survivors(stats: pa.Table, predicates, col_lanes: dict[str, str]) -> list[int]:
    """Sorted pids the predicates cannot exclude."""
    pids, state = classify(stats, predicates, col_lanes)
    return pids[state != EXCLUDED].tolist()


def page_survivors(metas: dict[str, dict], predicates):
    """(surviving page indexes, a paged meta they index) for a partition's
    column metas — pages whose entries cannot rule out every predicate on a
    PAGED column. (None, None) when no predicate column is paged."""
    keep, ref = None, None
    for col, op, val in predicates:
        m = metas.get(col)
        if not m or m.get("codec") != "paged":
            continue
        ref, pages = m, m["pages"]
        may, _ = verdicts(
            op, val, lane(m),
            [p["min"] for p in pages], [p["max"] for p in pages],
            [p.get("bloom") for p in pages], [m.get("bloom_domain")] * len(pages),
        )
        keep = may if keep is None else keep & may
    if keep is None:
        return None, None
    return np.flatnonzero(keep).tolist(), ref


def verdicts(op, val, col_lane, smin, smax, bloom=None, bloom_dom=None, distinct=None):
    """(may, covers) bool arrays, one entry per stat row, for one predicate
    ``op val`` on a column of lane ``col_lane``. Inputs are parallel string
    arrays (Arrow or lists); None for a stat the caller does not have."""
    if op not in OPS:
        raise ValueError(f"unsupported predicate op: {op}")
    smin, smax = _strings(smin), _strings(smax)
    if op in ("==", "="):
        op, val = "in", (val,)
    excl, covers = _envelope(op, val, col_lane, smin, smax)
    sets = _Sets(_strings(distinct)) if distinct is not None else None
    if sets is not None:
        dx, dc = sets.verdicts(op, val)
        excl |= dx
        covers |= dc
    if op == "in" and bloom is not None and bloom_dom is not None:
        active = ~excl if sets is None else ~excl & ~sets.have  # a set beats its bloom
        if active.any():
            excl |= _bloom_absent(list(val), _strings(bloom), _strings(bloom_dom), active)
    return ~excl, covers


def set_values(distinct) -> pa.ListArray:
    """Each exact distinct set as a list of its canonical strings, sorted;
    null where none is recorded."""
    sets = _Sets(_strings(distinct))
    offsets = np.concatenate([[0], np.cumsum(sets.size)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), sets.flat, mask=pa.array(~sets.have))


def row_exact(arrow_type: pa.DataType, op: str, val) -> bool:
    """Whether ``op val`` evaluates exactly, with SQL semantics, on a column
    decoded as ``arrow_type`` — the guard of :func:`row_mask`, decided at
    plan time. A null literal or IN member is exact: it never matches."""
    if op not in OPS:
        return False
    col_lane = _type_lane(arrow_type)
    if op in _PREFIX:
        return col_lane == "str" and isinstance(val, str)
    members = list(val) if op == "in" else [val]
    return all(v is None or _domain(col_lane, v) is not None for v in members)


def check_rows(col_types: dict[str, pa.DataType], predicates) -> None:
    """Raise ValueError for a predicate on a column missing from
    ``col_types`` (column -> decoded Arrow type) or one :func:`row_exact`
    rejects — every read checks this on the driver, before any Spark job."""
    for col, op, val in predicates or []:
        if col not in col_types:
            raise ValueError(f"unknown column {col!r} in predicate {(col, op, val)!r}")
        if not row_exact(col_types[col], op, val):
            raise ValueError(
                f"predicate {(col, op, val)!r} is not row-exact on a {col_types[col]} column"
            )


def row_mask(table: pa.Table, predicates) -> np.ndarray:
    """Bool mask of the ``table`` rows matching the conjunction of
    ``predicates``, each of which must be :func:`row_exact`."""
    check_rows({f.name: f.type for f in table.schema}, predicates)
    keep = np.ones(table.num_rows, bool)
    for col, op, val in predicates or []:
        arr = table.column(col).combine_chunks()
        if op in _PREFIX:
            keep &= _mask(pc.starts_with(arr, pattern=val))
        elif op in ("==", "=", "in"):
            hit = np.zeros(len(arr), bool)
            for v in val if op == "in" else (val,):
                if v is not None:
                    hit |= _mask(_three_way(arr, v)[0])
            keep &= hit
        elif val is None:
            keep[:] = False
        else:
            eq, lt, gt = _three_way(arr, val)
            if op == "!=":
                m = pc.invert(eq)
            elif op in ("<", "<="):
                m = lt if op == "<" else pc.or_(lt, eq)
            else:
                m = gt if op == ">" else pc.or_(gt, eq)
            keep &= _mask(m)
    return keep


def _type_lane(t: pa.DataType) -> str:
    """Lane of an Arrow type in the literal table."""
    for test, name in (
        (pa.types.is_boolean, "bool"), (pa.types.is_integer, "int"),
        (pa.types.is_floating, "float"), (pa.types.is_string, "str"),
        (pa.types.is_large_string, "str"), (pa.types.is_date, "date"),
        (pa.types.is_decimal, "decimal"),
    ):
        if test(t):
            return name
    if pa.types.is_timestamp(t):
        return "tstz" if t.tz else "ts"
    return "other"


def _three_way(arr: pa.Array, val):
    """(eq, lt, gt) of every value against the literal in their ``_domain``,
    in SQL order: NaN equals NaN and sorts above every number. Null values
    give null (never a match)."""
    dom = _domain(_type_lane(arr.type), val)
    if dom == "float":
        x, v = arr.cast(pa.float64(), safe=False), float(val)
        nan = pc.is_nan(x)
        if v != v:
            return nan, pc.invert(nan), pc.and_(nan, False)
        return pc.equal(x, v), pc.less(x, v), pc.or_(pc.greater(x, v), nan)
    if dom == "int":
        info = np.iinfo(arr.type.to_pandas_dtype())
        if not info.min <= val <= info.max:  # clamp: beyond every stored value
            none, every = pc.not_equal(arr, arr), pc.equal(arr, arr)  # null stays null
            return (none, every, none) if val > info.max else (none, none, every)
        v = pa.scalar(val, arr.type)
    elif dom == "ts":
        v = pa.scalar(val).cast(arr.type)
    elif dom == "decimal":
        v = pa.scalar(val)
    else:
        v = pa.scalar(val, arr.type)
    return pc.equal(arr, v), pc.less(arr, v), pc.greater(arr, v)


def _strings(a) -> pa.Array:
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    return a if isinstance(a, pa.Array) else pa.array(a, pa.string())


def _opt(t: pa.Table, name: str):
    return t.column(name) if name in t.column_names else None


def _domain(col_lane: str, val) -> str | None:
    """The literal table: the domain in which a column of ``col_lane``
    compares exactly with ``val`` ("int", "float", "str", "date", "bool",
    "decimal" or "ts"), or None when no exact comparison exists."""
    if isinstance(val, bool):
        return "bool" if col_lane == "bool" else None
    if isinstance(val, int):
        if col_lane == "float":
            try:
                float(val)
            except OverflowError:
                return None
        return col_lane if col_lane in ("int", "float") else None
    if isinstance(val, float):
        return "float" if col_lane in ("int", "float") else None
    if isinstance(val, str):
        return "str" if col_lane == "str" else None
    if isinstance(val, datetime.datetime):
        aware = val.utcoffset() is not None
        return "ts" if col_lane == ("tstz" if aware else "ts") else None
    if isinstance(val, datetime.date):
        return "date" if col_lane == "date" else None
    if isinstance(val, decimal.Decimal):
        return "decimal" if col_lane == "decimal" and val.is_finite() else None
    return None


def _literal(val, col_lane):
    """(cast target, scalar) for comparing ``val`` against stats of
    ``col_lane``, or None when the literal table forbids the comparison."""
    dom = _domain(col_lane, val)
    if dom == "int":
        # stats are exact decimal integers (uint64 included); literals
        # past 38 digits clamp — still beyond every stored value
        return _DEC, pa.scalar(decimal.Decimal(max(-(10**37), min(10**37, val))), _DEC)
    if dom == "float" and float(val) == float(val):
        return pa.float64(), pa.scalar(float(val))
    if dom == "str":
        return pa.string(), pa.scalar(val)
    if dom == "date":
        return pa.string(), pa.scalar(val.isoformat())
    return None


def _mask(a) -> np.ndarray:
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    return np.array(pc.fill_null(a, False).to_numpy(zero_copy_only=False), bool)


def _envelope(op, val, col_lane, smin, smax):
    """(excl, covers) from the [stat_min, stat_max] envelope."""
    n = len(smin)
    if op == "in":
        vals = list(val)
        excl, covers = np.ones(n, bool), np.zeros(n, bool)
        for v in vals:
            e, c = _envelope("==", v, col_lane, smin, smax)
            excl &= e
            covers |= c
        if col_lane == "str" and not all(isinstance(v, str) for v in vals):
            covers[:] = False
        return excl, covers
    no = np.zeros(n, bool)
    lit = _literal(val, col_lane)
    if lit is None or (op in _PREFIX and col_lane != "str"):
        return no, no.copy()
    target, v = lit
    try:
        lo, hi = smin.cast(target), smax.cast(target)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return no, no.copy()  # unparseable stats: keep
    if op == ">=":
        excl, covers = pc.less(hi, v), pc.greater_equal(lo, v)
    elif op == ">":
        excl, covers = pc.less_equal(hi, v), pc.greater(lo, v)
    elif op == "<=":
        excl, covers = pc.greater(lo, v), pc.less_equal(hi, v)
    elif op == "<":
        excl, covers = pc.greater_equal(lo, v), pc.less(hi, v)
    elif op == "==":
        excl = pc.or_(pc.less(hi, v), pc.greater(lo, v))
        # the pin is sound on truncated strings too: a 16-char prefix can
        # equal v only if the true min starts with v, and an incremented
        # upper bound can never equal it as well
        covers = pc.and_(pc.equal(lo, v), pc.equal(hi, v))
    elif op == "!=":
        excl = pc.and_(pc.equal(lo, v), pc.equal(hi, v))
        covers = pc.or_(pc.less(hi, v), pc.greater(lo, v))
    else:  # prefix: matches live in [p, increment(p))
        upper = increment_string(v.as_py())
        excl = pc.less(hi, v)
        covers = pa.array(no)
        if upper is not None:
            excl = pc.or_(excl, pc.greater_equal(lo, upper))
            covers = pc.and_(pc.greater_equal(lo, v), pc.less(hi, upper))
    excl, covers = _mask(excl), _mask(covers)
    if col_lane == "float":
        # NaN (skipped by the stats) satisfies >, >= and != in Spark
        if op in (">", ">=", "!="):
            excl = no
        covers = no.copy()
    return excl, covers


def _canon(val) -> tuple[str, str] | None:
    """(set domain, canonical string) for a literal, or None when it cannot
    be matched against a stored set without a lossy coercion (bool,
    non-integral float, float beyond exact-int range, other types)."""
    if isinstance(val, bool):
        return None
    if isinstance(val, str):
        return "str", val
    if isinstance(val, int):
        return "i64", str(val)
    if isinstance(val, float) and val.is_integer() and abs(val) <= 2**53:
        return "i64", str(int(val))
    return None


class _Sets:
    """The exact distinct sets (codecs.stats.column_distinct JSON) of a run
    of stat rows, parsed once with pyarrow.json and flattened: per-row
    any/all reductions over element masks evaluate every set at once."""

    def __init__(self, distinct: pa.Array):
        n = len(distinct)
        self.have = np.zeros(n, bool)
        self.dom = np.full(n, None, object)
        self.size = np.zeros(n, np.int64)
        self.flat = pa.array([], pa.string())
        self.parent = np.zeros(0, np.int64)
        self.empty = np.zeros(n, bool)
        valid = distinct.is_valid().to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(valid)
        if not len(rows):
            return
        text = "\n".join(distinct.filter(pa.array(valid)).to_pylist()).encode()
        try:
            t = pj.read_json(
                pa.BufferReader(text),
                parse_options=pj.ParseOptions(explicit_schema=_SET_SCHEMA),
            )
        except pa.ArrowInvalid:
            return  # malformed sets: unknown, keep everything
        v = t.column("v").combine_chunks()
        self.have[rows] = True
        self.dom[rows] = t.column("d").to_numpy(zero_copy_only=False)
        self.size[rows] = pc.fill_null(pc.list_value_length(v), 0).to_numpy()
        self.flat = pc.list_flatten(v)
        self.parent = rows[pc.list_parent_indices(v).to_numpy()]
        self.empty = self.have & (self.size == 0)

    def _count(self, m) -> np.ndarray:
        return np.bincount(self.parent[_mask(m)], minlength=len(self.have))

    def any(self, m) -> np.ndarray:
        return self._count(m) > 0

    def all(self, m) -> np.ndarray:
        return self.have & (self._count(m) == self.size)

    def verdicts(self, op, val):
        """(excl, covers): an empty set (all-null partition) satisfies no
        comparison at all, whatever the literal."""
        excl, covers = self.empty.copy(), np.zeros(len(self.have), bool)
        if op == "in":
            canons = [_canon(v) for v in val]
            doms = {c[0] for c in canons if c is not None}
            if canons and None not in canons and len(doms) == 1:
                member = pc.is_in(self.flat, value_set=pa.array([c[1] for c in canons]))
                excl |= (self.dom == doms.pop()) & ~self.any(member)
            covers |= self.empty
            for dom in ("str", "i64"):
                vs = [c[1] for c in canons if c is not None and c[0] == dom]
                if vs:
                    member = pc.is_in(self.flat, value_set=pa.array(vs))
                    covers |= (self.dom == dom) & self.all(member)
        elif op == "!=":
            ck = _canon(val)
            if ck is not None:
                in_dom = self.dom == ck[0]
                present = self.any(pc.equal(self.flat, ck[1]))
                excl |= in_dom & (self.size == 1) & present
                covers = in_dom & ~present
        elif isinstance(val, str):
            # prefix and string ranges: set values are exact (the 16-char
            # envelope is not), so "no element satisfies" is sound at any
            # string length
            if op in _PREFIX:
                m = pc.starts_with(self.flat, pattern=val)
            else:
                m = {"<": pc.less, "<=": pc.less_equal, ">": pc.greater,
                     ">=": pc.greater_equal}[op](self.flat, val)
            in_dom = self.dom == "str"
            excl |= in_dom & ~self.any(m)
            covers = in_dom & self.all(m)
        return excl, covers


def _bloom_absent(vals, blooms: pa.Array, doms: pa.Array, active: np.ndarray) -> np.ndarray:
    """True where the ``active`` row's bloom proves EVERY value absent.
    Bitmaps are base64-decoded once and stacked per size class, so all
    probe bits of a class test with a few numpy gathers."""
    import base64

    n = len(blooms)
    b_np = blooms.to_numpy(zero_copy_only=False)
    d_np = doms.to_numpy(zero_copy_only=False)
    rows = [i for i in np.flatnonzero(active) if b_np[i] is not None and d_np[i] is not None]
    out = np.zeros(n, bool)
    if not rows or not vals:
        return out
    raw = [base64.b64decode(b_np[i]) for i in rows]
    sizes = np.array([len(r) for r in raw], np.int64)
    dom = np.array([d_np[i] for i in rows], object)
    absent = np.ones(len(rows), bool)
    for val in vals:
        may = np.ones(len(rows), bool)  # unknown domains / unprobeable: keep
        for d in ("i64", "str"):
            key = bloom_key(d, val)
            sel = dom == d
            if key is None or not sel.any():
                continue
            for nbytes in np.unique(sizes[sel]):
                grp = np.flatnonzero(sel & (sizes == nbytes))
                mat = np.frombuffer(b"".join(raw[g] for g in grp), np.uint8).reshape(
                    len(grp), int(nbytes)
                )
                hit = np.ones(len(grp), bool)
                for pos in _bloom_probes(np.array([key], np.uint64), int(nbytes) * 8):
                    p = int(pos[0])
                    hit &= ((mat[:, p >> 3] >> (7 - (p & 7))) & 1).astype(bool)
                may[grp] = hit
        absent &= ~may
    out[np.array(rows)] = absent
    return out
