"""The pruning evaluator (plans/prune.py): one columnar implementation of
predicate-vs-stats logic shared by decode_table, aggregate_store,
check_store, delete_rows, the data source and page skipping.
"""

import json
import time
import warnings

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parzig_spark.codecs.stats import bloom_build, bloom_may_contain
from parzig_spark.operators import aggregate_store, decode_table, encode_table
from parzig_spark.plans import prune
from parzig_spark.sources.datasource import register_datasource


def _stat_table(rows: dict) -> pa.Table:
    return pa.table({k: pa.array(v, pa.int64() if k == "pid" else pa.string())
                     for k, v in rows.items()})


def test_planner_exact_at_50k_partitions():
    """Driver-side planning is columnar: at 50k partitions × 3 stat columns
    every predicate plans in under a second, with no warnings, and the
    survivors are exactly the partitions the generator's known ranges,
    sets and blooms allow."""
    rng = np.random.default_rng(7)
    n = 50_000
    rows = {"pid": [], "column": [], "stat_min": [], "stat_max": [],
            "stat_bloom": [], "stat_bloom_dom": [], "stat_distinct": []}

    def add(pid, col, lo, hi, bloom=None, dom=None, distinct=None):
        for k, v in zip(rows, (pid, col, lo, hi, bloom, dom, distinct)):
            rows[k].append(v)

    langs = ["de", "en", "es", "fr", "zh"]
    lo = rng.integers(0, 10_000_000, n)
    width = rng.integers(1, 5_000, n)
    subsets, blooms = [], []
    for i in range(n):
        # int column: disjoint-ish ranges
        add(i, "k", str(int(lo[i])), str(int(lo[i] + width[i])))
        # string column with exact sets (some all-null partitions)
        subset = sorted(rng.choice(langs, size=int(rng.integers(0, 3)), replace=False))
        subsets.append(set(subset))
        add(i, "lang", subset[0] if subset else None, subset[-1] if subset else None,
            distinct=json.dumps({"d": "str", "v": subset}, separators=(",", ":")))
        # bloomed column, no set (high-cardinality commit-hash shape)
        vals = pa.array([f"c{int(x):07d}" for x in rng.integers(0, 50_000, 8)])
        blooms.append(bloom_build(vals, "str"))
        add(i, "commit", "c", "d", blooms[-1], "str")
    t = _stat_table(rows)
    col_lanes = {"k": "int", "lang": "str", "commit": "str"}

    truth = {
        ("k", "<=", 500_000): lambda i: lo[i] <= 500_000,
        ("lang", "==", "zh"): lambda i: "zh" in subsets[i],
        ("lang", "in", ("de", "fr")): lambda i: bool(subsets[i] & {"de", "fr"}),
        ("lang", "startswith", "e"): lambda i: any(v.startswith("e") for v in subsets[i]),
        ("commit", "==", "c0001234"): lambda i: bloom_may_contain(blooms[i], "str", "c0001234"),
        ("k", ">", 9_900_000): lambda i: lo[i] + width[i] > 9_900_000,
        ("k", "!=", 3): lambda i: True,
    }
    for pred, holds in truth.items():
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            t0 = time.perf_counter()
            got = prune.survivors(t, [pred], col_lanes)
            dt = time.perf_counter() - t0
        assert dt < 1.0, f"{pred}: planned in {dt:.2f}s (budget 1s)"
        exp = [i for i in range(n) if holds(i)]
        assert got == exp, f"{pred}: {len(got)} vs truth {len(exp)}"


def test_string_range_over_sets_is_size_independent():
    """String ranges evaluate the exact distinct sets at any size: the
    same range prunes the same pids whether the store has 600 or 6,000
    set rows (envelopes span a..z, so only the sets can prune)."""
    rng = np.random.default_rng(3)
    n = 6_000
    sets = [sorted(rng.choice(["ant", "bee", "cat", "dog"], size=2, replace=False))
            for _ in range(n)]
    rows = {
        "pid": list(range(n)), "column": ["s"] * n,
        "stat_min": ["a"] * n, "stat_max": ["z"] * n,
        "stat_distinct": [json.dumps({"d": "str", "v": v}, separators=(",", ":"))
                          for v in sets],
    }
    big = _stat_table(rows)
    small = big.slice(0, 600)
    for pred in [("s", "<", "bee"), ("s", ">=", "cat"), ("s", ">", "dog"), ("s", "<=", "ant")]:
        got_big = prune.survivors(big, [pred], {"s": "str"})
        got_small = prune.survivors(small, [pred], {"s": "str"})
        assert [p for p in got_big if p < 600] == got_small, pred
        assert len(got_big) < n, pred  # the sets really prune


def test_literal_guard_and_nan_lane():
    """One guard for every caller: only exact comparisons prune; on the
    float lane NaN (skipped by the stats, greater than everything in
    Spark) keeps >, >= and != from excluding and nothing is covered."""
    def verdict(op, val, lane, lo, hi):
        may, covers = prune.verdicts(op, val, lane, [lo], [hi])
        return bool(may[0]), bool(covers[0])

    big = 2**53
    assert verdict(">", big, "int", str(big - 2), str(big + 1)) == (True, False)
    assert verdict(">", big, "int", str(big + 1), str(big + 1)) == (True, True)
    assert verdict(">", big, "int", str(big - 2), str(big)) == (False, False)
    assert verdict("==", True, "int", "0", "1") == (True, False)
    assert verdict(">", "5", "int", "0", "1") == (True, False)  # str vs int lane
    assert verdict(">", 5.0, "float", "1.0", "3.0") == (True, False)
    assert verdict("<", 0.5, "float", "1.0", "3.0") == (False, False)
    with pytest.raises(ValueError):
        prune.verdicts("~", 1, "int", ["0"], ["1"])


@pytest.mark.parametrize("paged", [False, True])
def test_int_keys_above_2_53_compare_exactly(spark, tmp_path, paged):
    """Integer stats compare exactly: a float64 detour collapses 2^53+1
    onto 2^53 and `k > 2^53` silently lost its row at partition level
    (unpaged) and page level (PAGED) on all three query paths."""
    big = 2**53
    keys = [big - 2, big - 1, big, big + 1] + ([2**60] if paged else [])
    df = spark.createDataFrame([(0, k) for k in keys], "grp int, k long")
    root = str(tmp_path / f"big_keys_{int(paged)}")
    layout = dict(sort_cols=["k"], page_values=2) if paged else {}
    encode_table(df, root, group_cols=["grp"], salt_cols=["k"], resume=False,
                 **layout).count()
    want = [k for k in keys if k > big]
    pred = [("k", ">", big)]

    dec = decode_table(spark, root, predicates=pred).filter(F.col("k") > big)
    assert sorted(r["k"] for r in dec.collect()) == want
    register_datasource(spark)
    sql = spark.read.format("parzig").load(root).where(f"k > {big}")
    assert sorted(r["k"] for r in sql.collect()) == want
    agg = aggregate_store(spark, root, [("count", "*")], predicates=pred)
    assert agg.collect()[0]["count_star"] == len(want)


def test_nan_rows_survive_range_pruning(spark, tmp_path):
    """Float min/max skip NaN, but Spark's NaN satisfies `x > v`: the
    partition holding it must not be pruned."""
    df = spark.createDataFrame(
        [(0, i, float("nan") if i == 1 else float(i)) for i in range(4)],
        "grp int, k long, x double",
    )
    root = str(tmp_path / "nan_store")
    encode_table(df, root, group_cols=["grp"], salt_cols=["k"], resume=False).count()
    dec = decode_table(spark, root, predicates=[("x", ">", 5.0)])
    assert dec.filter(F.col("x") > 5.0).count() == 1
