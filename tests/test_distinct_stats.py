"""Capped exact distinct-value sets (manifest v7, codecs/stats.py
column_distinct): exact equality/IN/prefix partition pruning with no bloom
false positives, IN-list full-coverage proofs, and metadata-only
COUNT(DISTINCT) in aggregate_store — the exact counterpart of Iceberg's
approximate NDV partition stats.
"""

import json

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parzig_spark.codecs.stats import DISTINCT_CAP, column_distinct
from parzig_spark.operators import (
    aggregate_store,
    delete_rows,
    encode_table,
)
from parzig_spark.operators.decode import decode_table, prune_manifests
from parzig_spark.plans.manifest import ManifestStore


# --- unit: column_distinct ---------------------------------------------------


def test_column_distinct_domains_and_caps():
    assert json.loads(column_distinct(pa.array(["b", "a", "a"]))) == {
        "d": "str",
        "v": ["a", "b"],
    }
    assert json.loads(column_distinct(pa.array([3, 1, None, 3]))) == {
        "d": "i64",
        "v": ["1", "3"],
    }
    # all-null / empty partitions record the EXACT empty set (min/max are
    # null there — this is the only stat that can prune them)
    assert json.loads(column_distinct(pa.array([None, None], pa.int64())))["v"] == []
    assert json.loads(column_distinct(pa.array([], pa.string())))["v"] == []
    # over-cap, long strings, and ineligible types record nothing
    assert column_distinct(pa.array(list(range(DISTINCT_CAP + 1)))) is None
    assert column_distinct(pa.array(["x" * 65, "y"])) is None
    assert column_distinct(pa.array([1.5, 2.5])) is None
    assert column_distinct(pa.array([True, False])) is None
    # uint64 above int64 range still canonicalizes exactly
    big = 2**63 + 7
    assert json.loads(column_distinct(pa.array([big], pa.uint64())))["v"] == [str(big)]


# --- pruning -----------------------------------------------------------------


def _cat_source(spark):
    """200 groups; cat cycles a 10-value vocabulary so every partition's
    min/max envelope spans the whole domain (range stats prune nothing on
    equality), but each PARTITION holds only 2 of the 10 values — the
    distinct set is what prunes. tag is an int twin of the same shape."""
    return spark.range(0, 20_000).select(
        (F.col("id") % 20).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), ((F.col("id") % 20) % 10).cast("string")).alias("cat"),
        ((F.col("id") % 20) % 10).alias("tag"),
        F.when(F.col("id") % 20 >= 18, None).otherwise(
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
        ).alias("mostly_null"),
    )


def _encode(spark, df, tmp_path, name):
    root = str(tmp_path / name)
    encode_table(
        df, root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=256 << 10, resume=False,
    ).count()
    return root


def _manifests(spark, root):
    snap = ManifestStore(root).fresh_snapshot()
    return spark.read.parquet(snap).select(
        "pid", "column", "stat_min", "stat_max",
        "stat_bloom", "stat_bloom_dom", "stat_distinct",
    )


def _pids_holding(spark, root, cond):
    """Ground truth: the number of physical partitions that actually hold
    a row satisfying ``cond`` — exact pruning must match this, never more
    (bloom-style over-read) and never less (row loss)."""
    dec = decode_table(spark, root, include_pid_pos=True)
    return dec.filter(cond).select("_pid").distinct().count()


def test_prune_equality_exact(spark, tmp_path):
    """Point lookup on a low-cardinality string column: EXACTLY the
    partitions holding the value survive (the bloom can over-read; the
    distinct set cannot)."""
    df = _cat_source(spark)
    root = _encode(spark, df, tmp_path, "cat")
    m = _manifests(spark, root)
    total = m.select("pid").distinct().count()

    def surv(preds):
        return prune_manifests(m, preds).select("pid").distinct().count()

    truth_cat7 = _pids_holding(spark, root, F.col("cat") == "cat7")
    assert 0 < truth_cat7 < total
    assert surv([("cat", "==", "cat7")]) == truth_cat7
    # int twin through the same path
    assert surv([("tag", "==", 7)]) == _pids_holding(spark, root, F.col("tag") == 7)
    # IN-list: union of members' partitions, exactly
    assert surv([("cat", "in", ("cat7", "cat3"))]) == _pids_holding(
        spark, root, F.col("cat").isin("cat7", "cat3")
    )
    # a value outside the domain prunes everything
    assert surv([("cat", "==", "nope")]) == 0


def test_prune_equality_all_null_partitions(spark, tmp_path):
    """Partitions whose column is ALL NULL have null min/max and no bloom;
    the empty distinct set is the only stat that can prove them
    predicate-free. An entirely-null column prunes to zero partitions for
    both equality and ``!=`` (NULL satisfies neither)."""
    df = spark.range(0, 4_000).select(
        (F.col("id") % 4).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("mostly_null"),
    )
    root = _encode(spark, df, tmp_path, "nulls")
    m = _manifests(spark, root)
    assert m.select("pid").distinct().count() > 0
    assert (
        prune_manifests(m, [("mostly_null", "==", "s1")])
        .select("pid").distinct().count() == 0
    )
    assert (
        prune_manifests(m, [("mostly_null", "!=", "zzz")])
        .select("pid").distinct().count() == 0
    )


def test_prune_prefix_exact_beyond_truncation(spark, tmp_path):
    """LIKE-prefix pruning via the distinct set is exact past the 16-char
    truncated min/max bounds (values up to 64 chars are stored verbatim)."""
    rows = [("long_common_prefix_aaaa_%d" % (i % 2), i, i % 4) for i in range(4000)]
    df = spark.createDataFrame(rows, "val string, k long, grp int")
    root = _encode(spark, df, tmp_path, "prefix")
    m = _manifests(spark, root)
    # every partition shares the first 16 chars; a deeper prefix that
    # matches nothing must still prune everything
    surv = (
        prune_manifests(m, [("val", "startswith", "long_common_prefix_zz")])
        .select("pid").distinct().count()
    )
    assert surv == 0
    keep = (
        prune_manifests(m, [("val", "startswith", "long_common_prefix_aaaa_1")])
        .select("pid").distinct().count()
    )
    assert keep == m.select("pid").distinct().count()


def test_prune_conservative_on_type_mismatch(spark, tmp_path):
    """Cross-domain predicates must not use the set: Spark coerces
    ``string_col == 7`` by casting the strings, so "07" MATCHES the int 7
    — pruning by canonical membership ("07" != "7") would lose that row.
    The domain tag refuses the comparison and the partition survives."""
    rows = [("07" if i % 4 == 0 else "x%d" % (i % 3), i, i % 4) for i in range(4_000)]
    df = spark.createDataFrame(rows, "s string, k long, grp int")
    root = _encode(spark, df, tmp_path, "mismatch")
    m = _manifests(spark, root)
    surv = prune_manifests(m, [("s", "==", 7)]).select("pid").distinct()
    holders = (
        decode_table(spark, root, include_pid_pos=True)
        .filter(F.col("s") == "07").select(F.col("_pid").alias("pid")).distinct()
    )
    # every partition holding a potential coercion-match ("07" casts to 7)
    # must survive — canonical membership ("07" not in {"7"}) must NOT fire
    assert holders.join(surv, "pid", "left_anti").count() == 0
    assert holders.count() > 0


# --- aggregate inclusion (fully-covered via the set) --------------------------


def test_aggregate_in_list_fully_covered(spark, tmp_path):
    """An IN-list over a low-cardinality string column: partitions whose
    whole vocabulary sits inside the list are answered from metadata — a
    proof min/max can only give for single-valued partitions."""
    df = _cat_source(spark)
    root = _encode(spark, df, tmp_path, "incl")
    vocab = ["cat%d" % i for i in range(10)]
    out, plan = aggregate_store(
        spark, root, [("count", "*"), ("sum", "k")],
        predicates=[("cat", "in", tuple(vocab[:8]))], return_plan=True,
    )
    assert plan["pids_metadata"] > 0  # multi-valued partitions, covered
    truth = df.filter(F.col("cat").isin(vocab[:8])).agg(
        F.count(F.lit(1)).alias("count_star"), F.sum("k").alias("sum_k")
    ).collect()[0]
    got = out.collect()[0]
    assert got["count_star"] == truth["count_star"]
    assert got["sum_k"] == truth["sum_k"]


# --- COUNT(DISTINCT) pushdown -------------------------------------------------


def test_distinct_metadata_only(spark, tmp_path):
    """No predicates, low-cardinality columns: COUNT(DISTINCT) unions the
    per-partition sets — zero partitions decoded."""
    df = _cat_source(spark)
    root = _encode(spark, df, tmp_path, "dist")
    out, plan = aggregate_store(
        spark, root,
        [("distinct", "cat"), ("distinct", "tag"), ("count", "*")],
        return_plan=True,
    )
    assert plan["pids_decoded"] == 0
    r = out.collect()[0]
    assert r["distinct_cat"] == 10
    assert r["distinct_tag"] == 10
    assert r["count_star"] == 20_000
    assert list(out.columns) == ["distinct_cat", "distinct_tag", "count_star"]


def test_distinct_high_cardinality_falls_back(spark, tmp_path):
    """A column with no recorded sets (too many distincts) still answers
    correctly by decoding."""
    df = _cat_source(spark)
    root = _encode(spark, df, tmp_path, "dist_hc")
    out, plan = aggregate_store(
        spark, root, [("distinct", "k")], return_plan=True
    )
    assert plan["pids_decoded"] == plan["pids_total"]
    assert out.collect()[0]["distinct_k"] == 20_000


def test_distinct_hybrid_predicate(spark, tmp_path):
    """Predicate splits partitions: covered partitions contribute their
    sets, the straddled ones decode, and the union is row-exact."""
    df = spark.range(0, 20_000).select(
        (F.col("id") / 1000).cast("int").alias("grp"),  # k-correlated bands
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 7).cast("string")).alias("cat"),
        F.when(F.col("id") % 11 == 0, None).otherwise(
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
        ).alias("mostly_null"),
    )
    root = _encode(spark, df, tmp_path, "dist_pred")
    out, plan = aggregate_store(
        spark, root, [("distinct", "cat"), ("distinct", "mostly_null")],
        predicates=[("k", "<=", 9_499)], return_plan=True,
    )
    truth = df.filter(F.col("k") <= 9_499).agg(
        F.countDistinct("cat").alias("c"), F.countDistinct("mostly_null").alias("m")
    ).collect()[0]
    r = out.collect()[0]
    assert (r["distinct_cat"], r["distinct_mostly_null"]) == (truth["c"], truth["m"])
    assert plan["pids_pruned"] > 0


def test_distinct_with_deletes(spark, tmp_path):
    """Delete-touched partitions fall to the decode path; a value whose
    rows are all deleted vanishes from the count."""
    rows = [(i % 8, i, "only_in_grp7" if i % 8 == 7 else "common%d" % (i % 3))
            for i in range(8_000)]
    df = spark.createDataFrame(rows, "grp int, k long, cat string")
    root = _encode(spark, df, tmp_path, "dist_del")
    delete_rows(spark, root, [("grp", "==", 7)])
    out, plan = aggregate_store(spark, root, [("distinct", "cat")], return_plan=True)
    assert out.collect()[0]["distinct_cat"] == 3  # only_in_grp7 is gone
    assert plan["pids_decoded"] >= 1


def test_distinct_float_decode_only(spark, tmp_path):
    """Float columns never record sets; COUNT(DISTINCT) runs decode-only
    and matches Spark's own semantics on the raw rows."""
    df = spark.range(0, 4_000).select(
        (F.col("id") % 4).cast("int").alias("grp"),
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("double").alias("x"),
    )
    root = _encode(spark, df, tmp_path, "dist_float")
    out, plan = aggregate_store(spark, root, [("distinct", "x")], return_plan=True)
    assert plan["pids_metadata"] == 0
    assert out.collect()[0]["distinct_x"] == 5


def test_distinct_rejects_star():
    with pytest.raises(ValueError):
        aggregate_store(None, "/nonexistent", [("distinct", "*")])


# --- GROUP BY pushdown ---------------------------------------------------------


def _grp_truth(df, group_col, pred=None):
    d = df if pred is None else df.filter(pred)
    rows = d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("count_star"),
        F.sum("k").alias("sum_k"),
        F.countDistinct("cat").alias("distinct_cat"),
    ).collect()
    return sorted([r.asDict() for r in rows], key=lambda r: (r[group_col] is None, r[group_col]))


def _grp_got(out, group_col):
    return sorted(
        [r.asDict() for r in out.collect()],
        key=lambda r: (r[group_col] is None, r[group_col]),
    )


def test_groupby_partition_aligned(spark, tmp_path):
    """Store encoded with group_cols == the query's GROUP BY: pure
    partitions answer per-group from metadata (the Hive partition-column
    rollup), mixed ones decode, and every group row is exact."""
    df = spark.range(0, 20_000).select(
        F.concat(F.lit("g"), (F.col("id") % 6).cast("string")).alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 9).cast("string")).alias("cat"),
    )
    root = str(tmp_path / "grp_aligned")
    encode_table(
        df, root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    out, plan = aggregate_store(
        spark, root,
        [("count", "*"), ("sum", "k"), ("distinct", "cat")],
        group_by=["grp"], return_plan=True,
    )
    assert list(out.columns) == ["grp", "count_star", "sum_k", "distinct_cat"]
    assert _grp_got(out, "grp") == _grp_truth(df, "grp")
    assert plan["pids_metadata"] > 0


def test_groupby_with_predicate_and_null_groups(spark, tmp_path):
    """Null group keys survive (SQL GROUP BY keeps them; null-keyed
    partitions are never metadata-eligible), and a predicate's hybrid
    split stays group-exact."""
    df = spark.range(0, 12_000).select(
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 4).cast("string")))
        .alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 3).cast("string")).alias("cat"),
    )
    root = str(tmp_path / "grp_nulls")
    encode_table(
        df, root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    out = aggregate_store(
        spark, root,
        [("count", "*"), ("sum", "k"), ("distinct", "cat")],
        group_by=["grp"], predicates=[("k", "<=", 7_999)],
    )
    assert _grp_got(out, "grp") == _grp_truth(df, "grp", F.col("k") <= 7_999)


def test_groupby_int_key_and_deletes(spark, tmp_path):
    """Integer group keys canonicalize exactly, and delete-touched
    partitions fall to the decode half per group."""
    df = spark.range(0, 10_000).select(
        (F.col("id") % 5).cast("long").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 4).cast("string")).alias("cat"),
    )
    root = str(tmp_path / "grp_del")
    encode_table(
        df, root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    delete_rows(spark, root, [("k", "<", 1_000)])
    remaining = df.filter(F.col("k") >= 1_000)
    out = aggregate_store(
        spark, root,
        [("count", "*"), ("sum", "k"), ("distinct", "cat")],
        group_by=["grp"],
    )
    assert _grp_got(out, "grp") == _grp_truth(remaining, "grp")


def test_groupby_float_key_decode_only(spark, tmp_path):
    """A float group column is never metadata-eligible: the whole rollup
    runs through the decode path and still matches."""
    df = spark.range(0, 6_000).select(
        ((F.col("id") % 3).cast("double") / 2).alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 4).cast("string")).alias("cat"),
        (F.col("id") % 7).cast("int").alias("band"),
    )
    root = str(tmp_path / "grp_float")
    encode_table(
        df, root, group_cols=["band"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    out, plan = aggregate_store(
        spark, root,
        [("count", "*"), ("sum", "k"), ("distinct", "cat")],
        group_by=["grp"], return_plan=True,
    )
    assert plan["pids_metadata"] == 0
    assert _grp_got(out, "grp") == _grp_truth(df, "grp")


def test_groupby_distinct_only(spark, tmp_path):
    """A pure-distinct grouped query (no scalar aggs): every group's
    counts come from the one grouped aggregation over the set values and
    the decoded values."""
    df = spark.range(0, 8_000).select(
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 5).cast("string")).alias("cat"),
        F.when(F.col("id") % 2 == 0, None)
        .otherwise((F.col("id") % 6).cast("long")).alias("halfnull"),
    )
    root = str(tmp_path / "grp_donly")
    encode_table(
        df, root, group_cols=["grp"], salt_cols=["k"],
        target_bytes=64 << 10, resume=False,
    ).count()
    out = aggregate_store(
        spark, root,
        [("distinct", "cat"), ("distinct", "halfnull")],
        group_by=["grp"],
    )
    truth = df.groupBy("grp").agg(
        F.countDistinct("cat").alias("distinct_cat"),
        F.countDistinct("halfnull").alias("distinct_halfnull"),
    ).collect()
    tr = sorted([r.asDict() for r in truth], key=lambda r: r["grp"])
    got = sorted([r.asDict() for r in out.collect()], key=lambda r: r["grp"])
    assert got == tr


def test_string_minmax_metadata_only(spark, tmp_path):
    """MIN/MAX on a low-cardinality string column answer from the exact
    sets — zero decode — and an all-null string column contributes NULL
    (the empty set must not trip ANSI element_at errors)."""
    df = spark.range(0, 8_000).select(
        (F.col("id") % 8).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 7).cast("string")).alias("cat"),
        F.lit(None).cast("string").alias("allnull"),
    )
    root = _encode(spark, df, tmp_path, "strmm")
    out, plan = aggregate_store(
        spark, root,
        [("min", "cat"), ("max", "cat"), ("min", "allnull"), ("max", "k")],
        return_plan=True,
    )
    assert plan["pids_decoded"] == 0
    r = out.collect()[0]
    assert (r["min_cat"], r["max_cat"]) == ("cat0", "cat6")
    assert r["min_allnull"] is None
    assert r["max_k"] == 7_999


def test_string_minmax_high_cardinality_decodes(spark, tmp_path):
    """Set-less string partitions (high cardinality) fall to decode and
    the combined extrema stay exact."""
    df = spark.range(0, 4_000).select(
        (F.col("id") % 4).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.format_string("%06d", F.col("id"))).alias("uid"),
    )
    root = _encode(spark, df, tmp_path, "strmm_hc")
    out, plan = aggregate_store(
        spark, root, [("min", "uid"), ("max", "uid")], return_plan=True
    )
    assert plan["pids_decoded"] == plan["pids_total"]
    r = out.collect()[0]
    assert (r["min_uid"], r["max_uid"]) == ("u000000", "u003999")
