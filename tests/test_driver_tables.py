"""Driver-side tables reach Spark as Arrow, never as Python lists.

``createDataFrame(list)`` goes through ``parallelize`` +
``applySchemaToPythonRDD``: every action on the result runs a job of Python
tasks just to unpickle the rows. An Arrow table becomes a LocalRelation.
These tests pin that rule (a guard on every engine call), the job count it
buys ``encode_table``, the contract of ``encode_table``'s codec-plan helper
thread, and ``batch_fingerprint``, the other driver-side step of a
streaming or WAP append."""

import contextlib
import threading

import pyarrow as pa
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from parzig_spark.operators import (
    check_store,
    compact_store,
    create_ref,
    encode_table,
    refs_table,
    snapshots_table,
)
from parzig_spark.operators import encode as encode_mod
from parzig_spark.operators.encode import SUMMARY_SCHEMA, batch_fingerprint
from parzig_spark.plans.manifest import ManifestStore


def _frame(spark, n_groups=50, rows=4000):
    """``rows`` rows in ``n_groups`` equal groups of 100-byte payloads."""
    return spark.range(0, rows, numPartitions=4).select(
        (F.col("id") % n_groups).cast("string").alias("grp"),
        F.col("id").alias("k"),
        F.repeat(F.lit("x"), 100).alias("payload"),
    )


def _encode(df, root, target_bytes, **kw):
    return encode_table(
        df, root, group_cols=["grp"], salt_cols=["k"], size_col="payload",
        target_bytes=target_bytes, **kw,
    )


def test_engine_hands_spark_only_arrow_tables(spark, tmp_path, monkeypatch):
    """Each driver-built DataFrame comes from an Arrow table and keeps the
    exact schema its Python-list version declared in DDL."""
    seen = []
    real = SparkSession.createDataFrame

    def guard(self, data, *args, **kwargs):
        seen.append(type(data))
        return real(self, data, *args, **kwargs)

    df = _frame(spark)
    monkeypatch.setattr(SparkSession, "createDataFrame", guard)

    root = str(tmp_path / "store")
    # 8 KB groups at a 4 KB target: every group salts, so the salt table
    # is broadcast
    rows = _encode(df, root, 4 << 10).collect()
    n_pids = len({r["pid"] for r in rows})
    assert n_pids > 1
    # resumed over the committed pids: the anti-join filter, nothing to do
    assert _encode(df, root, 4 << 10).collect() == []
    create_ref(root, "audit")

    checked = check_store(spark, root, [("row_count_between", None, (4000, 4000))])
    assert checked.schema == DataType.fromDDL(
        "check string, column string, passed boolean, observed string"
    )
    assert [tuple(r) for r in checked.collect()] == [
        ("row_count_between", None, True, "rows=4000")
    ]
    snaps = snapshots_table(spark, root)
    assert snaps.schema == DataType.fromDDL(
        "version long, path string, n_partitions long, n_manifest_rows long, "
        "raw_bytes long, enc_bytes long, n_delete_ops long"
    )
    last = snaps.orderBy("version").collect()[-1]
    assert (last["n_partitions"], last["n_manifest_rows"]) == (n_pids, 3 * n_pids)
    refs = refs_table(spark, root)
    assert refs.schema == DataType.fromDDL("name string, kind string, snapshot long")
    assert [(r["name"], r["kind"]) for r in refs.collect()] == [("audit", "tag")]
    # every partition is at least half of a 1-byte target: nothing to rewrite
    summary = compact_store(spark, root, str(tmp_path / "compacted"), target_bytes=1)
    assert summary.schema == DataType.fromDDL(SUMMARY_SCHEMA)
    assert summary.collect() == []

    assert seen, "no operation built a DataFrame on the driver"
    assert all(t is pa.Table for t in seen), seen


@contextlib.contextmanager
def _job_group(spark, name):
    """Yields a function giving the number of Spark jobs run so far inside
    the block by this thread and by the threads it started with
    ``pyspark.InheritableThread`` (``encode_table``'s codec-sample job)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_encode_table_job_count(spark, tmp_path):
    """Jobs of one multi-bucket ``encode_table(...).collect()``: two for
    the sizing aggregation's limited collect, the codec-sample job on the
    helper thread, one for the scan that feeds the pid shuffle and one for
    the encode stage. When a Python list carried the salt table, every
    encode broadcast it with a job of Python tasks: 7 jobs here, 8 resumed,
    and 7 salted, where that job now runs in the JVM."""
    df = _frame(spark)
    # 8 KB groups at a 64 KB target: no group salts, so there is no salt
    # table to broadcast
    root = str(tmp_path / "packed")
    with _job_group(spark, "encode-packed") as jobs:
        n_pids = len({r["pid"] for r in _encode(df, root, 64 << 10).collect()})
        assert jobs() == 5
    assert n_pids > 1
    # resumed after two pids lost their markers: the broadcast of the
    # committed pids adds one JVM job
    for pid in sorted(ManifestStore(root).committed_pids())[:2]:
        ManifestStore(root).retire_partition(pid)
    with _job_group(spark, "encode-resumed") as jobs:
        assert len({r["pid"] for r in _encode(df, root, 64 << 10).collect()}) == 2
        assert jobs() == 6
    # at a 4 KB target every group salts: the Arrow salt table's broadcast
    # is a JVM job of its own
    with _job_group(spark, "encode-salted") as jobs:
        _encode(df, str(tmp_path / "salted"), 4 << 10).collect()
        assert jobs() == 6


def test_codec_sample_job_joins_the_callers_job_group(spark, tmp_path, monkeypatch):
    """The codec-sample job, started on a helper thread, carries the
    caller's ``spark.jobGroup.id``, so ``cancelJobGroup`` reaches it."""
    sc = spark.sparkContext
    df = _frame(spark)
    groups = []  # (helper thread?, job group) of every toArrow call
    real = type(df).toArrow

    def recorded(self):
        helper = threading.current_thread() is not threading.main_thread()
        groups.append((helper, sc.getLocalProperty("spark.jobGroup.id")))
        return real(self)

    monkeypatch.setattr(type(df), "toArrow", recorded)
    with _job_group(spark, "encode-sample"):
        _encode(df, str(tmp_path / "store"), 64 << 10).collect()
    assert (True, "encode-sample") in groups, groups
    assert all(g == "encode-sample" for _h, g in groups), groups


def test_encode_resumed_over_a_committed_namespace_runs_no_scan(spark, tmp_path):
    """Every pid of the namespace already committed: the resumed encode
    runs only its planning jobs (two for the sizing, the codec sample)
    and returns an empty summary without touching the store."""
    df = _frame(spark)
    root = str(tmp_path / "store")
    store = ManifestStore(root)
    first = _encode(df, root, 64 << 10).collect()
    pids = store.committed_pids()
    # 7 buckets of 8 KB groups at a 64 KB target, none of them empty
    assert {r["pid"] for r in first} == pids == set(range(7))
    store.fresh_snapshot()
    versions = store.versions()
    with _job_group(spark, "encode-done") as jobs:
        summary = _encode(df, root, 64 << 10)
        assert jobs() == 3
        assert summary.schema == DataType.fromDDL(SUMMARY_SCHEMA)
        assert summary.collect() == []
        assert jobs() == 3
    assert store.committed_pids() == pids
    assert store.versions() == versions


def test_codec_plan_error_raises_only_when_the_plan_is_used(spark, tmp_path, monkeypatch):
    """An error of the helper thread's selector surfaces on the caller of
    a multi-bucket encode; a single-bucket encode never uses the plan, so
    it encodes."""

    def broken(*args, **kwargs):
        raise RuntimeError("selector broke")

    monkeypatch.setattr(encode_mod, "choose_codec", broken)
    df = _frame(spark)
    with pytest.raises(RuntimeError, match="selector broke"):
        _encode(df, str(tmp_path / "multi"), 64 << 10)
    rows = _encode(df, str(tmp_path / "single"), 64 << 20).collect()
    assert {r["pid"] for r in rows} == {0}


def test_single_bucket_encode_stops_the_codec_plan(spark, tmp_path, monkeypatch):
    """A single-bucket encode chooses its codecs in its one task: the
    helper thread stops before its next column, so the driver runs the
    selector on at most one column. The recorded selector call waits for
    the sizing to finish, which makes the count independent of timing."""
    sized = threading.Event()
    calls = []
    real_plan, real_choose = encode_mod.plan_partitions, encode_mod.choose_codec

    def plan_partitions(*args, **kwargs):
        out = real_plan(*args, **kwargs)
        sized.set()
        return out

    def choose_codec(*args, **kwargs):
        calls.append(threading.current_thread() is threading.main_thread())
        sized.wait(60)
        return real_choose(*args, **kwargs)

    monkeypatch.setattr(encode_mod, "plan_partitions", plan_partitions)
    monkeypatch.setattr(encode_mod, "choose_codec", choose_codec)
    rows = _encode(_frame(spark), str(tmp_path / "store"), 64 << 20).collect()
    assert {r["pid"] for r in rows} == {0}
    assert calls in ([], [False]), calls


def _map_frame(spark):
    return spark.range(10).select(
        F.col("id"),
        (F.col("id") * 7).cast("string").alias("s"),
        (F.col("id") / 3).alias("d"),
        F.create_map(
            F.lit("k"), F.col("id"),
            F.concat(F.lit("x"), F.col("id").cast("string")), F.col("id") * 2,
        ).alias("m"),
    )


def test_batch_fingerprint_digest_is_frozen(spark):
    """Scalar columns plus a top-level map: the digest every stream
    namespace derived so far was built from."""
    digest, rows = batch_fingerprint(_map_frame(spark))
    assert rows == 10
    assert digest.hex() == "72ca18d4eb60364449afc37acc5a3016e648cad5b0da8ffb6c1c91ce197cdfcb"


@pytest.mark.parametrize(
    "nested",
    [
        lambda m: F.array(m),
        lambda m: F.struct(m.alias("m"), F.col("id").alias("i")),
        lambda m: F.array(F.struct(m.alias("m"))),
    ],
    ids=["array_of_map", "struct_with_map", "array_of_struct_with_map"],
)
def test_batch_fingerprint_nested_maps(spark, nested):
    """A map at any depth hashes through ``to_json``: xxhash64 rejects
    ``array<map<string,bigint>>`` with DATATYPE_MISMATCH.HASH_MAP_TYPE."""
    df = spark.range(10).select(
        F.col("id"), nested(F.create_map(F.lit("a"), F.col("id"))).alias("v")
    )
    digest, rows = batch_fingerprint(df)
    assert rows == 10
    assert batch_fingerprint(df.orderBy(F.col("id").desc()))[0] == digest
    other = df.withColumn("id", F.col("id") + 1)
    assert batch_fingerprint(other)[0] != digest
