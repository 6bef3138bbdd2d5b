"""Crash injection on the shared commit path.

compact_store (passthrough + rewrite), drop_columns and add_columns all
commit through ``ManifestStore.commit_partition`` (``write_partition`` and
``link_partition`` call it last). Each test runs the operator with a
store whose ``commit_partition`` fails after ``k`` seals, checks that the
destination then serves only sealed pids, reruns the operator with
``resume=True`` and checks that the destination's rows (sha256 per row)
equal the source's.

The failing store reaches Spark tasks as a class defined inside a
function, which cloudpickle ships by value with the task; its seal count
lives in files, so the driver and every executor process share it.
"""

import collections
import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parzig_spark.operators import (
    add_columns,
    compact_store,
    decode_table,
    delete_rows,
    drop_columns,
    encode_table,
)
from parzig_spark.operators import compact, evolve
from parzig_spark.plans.manifest import ManifestStore

_SCHEMA = "g string, k long, s string"


def _failing_store(flag_dir: str, k: int):
    """A ManifestStore whose ``commit_partition`` seals the first ``k``
    calls and raises on every later one. Each call takes a numbered ticket
    (``mkdir`` under ``flag_dir`` fails iff the ticket is taken), so
    concurrent tasks in other processes share one exact count."""
    os.makedirs(flag_dir, exist_ok=True)

    class FailingStore(ManifestStore):
        def commit_partition(self, pid):
            ticket = 0
            while True:
                try:
                    os.mkdir(os.path.join(flag_dir, str(ticket)))
                    break
                except FileExistsError:
                    ticket += 1
            if ticket >= k:
                raise RuntimeError(f"injected crash before sealing pid {pid}")
            super().commit_partition(pid)

    return FailingStore


@pytest.fixture
def crash_after(monkeypatch, tmp_path):
    """``crash_after(k)`` swaps the failing store into the operators;
    ``monkeypatch.undo()`` restores the real one."""

    def install(k):
        store_cls = _failing_store(str(tmp_path / "seals"), k)
        for mod in (compact, evolve):
            monkeypatch.setattr(mod, "ManifestStore", store_cls)

    return install


def _row_digests(spark, root, columns=None) -> collections.Counter:
    rows = decode_table(spark, root, columns).toArrow().to_pylist()
    return collections.Counter(
        hashlib.sha256(json.dumps(r, sort_keys=True, default=str).encode()).hexdigest()
        for r in rows
    )


def _assert_only_sealed(spark, root, expected: collections.Counter):
    """The destination after a crash: its snapshot covers exactly the
    sealed pids, at least one partition was staged but never sealed, and
    every decoded row is a source row."""
    store = ManifestStore(root)
    sealed = store.committed_pids()
    snap = pq.read_table(store.fresh_snapshot(), columns=["pid"])
    assert set(snap.column("pid").to_pylist()) == sealed
    staged = {
        int(f[len("part-"):-len(".parquet")])
        for f in os.listdir(store.manifest_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    }
    assert staged - sealed, "the crash must leave a staged, unsealed partition"
    pids = decode_table(spark, root, include_pid_pos=True).select("_pid").distinct()
    assert {r["_pid"] for r in pids.collect()} <= sealed
    got = _row_digests(spark, root)
    assert not got - expected, "a decoded row is not a source row"
    assert sum(got.values()) < sum(expected.values())


def _rows(n=1_200):
    return [(f"g{k % 13}", k, "x" * (k % 29)) for k in range(n)]


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    """(df, root, surviving rows' digests): many small partitions, one
    delete applied to a few of them."""
    df = spark.createDataFrame(_rows(), _SCHEMA)
    root = str(tmp_path_factory.mktemp("crash") / "src")
    encode_table(
        df, root, group_cols=["g"], salt_cols=["k"], target_bytes=8 << 10, resume=False,
    ).count()
    delete_rows(spark, root, [("g", "==", "g0"), ("k", "<", 500)])
    return df, root, _row_digests(spark, root)


def test_compact_crash_then_resume(spark, source, crash_after, monkeypatch, tmp_path):
    _df, src_root, expected = source
    m = ManifestStore(src_root).read_manifests().to_pandas()
    per_pid = sorted(m.groupby("pid")["raw_bytes"].sum().tolist())
    target = 2 * per_pid[len(per_pid) // 2]  # the bigger half passes through
    dst_root = str(tmp_path / "dst")
    plan = compact.plan_compaction(ManifestStore(src_root), target)
    n_pass = len(per_pid) - sum(len(g) for g in plan)
    assert n_pass > 0 and len(plan) > 2

    crash_after(n_pass + 2)  # every passthrough and two rewrites seal
    with pytest.raises(Exception, match="injected crash"):
        compact_store(spark, src_root, dst_root, target_bytes=target).count()
    _assert_only_sealed(spark, dst_root, expected)

    monkeypatch.undo()
    compact_store(spark, src_root, dst_root, target_bytes=target, resume=True).count()
    assert _row_digests(spark, dst_root) == expected


def test_compact_passthrough_crash_then_resume(spark, source, crash_after, monkeypatch, tmp_path):
    _df, src_root, expected = source
    m = ManifestStore(src_root).read_manifests().to_pandas()
    per_pid = sorted(m.groupby("pid")["raw_bytes"].sum().tolist())
    target = 2 * per_pid[len(per_pid) // 2]
    dst_root = str(tmp_path / "dst")

    crash_after(2)  # dies on the driver, inside the passthrough loop
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_store(spark, src_root, dst_root, target_bytes=target)
    assert len(ManifestStore(dst_root).committed_pids()) == 2
    _assert_only_sealed(spark, dst_root, expected)

    monkeypatch.undo()
    compact_store(spark, src_root, dst_root, target_bytes=target, resume=True).count()
    assert _row_digests(spark, dst_root) == expected


def test_drop_columns_crash_then_resume(spark, source, crash_after, monkeypatch, tmp_path):
    _df, src_root, _expected = source
    dst_root = str(tmp_path / "dst")
    expected = _row_digests(spark, src_root, ["g", "k"])

    crash_after(3)
    with pytest.raises(RuntimeError, match="injected crash"):
        drop_columns(src_root, dst_root, ["s"])
    assert len(ManifestStore(dst_root).committed_pids()) == 3
    _assert_only_sealed(spark, dst_root, expected)

    monkeypatch.undo()
    drop_columns(src_root, dst_root, ["s"])
    assert _row_digests(spark, dst_root) == expected


def test_add_columns_crash_then_resume(spark, source, crash_after, monkeypatch, tmp_path):
    df, src_root, _expected = source
    wide = df.withColumn("w", F.col("k") * 3)
    dst_root = str(tmp_path / "dst")
    expected = collections.Counter(
        hashlib.sha256(
            json.dumps({"g": g, "k": k, "s": s, "w": 3 * k}, sort_keys=True).encode()
        ).hexdigest()
        for g, k, s in _rows()
        if not (g == "g0" and k < 500)  # the carried delete
    )

    crash_after(2)  # raises inside a Spark task
    with pytest.raises(Exception, match="injected crash"):
        add_columns(wide, src_root, dst_root, ["w"]).count()
    _assert_only_sealed(spark, dst_root, expected)

    monkeypatch.undo()
    add_columns(wide, src_root, dst_root, ["w"], resume=True).count()
    assert _row_digests(spark, dst_root) == expected
