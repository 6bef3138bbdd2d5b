"""One wave of Python tasks per stage: every engine stage deals its pids
into at most ``session.task_slots`` tasks (a Python task's fixed setup is
then paid per core slot, not per pid), and the encode task streams its
pids one by one instead of buffering the whole task. A worker that runs
engine code re-reads no zip directory when Spark invalidates its import
caches before each task.
"""

import pyarrow as pa
from pyspark.sql import functions as F

import parzig_spark

from parzig_spark.operators import (
    aggregate_store,
    decode_table,
    delete_rows,
    encode_table,
    verify_store,
)
from parzig_spark.operators.decode import deal_pids, map_pids, plan_read
from parzig_spark.operators.encode import map_pid_slices
from parzig_spark.session import task_slots
from parzig_spark.sources.datasource import ParzigReader, register_datasource


class _Capture:
    """Stands in for the DataFrame ``map_pid_slices`` shuffles and keeps
    the Python task function it hands to ``mapInArrow``."""

    def __init__(self, spark):
        self.sparkSession = spark

    def repartition(self, *_args):
        return self

    def sortWithinPartitions(self, *_args):
        return self

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self


def test_pid_slices_stream_pid_by_pid(spark):
    """Batches whose boundaries split pids: ``per_pid`` gets exactly each
    pid's rows in arrival (canonical) order, and pid k is handed over
    while the batch holding pid k+1's first row is the last one pulled —
    the task never buffers past the pid in progress."""
    pids = [1] * 5 + [2] * 9 + [3] * 3 + [7] * 6
    ks = list(range(len(pids)))
    table = pa.table({"pid": pa.array(pids, pa.int64()), "k": ks, "v": [f"s{k}" for k in ks]})
    batches = table.to_batches(max_chunksize=4)
    batches.insert(2, pa.RecordBatch.from_pylist([], schema=table.schema))  # zero-row batch
    pulled = 0

    def feed():
        nonlocal pulled
        for b in batches:
            pulled += 1
            yield b

    seen = []

    def per_pid(pid, t):
        seen.append((pid, t, pulled))
        return pid

    cap = _Capture(spark)
    map_pid_slices(cap, 1, ["k"], ["k", "v"], per_pid)
    assert list(cap.fn(feed())) == [1, 2, 3, 7]

    first_row = {}
    for i, p in enumerate(pids):
        first_row.setdefault(p, i)
    row_batch = []  # batch index (in ``batches``) of each row
    for bi, b in enumerate(batches):
        row_batch += [bi] * b.num_rows
    order = [1, 2, 3, 7]
    for n, (pid, t, at_pull) in enumerate(seen):
        assert pid == order[n]
        assert t.column_names == ["k", "v"]
        assert t.column("k").to_pylist() == [k for k, p in zip(ks, pids) if p == pid]
        assert t.column("v").to_pylist() == [f"s{k}" for k, p in zip(ks, pids) if p == pid]
        nxt = order[n + 1] if n + 1 < len(order) else None
        expect = len(batches) if nxt is None else row_batch[first_row[nxt]] + 1
        assert at_pull == expect, (pid, at_pull, expect)


def test_deal_pids_contiguous_runs():
    assert deal_pids([], 4) == []
    assert deal_pids([5, 1, 3], 8) == [(1,), (3,), (5,)]
    runs = deal_pids(list(range(10, 0, -1)), 4)
    assert len(runs) == 4
    assert [p for r in runs for p in r] == list(range(1, 11))
    assert sorted(len(r) for r in runs) == [2, 2, 3, 3]


def test_task_invalidation_reads_no_zip_directory(spark):
    """Each task's ``importlib.invalidate_caches()`` (which Spark's worker
    also runs before every task) reads no zip directory inside a worker
    that runs engine code: 0 on every pid, where CPython 3.11's eager
    ``zipimporter.invalidate_caches`` reads 16 (``pyspark.zip``, the py4j
    zip and the spark-core jar, once per cached importer)."""
    pids = list(range(2 * task_slots(spark)))

    # the package default is pickled as an import, like the engine
    # functions every engine per-pid function calls, so a fresh worker
    # imports the package (and installs the lazy invalidation) on unpickling
    def count_reads(pid, _package=parzig_spark):
        import importlib
        import zipimport

        reads = 0
        read = zipimport._read_directory

        def counted(path):
            nonlocal reads
            reads += 1
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict({"pid": [pid], "reads": [reads]})

    rows = map_pids(spark, pids, count_reads, "pid long, reads long").collect()
    assert sorted((r["pid"], r["reads"]) for r in rows) == [(p, 0) for p in pids]


def test_every_stage_runs_one_wave(spark, tmp_path, monkeypatch):
    """A store of at least 3x ``task_slots`` pids: the Python stages of
    encode_table, decode_table, aggregate_store, verify_store, the
    delete_rows scan and the data source each have at most ``task_slots``
    partitions, the data source's partitions cover plan_read's pids
    exactly once, and every answer matches the source rows."""
    from parzig_spark.operators import aggregate, delete
    from parzig_spark.operators import decode as decode_mod

    slots = task_slots(spark)
    scans = []  # partition counts of the map_pids stages aggregate/delete run

    def counted(*args):
        df = decode_mod.map_pids(*args)
        scans.append(df.rdd.getNumPartitions())
        return df

    monkeypatch.setattr(aggregate, "map_pids", counted)
    monkeypatch.setattr(delete, "map_pids", counted)

    n = 6_000
    src = spark.range(0, n).select(
        (F.col("id") % 40).cast("int").alias("grp"),
        F.col("id").alias("k"),
        F.concat(F.lit("cat"), (F.col("id") % 6).cast("string")).alias("cat"),
    )
    root = str(tmp_path / "waves")
    summary = encode_table(
        src, root, group_cols=["grp"], salt_cols=["k"], target_bytes=16 << 10, resume=False,
    )
    assert summary.rdd.getNumPartitions() <= slots
    rows = summary.collect()
    _snap, pids, _ops = plan_read(root)
    assert len(pids) >= 3 * slots
    assert {r["pid"] for r in rows} == set(pids)

    expect = sorted((i % 40, i, f"cat{i % 6}") for i in range(n))
    df = decode_table(spark, root)
    assert df.rdd.getNumPartitions() <= slots
    assert sorted(tuple(r) for r in df.collect()) == expect

    got = aggregate_store(
        spark, root, [("count", "*"), ("sum", "k")], predicates=[("k", ">=", 100)]
    ).collect()
    assert (got[0][0], got[0][1]) == (n - 100, sum(range(100, n)))
    assert len(scans) == 1 and 1 <= scans[0] <= slots

    audit = verify_store(spark, root)
    assert audit.rdd.getNumPartitions() <= slots
    got = audit.collect()
    assert len(got) == 3 * len(pids) and all(r["ok"] for r in got)

    # the data source: a directly built reader and the registered one
    parts = ParzigReader({"path": root}, ["grp", "k", "cat"]).partitions()
    assert 1 <= len(parts) <= slots
    assert [p for part in parts for p in part.pids] == pids  # each pid once, in order
    register_datasource(spark)
    df = spark.read.format("parzig").load(root)
    assert df.rdd.getNumPartitions() <= slots
    assert sorted(tuple(r) for r in df.collect()) == expect

    out = delete_rows(spark, root, [("cat", "==", "cat3")])
    assert len(scans) == 2 and 1 <= scans[1] <= slots
    assert out["rows_deleted"] == n // 6
    left = sorted(tuple(r) for r in decode_table(spark, root).collect())
    assert left == [r for r in expect if r[2] != "cat3"]
