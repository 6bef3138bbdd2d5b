"""The benchmark's two workloads, each a closed loop driven by one client
(the next operation starts only after the previous one completes).

- ``corpus_roundtrip``: encode -> full decode of a source-code corpus
  window. Per-byte string work (dict / delta_length / FSST + outer
  compression, digests, canonical sort of long strings) over few, large
  partitions.
- ``store_queries``: a paged, key-banded lineitem store at a small
  ``target_bytes`` (many partitions x narrow typed columns, so fixed
  per-(partition, column) costs dominate its build: selector, integer
  kernels, stats, manifest files), then read-only queries against it:
  key-range and point ``decode_table`` lookups, ``aggregate_store`` and a
  SQL ``WHERE`` through the ``parzig`` data source.

Both run the same steps, so every workload reports every end-to-end
metric. Set-up: the input, then an untimed warm-up (``warm_up``) that pays
the session's first-use costs (JIT, Python workers, data-source planner).
Then timed round-trips (encode + two full decodes), the last store
verified in full, and a timed query cycle (two queries of each kind)
against it. ``seconds`` extends the round-trip loop on
``corpus_roundtrip`` and the query loop on ``store_queries``.
Verification always runs outside the timed regions.

In a traced run every timed operation runs twice, once with spans on and
once without, in alternating order; the wall difference of each pair is a
tracing-overhead sample, and only the untraced run feeds the metrics. The
per-partition kernel work is replayed in this process through
``encode_partition_arrays`` / ``decode_pid_rows`` with the kernel patches
of ``tracing`` installed.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import inputs, tracing
from .harness import log

# Sizes keep one run (session start, set-up, the timed loops,
# verification, shutdown) near 40 s on a 4-core host in a fast phase and
# under 80 s in a slow one: 48 runs must end within 3,420 s. A band
# holds band_keys * 4 rows, which the planner sizes at 256 bytes a row;
# band_keys puts that halfway between two multiples of store_target, so
# every band gets the same salt count and every seed the same partitions.
SIZES = {
    "full": {
        "corpus_rows": 4_000, "corpus_target": 4 << 20,
        "store_rows": 40_000, "store_target": 512 << 10,
        "page_values": 1024, "band_keys": 768,
    },
    # sf0.001-sized inputs for the benchmark's own tests
    "smoke": {
        "corpus_rows": 2_000, "corpus_target": 1 << 20,
        "store_rows": 6_000, "store_target": 64 << 10,
        "page_values": 512, "band_keys": 160,
    },
}

SETUP_REPEATS = 3
# Timed work every run does whatever ``seconds`` says, so the medians and
# means of every metric rest on the same samples on every run.
MIN_ROUNDTRIPS = 2
MIN_CYCLES = 1


@dataclasses.dataclass
class Dataset:
    """One input table plus how the engine lays it out."""

    table: pa.Table
    path: str
    encode_kwargs: dict
    keys: list[str]

    @property
    def raw_bytes(self) -> int:
        return self.table.nbytes


class Run:
    """State of one benchmark run: the session, the span recorder, the
    seeded generator, the samples, and the operation/failure accounting."""

    def __init__(self, spark, rec: tracing.Recorder, trace: bool, seed: int,
                 seconds: float, size: dict, work: str):
        self.spark, self.rec, self.trace = spark, rec, trace
        self.seed, self.seconds, self.size, self.work = seed, seconds, size, work
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        # operations run in jobs tagged ``measure:`` (the spark.* divisor)
        self.measured_ops = 0
        self.overhead_pairs: Counter = Counter()
        self._n_roots = 0

    def job(self, phase: str) -> None:
        """Tag the Spark jobs that follow (the event log filters on it)."""
        log(phase)
        self.spark.sparkContext.setJobDescription(phase)

    def check(self, ok: bool, what: str) -> None:
        """One attempted operation; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def new_root(self, tag: str) -> str:
        self._n_roots += 1
        return os.path.join(self.work, f"store-{tag}-{self._n_roots}")

    def measure(self, label: str, body) -> tuple[float, object]:
        """Run ``body``; returns (wall seconds, result)."""
        t0 = time.perf_counter()
        result = body()
        wall = time.perf_counter() - t0
        log(f"{label}: {wall:.3f} s")
        return wall, result

    @contextlib.contextmanager
    def traced(self, on: bool = True):
        """Record spans inside this block (only ever in a traced run)."""
        before = self.rec.enabled
        self.rec.enabled = on and self.trace
        try:
            yield
        finally:
            self.rec.enabled = before

    def timed_op(self, kind: str, body):
        """Run one measured operation; returns the result of its untraced
        execution. In a traced run ``body`` runs a second time with spans
        on, the two in alternating order, and the pair's wall difference is
        one tracing-overhead sample."""

        def once(traced: bool):
            self.measured_ops += 1
            with self.traced(traced):
                t0 = time.perf_counter()
                result = body()
                return time.perf_counter() - t0, result

        if not self.trace:
            return once(False)[1]
        self.overhead_pairs[kind] += 1
        order = (False, True) if sum(self.overhead_pairs.values()) % 2 else (True, False)
        walls = {traced: once(traced) for traced in order}
        self.samples["trace.overhead_s"].append(walls[True][0] - walls[False][0])
        return walls[False][1]


def _dir_bytes(top: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(top) for f in files
    )


# ---------------------------------------------------------------- inputs --

def _build_input(run: Run, name: str, make) -> tuple[pa.Table, str, float]:
    """Generate the seeded table and write it as parquet, SETUP_REPEATS
    times; returns the table, its path and the median build seconds."""
    path = os.path.join(run.work, f"{name}.parquet")
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        table = make()
        pq.write_table(table, path)
        times.append(time.perf_counter() - t0)
    return table, path, statistics.median(times)


def corpus_dataset(run: Run) -> tuple[Dataset, float]:
    n = run.size["corpus_rows"]
    table, path, t = _build_input(run, "corpus", lambda: inputs.corpus_table(run.seed, n))
    return Dataset(
        table, path,
        dict(group_cols=["repo", "lang"], salt_cols=["path", "commit"],
             sort_cols=["repo", "path", "commit"], size_col="content",
             target_bytes=run.size["corpus_target"]),
        keys=["repo", "path", "commit"],
    ), t


def banded(table: pa.Table, size: dict) -> pa.Table:
    """Lineitem plus ``l_band`` = l_orderkey // band_keys, the store's
    group column: partitions hold key ranges (min/max pruning) and pages
    inside them hold sorted key runs (page skipping)."""
    okey = table.column("l_orderkey").to_numpy()
    return table.append_column("l_band", pa.array((okey // size["band_keys"]).astype(np.int32)))


def store_encode_kwargs(size: dict) -> dict:
    """The ``encode_table`` arguments of the ``store_queries`` store."""
    return dict(
        group_cols=["l_band"], salt_cols=["l_orderkey"],
        sort_cols=["l_orderkey", "l_linenumber"],
        target_bytes=size["store_target"], page_values=size["page_values"],
    )


def store_dataset(run: Run) -> tuple[Dataset, float]:
    table, path, t = _build_input(
        run, "lineitem",
        lambda: banded(inputs.lineitem_table(run.seed, run.size["store_rows"]), run.size))
    # (order, line) repeats in these tables; with part, supplier and price
    # added the key is unique on every seed
    keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"]
    return Dataset(table, path, store_encode_kwargs(run.size), keys=keys), t


# ------------------------------------------------------------ operations --

def encode(run: Run, ds: Dataset, df, root: str) -> list:
    """``encode_table`` + its summary action; returns the summary rows."""
    from parzig_spark.operators import encode_table

    with run.rec.span("encode_table"):
        summary = encode_table(df, root, resume=False, **ds.encode_kwargs)
    with run.rec.span("encode.job"):
        return summary.collect()


def decode_scan(run: Run, root: str) -> int:
    """``decode_table`` + a full-scan action; returns the row count."""
    from parzig_spark.operators import decode_table

    with run.rec.span("decode_table"):
        dec = decode_table(run.spark, root)
    with run.rec.span("decode.scan"):
        return dec.count()


def verify(run: Run, ds: Dataset, root: str, df) -> None:
    """verify_roundtrip (per-row sha256, full outer join on the keys)
    against a fresh decode, and verify_store (per-blob digest vs manifest).
    One check, untraced and untimed."""
    from parzig_spark.operators import decode_table, verify_roundtrip, verify_store

    run.job("verify")
    t0 = time.perf_counter()
    res = verify_roundtrip(df, decode_table(run.spark, root), ds.keys)
    bad_blobs = verify_store(run.spark, root).filter(~F.col("ok")).count()
    run.samples["verify.s"].append(time.perf_counter() - t0)
    run.samples["verify.rows_checked"].append(res["rows"])
    run.check(res["ok"] and bad_blobs == 0 and res["rows"] == ds.table.num_rows,
              f"store {root}: {res}, bad blobs {bad_blobs}")


def store_sizes(run: Run, ds: Dataset, root: str) -> None:
    """Whole store on disk per raw byte, and blob bytes against the same
    rows written as default-settings parquet."""
    run.samples["stored_bytes_ratio"].append(_dir_bytes(root) / ds.raw_bytes)
    run.samples["size_vs_parquet"].append(
        _dir_bytes(os.path.join(root, "blobs")) / inputs.parquet_reference_bytes(ds.table)
    )


# -------------------------------------------------------------- workload --

def warm_up(run: Run, w: "Workload", ds: Dataset) -> None:
    """Pay the session's first-use costs (JVM, Python workers, kernels,
    data-source planner): an encode of the first quarter of the rows at a
    quarter of the target size, so it spans as many partitions as the
    whole table and starts every Python worker, then a SQL query of the
    workload's kind against that store: the first data-source query of a
    session runs up to five times slower than the next. The first
    ``decode_table`` scan and the first aggregate (about 1.3 times slower
    than the next) are left to the timed steps, the same in every run.
    """
    table = ds.table.slice(0, ds.table.num_rows // 4)
    kw = dict(ds.encode_kwargs, target_bytes=ds.encode_kwargs["target_bytes"] // 4)
    warm = Dataset(table, os.path.join(run.work, "warm.parquet"), kw, ds.keys)
    pq.write_table(table, warm.path)
    run.job("setup:warm-up")
    root = run.new_root("warm")
    encode(run, warm, run.spark.read.parquet(warm.path), root)
    run_queries(run, [next(q for q in w.queries(run, warm, root) if q.kind == "sql")],
                timed=False)
    shutil.rmtree(root)


@dataclasses.dataclass
class Workload:
    """What a workload runs: its input and its query cycle. ``seconds``
    extends the loop named by ``timed``; the other runs its minimum."""

    dataset: object  # (Run) -> (Dataset, median build seconds)
    queries: object  # (Run, Dataset, store root) -> list[Query]
    timed: str  # "roundtrips" or "cycles"


def run_workload(run: Run, w: Workload, session_s: float) -> None:
    """Set-up, timed round-trips, verification of the last store, timed
    query cycles against it."""
    ds, build_s = w.dataset(run)
    t0 = time.perf_counter()
    warm_up(run, w, ds)
    df = run.spark.read.parquet(ds.path)
    run.samples["setup_s"].append(session_s + build_s + time.perf_counter() - t0)

    last = {"root": None}

    def roundtrip():
        # every round-trip writes the same store (pids and blobs are pure
        # functions of the data), so only the last one is kept
        if last["root"] is not None:
            shutil.rmtree(last["root"])
        root = last["root"] = run.new_root("rt")
        run.job("measure:encode")
        enc = run.measure("encode", lambda: encode(run, ds, df, root))
        run.job("measure:decode")
        return enc, [run.measure("decode", lambda: decode_scan(run, root)) for _ in range(2)]

    mb = ds.raw_bytes / 1e6
    measured, n_rt = 0.0, 0
    while n_rt < MIN_ROUNDTRIPS or (w.timed == "roundtrips" and measured < run.seconds):
        (enc_wall, rows), scans = run.timed_op("roundtrip", roundtrip)
        n_rt += 1
        measured += enc_wall + sum(wall for wall, _n in scans)
        run.samples["encode_mbps"].append(mb / enc_wall)
        run.samples["encode.partitions"].append(len({r["pid"] for r in rows}))
        run.samples["encode.kernel_s"].append(sum(r["encode_s"] for r in rows))
        run.samples["decode_mbps"] += [mb / wall for wall, _n in scans]
        ns = [n for _wall, n in scans]
        run.check(ns == [ds.table.num_rows] * 2, f"round-trip decoded {ns} rows")
    root = last["root"]
    verify(run, ds, root, df)
    store_sizes(run, ds, root)

    t1, cycles = time.perf_counter(), 0
    while cycles < MIN_CYCLES or (w.timed == "cycles" and time.perf_counter() - t1 < run.seconds):
        run_queries(run, w.queries(run, ds, root), timed=True)
        cycles += 1
    if run.trace:
        with run.traced():
            passthrough(run, ds, df)
            replay_roundtrip(run, ds, root)
    shutil.rmtree(root)


def passthrough(run: Run, ds: Dataset, df) -> None:
    """The encode job's plan_partitions + repartition + canonical sort +
    mapInArrow boundary with a consume-only kernel: the floor no codec
    change can lower (the same control as bench_extra.py)."""
    from parzig_spark.operators.encode import plan_partitions

    kw = ds.encode_kwargs
    run.job("passthrough")
    t0 = time.perf_counter()
    with_pid, n_buckets = plan_partitions(
        df, kw["group_cols"], kw["salt_cols"], kw["target_bytes"], kw.get("size_col"))
    shuffled = with_pid.repartition(n_buckets, "pid").sortWithinPartitions(
        F.col("pid").asc(), *[F.col(c).asc_nulls_last() for c in kw["sort_cols"]])

    def consume(batches):
        n = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pylist([{"n": n}], schema=pa.schema([("n", pa.int64())]))

    n = shuffled.mapInArrow(consume, schema="n long").agg(F.sum("n")).first()[0]
    run.samples["spark.passthrough_s"].append(time.perf_counter() - t0)
    run.check(n == ds.table.num_rows, f"passthrough saw {n} rows")


def _manifest_rows(root: str) -> dict[int, dict[str, dict]]:
    from parzig_spark.plans.manifest import ManifestStore

    t = pq.read_table(ManifestStore(root).fresh_snapshot(), columns=["pid", "column", "meta_json"])
    rows: dict[int, dict[str, dict]] = defaultdict(dict)
    for r in t.to_pylist():
        rows[int(r["pid"])][r["column"]] = r
    return rows


def replay_roundtrip(run: Run, ds: Dataset, root: str) -> None:
    """Re-run one round-trip's per-partition work in this process through
    the engine's own kernels: codec planning on a sample (as
    ``encode_table`` does when it plans more than one bucket), then for each
    stored partition ``decode_pid_rows`` followed by
    ``encode_partition_arrays`` + ``write_partition`` into a scratch store."""
    from parzig_spark.operators.decode import decode_pid_rows, decoded_schema
    from parzig_spark.operators.encode import encode_partition_arrays
    from parzig_spark.plans.manifest import ManifestStore
    from parzig_spark.selector import choose_codec

    rec = run.rec
    cols, _ddl, casts = decoded_schema(ManifestStore(root), None)
    by_pid = _manifest_rows(root)
    out_root = run.new_root("replay")
    out = ManifestStore(out_root)
    plan, lineage = {}, {}
    with tracing.kernel_patches(rec):
        with rec.span("encode.plan"):
            if len(by_pid) > 1:
                sample = ds.table.slice(0, 8192)
                for c in cols:
                    with rec.span("selector.choose"):
                        codec, lin = choose_codec(sample.column(c))
                    plan[c] = codec
                    lineage[c] = json.dumps({"plan": "table_sample", **lin})
        for pid, by_col in by_pid.items():
            with rec.span("decode.partition"):
                table = pa.Table.from_batches(
                    list(decode_pid_rows(root, {pid: by_col}, cols, casts)))
            with rec.span("encode.partition"):
                rows, blobs = encode_partition_arrays(
                    out_root, pid, table, cols, codec_plan=plan or None,
                    plan_lineage=lineage or None,
                    page_values=ds.encode_kwargs.get("page_values"),
                )
                out.write_partition(pid, rows, blobs)
    shutil.rmtree(out_root)


# --------------------------------------------------------------- queries --

_SQL_OPS = {">=": ">=", "<": "<", "==": "="}
_SQL_AGGS = {
    "count": "count({})", "sum": "sum({})", "distinct": "count(DISTINCT {})",
    "sum_length": "sum(length({}))",
}


def _literal(v) -> str:
    if isinstance(v, str):
        if "'" in v or "\\" in v:
            raise ValueError(f"query literal needs escaping: {v!r}")
        return f"'{v}'"
    return str(int(v))


@dataclasses.dataclass
class Query:
    """One query, described once. ``kind`` picks the engine path
    (``lookup``: ``decode_table`` with predicates, then the WHERE;
    ``agg``: ``aggregate_store``; ``sql``: the ``parzig`` data source +
    WHERE). The same predicates and aggregates give the engine call, the
    SQL text, the data-source filters of the replay and the DuckDB query
    the expected answer comes from."""

    kind: str
    root: str
    predicates: list[tuple]  # (column, op, literal), op in _SQL_OPS
    aggs: list[tuple]  # (fn, column), fn in _SQL_AGGS
    expected: tuple = ()

    @property
    def where(self) -> str:
        return " AND ".join(f"{c} {_SQL_OPS[op]} {_literal(v)}" for c, op, v in self.predicates)

    @property
    def select(self) -> list[str]:
        return [_SQL_AGGS[fn].format(c) for fn, c in self.aggs]

    @property
    def columns(self) -> list[str]:
        used = [c for c, _op, _v in self.predicates] + [c for _fn, c in self.aggs if c != "*"]
        return list(dict.fromkeys(used))

    @property
    def sql(self) -> str:
        return f"SELECT {', '.join(self.select)} FROM src WHERE {self.where}"

    def ds_filters(self) -> list:
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

        ops = {">=": GreaterThanOrEqual, "<": LessThan, "==": EqualTo}
        return [ops[op]((c,), v) for c, op, v in self.predicates]


def with_answers(table: pa.Table, queries: list[Query]) -> list[Query]:
    """Fill each query's expected answer from DuckDB over the source table."""
    oracle = inputs.Oracle(table)
    try:
        for q in queries:
            q.expected = oracle.one(q.sql)
    finally:
        oracle.close()
    return queries


def execute(run: Run, q: Query) -> tuple:
    from parzig_spark.operators import aggregate_store, decode_table

    if q.kind == "agg":
        with run.rec.span("aggregate_store"):
            return _first_row(aggregate_store(run.spark, q.root, q.aggs, predicates=q.predicates))
    if q.kind == "lookup":
        with run.rec.span("decode_table"):
            dec = decode_table(run.spark, q.root, columns=q.columns, predicates=q.predicates)
        return _first_row(dec.where(q.where).selectExpr(*q.select))
    with run.rec.span("datasource.read"):
        df = run.spark.read.format("parzig").option("columns", ",".join(q.columns)).load(q.root)
        return _first_row(df.where(q.where).selectExpr(*q.select))


def run_queries(run: Run, queries: list[Query], timed: bool) -> None:
    for q in queries:
        run.job(f"measure:{q.kind}" if timed else "setup")
        if timed:
            wall, got = run.timed_op(q.kind, lambda: run.measure(q.kind, lambda: execute(run, q)))
            run.samples[f"{q.kind}_ms"].append(wall * 1000.0)
        else:
            got = execute(run, q)
        run.check(_same(got, q.expected),
                  f"{q.kind} {q.sql} on {q.root}: got {got}, expected {q.expected}")
        if timed and run.trace:
            with run.traced():
                replay_query(run, q)


def _same(got: tuple, expected: tuple) -> bool:
    def norm(row):
        return tuple(0 if v is None else int(v) for v in row)

    return norm(got) == norm(expected)


def _first_row(df) -> tuple:
    return tuple(df.collect()[0])


def lineitem_queries(run: Run, ds: Dataset, root: str) -> list[Query]:
    """Two of each kind: a key-range lookup (min/max + page skipping) and
    a point lookup on the uncorrelated l_partkey (blooms), COUNT/SUM under
    two range predicates, and a SQL range and a SQL point WHERE through
    the data source."""
    t = ds.table
    max_key = pc.max(t.column("l_orderkey")).as_py()
    width = max(64, max_key // 50)

    def key_range(w: int) -> list[tuple]:
        lo = int(run.rng.integers(0, max_key - w))
        return [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + w)]

    def part() -> list[tuple]:
        return [("l_partkey", "==", t.column("l_partkey")[int(run.rng.integers(0, t.num_rows))].as_py())]

    return with_answers(t, [
        Query("lookup", root, key_range(width), [("count", "*"), ("sum", "l_partkey")]),
        Query("lookup", root, part(), [("count", "*"), ("sum", "l_orderkey")]),
        *(Query("agg", root, key_range(4 * width), [("count", "*"), ("sum", "l_suppkey")])
          for _ in range(2)),
        Query("sql", root, key_range(width), [("count", "*"), ("sum", "l_suppkey")]),
        Query("sql", root, part(), [("count", "*"), ("sum", "l_suppkey")]),
    ])


def corpus_queries(run: Run, ds: Dataset, root: str) -> list[Query]:
    """Two of each kind: commit point lookups (blooms on an uncorrelated
    hex column); COUNT and COUNT(DISTINCT lang) for the mega-repo (whose
    salted partitions answer from metadata) and for a seeded repo (whose
    partition decodes); SQL lang and repo filters through the data
    source."""
    t = ds.table
    repos = sorted(set(t.column("repo").to_pylist()))
    langs = sorted(set(t.column("lang").to_pylist()))
    mega = Counter(t.column("repo").to_pylist()).most_common(1)[0][0]

    def pick(values):
        return values[int(run.rng.integers(0, len(values)))]

    def commit():
        return t.column("commit")[int(run.rng.integers(0, t.num_rows))].as_py()

    return with_answers(t, [
        *(Query("lookup", root, [("commit", "==", commit())],
                [("count", "*"), ("sum_length", "content")]) for _ in range(2)),
        *(Query("agg", root, [("repo", "==", repo)], [("count", "*"), ("distinct", "lang")])
          for repo in (mega, pick(repos))),
        Query("sql", root, [("lang", "==", pick(langs))], [("count", "*"), ("distinct", "repo")]),
        Query("sql", root, [("repo", "==", pick(repos))], [("count", "*"), ("distinct", "lang")]),
    ])


_ROW_OPS = {">=": np.greater_equal, "<": np.less, "==": np.equal}


def replay_query(run: Run, q: Query) -> None:
    """One query's planning and decode work, replayed in this process:
    data-source planning (``ParzigReader`` + ``pushFilters`` +
    ``partitions``) for SQL queries; the aggregate's plan
    (``return_plan=True``) for aggregates; manifest pruning, then
    ``decode_pid_rows`` with page skipping, for ``decode_table`` lookups."""
    rec = run.rec
    if q.kind == "sql":
        from parzig_spark.sources.datasource import ParzigReader

        with rec.span("datasource.plan"):
            reader = ParzigReader({"path": q.root}, q.columns)
            reader.pushFilters(q.ds_filters())
            parts = reader.partitions()
        run.samples["datasource.partitions_planned"].append(len(parts))
        return
    if q.kind == "agg":
        from parzig_spark.operators import aggregate_store

        run.job("replay")
        _df, plan = aggregate_store(run.spark, q.root, q.aggs, predicates=q.predicates,
                                    return_plan=True)
        answered = plan["pids_metadata"] + plan["pids_decoded"]
        run.samples["aggregate.metadata_frac"].append(
            plan["pids_metadata"] / answered if answered else 1.0)
        return
    from parzig_spark.operators.decode import decode_pid_rows, decoded_schema, prune_manifests
    from parzig_spark.plans.manifest import ManifestStore

    store = ManifestStore(q.root)
    by_pid = _manifest_rows(q.root)
    run.job("replay")
    manifests = run.spark.read.parquet(store.fresh_snapshot()).select(
        "pid", "column", "meta_json", "stat_min", "stat_max",
        "stat_bloom", "stat_bloom_dom", "stat_distinct",
    )
    survivors = sorted(
        r["pid"] for r in prune_manifests(manifests, q.predicates).select("pid").distinct().collect()
    )
    cols, _ddl, casts = decoded_schema(store, None)
    decoded = useful = 0
    with tracing.kernel_patches(rec):
        for pid in survivors:
            with rec.span("decode.partition"):
                batches = list(decode_pid_rows(q.root, {pid: by_pid[pid]}, cols, casts,
                                               predicates=q.predicates))
            for b in batches:
                decoded += b.num_rows
                mask = np.ones(b.num_rows, dtype=bool)
                for col, op, val in q.predicates:
                    mask &= _ROW_OPS[op](b.column(col).to_numpy(zero_copy_only=False), val)
                useful += int(mask.sum())
    run.samples["decode.partitions_read"].append(len(survivors))
    run.samples["decode.partitions_pruned"].append(len(by_pid) - len(survivors))
    run.samples["decode.rows_useful_frac"].append(useful / decoded if decoded else 1.0)


WORKLOADS = {
    "corpus_roundtrip": Workload(corpus_dataset, corpus_queries, "roundtrips"),
    "store_queries": Workload(store_dataset, lineitem_queries, "cycles"),
}
