"""SparkSession factory with the engine's standard configuration.

Local-mode testing (local[N], one JVM) per sandbox; the same settings are the
ones that matter on a multi-executor cluster: AQE for runtime re-planning and
skew-join splitting, Arrow batches for the ``mapInArrow`` stages and the
``parzig`` Python data source that run the encode/decode kernels, shuffle
partitions sized to parallelism instead of the 200 default.

It also holds the two rules for the engine's Python tasks: how many run per
stage (:func:`task_slots`) and the lazy zip-archive invalidation installed
in every Spark Python worker that runs engine code
(:func:`lazy_zip_invalidation`); and the one way a driver-side table
reaches Spark (:func:`arrow_frame`).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def task_slots(spark: SparkSession) -> int:
    """The most Python tasks any engine stage runs: one wave of the
    session's task slots (``defaultParallelism // spark.task.cpus``).

    Every Python task pays a fixed cost before engine code runs: the
    JVM<->Python handshake and, on the first task of each worker, the
    worker's own start-up and the zip index reads that
    :func:`lazy_zip_invalidation` spares the later tasks. So a stage's
    pids are dealt into at most this many tasks and that cost is paid per
    core slot, not per pid. Spark's own file scans pack their splits
    toward ``defaultParallelism`` the same way."""
    # spark.conf reads the one key in one call; sparkContext.getConf()
    # copies the whole conf key by key (~20 ms idle, more under load)
    cpus = int(spark.conf.get("spark.task.cpus", "1"))
    return max(1, spark.sparkContext.defaultParallelism // cpus)


def arrow_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """``rows`` as a DataFrame of the Arrow ``schema``, handed to Spark as
    an Arrow table. ``createDataFrame`` of an Arrow table is a
    LocalRelation and runs no Spark job; of a Python list it goes through
    ``parallelize`` + ``applySchemaToPythonRDD``, so every action on the
    result runs a job of Python tasks to unpickle the rows."""
    # imported here: every Spark Python worker imports this module first
    # (parzig_spark/__init__.py), before the lazy zip invalidation is in
    import pyarrow as pa

    return spark.createDataFrame(
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    )


def lazy_zip_invalidation() -> None:
    """Give this process CPython 3.13's lazy zip-archive invalidation.

    Spark's Python worker calls ``importlib.invalidate_caches()`` before
    every task and every data-source planner call
    (``pyspark.worker_util.setup_spark_files``). Below 3.13,
    ``zipimporter.invalidate_caches`` re-reads its archive's whole
    directory at once, for each cached importer: a worker holds 16 of them
    over ``pyspark.zip``, the py4j zip and the spark-core jar, about 0.24 s
    per task. From 3.13 it only drops the archive's entry from the shared
    directory cache, and the next lookup re-reads the archive once.

    Below 3.13 this gives ``zipimport.zipimporter`` itself the same
    behaviour, so every importer, cached or made later, is lazy: its
    directory (``_files``) is read from the shared cache, re-read on the
    first lookup after an invalidation, and ``invalidate_caches`` only
    drops the cached entry. ``_files`` is a data descriptor, so it takes
    precedence over the copy ``__init__`` left in each existing importer's
    ``__dict__``; the first invalidation drops that copy. An archive that
    changes is still re-read before the next import from it. A second call
    does nothing; on 3.13 and later it is a no-op.
    ``parzig_spark/__init__.py`` calls it only inside a Spark Python
    worker."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    cls = zipimport.zipimporter
    if isinstance(cls.__dict__.get("_files"), property):
        return

    def files(self):
        directory = zipimport._zip_directory_cache.get(self.archive)
        if directory is None:
            try:
                directory = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = directory
        return directory

    def keep_shared(self, directory):
        # zipimporter.__init__ assigns the directory it has just put in
        # the shared cache; the getter reads it from there
        pass

    def invalidate_caches(self):
        self.__dict__.pop("_files", None)
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._files = property(files, keep_shared)
    cls.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "parzig_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    task_cpus: int | None = None,
) -> SparkSession:
    cores = cpu_count()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or cores
    if task_cpus is None:
        # Measured on this host: >16 concurrent Arrow/python workers collapse
        # throughput (kernel page-fault serialization under the sandbox VM —
        # sha-over-200MB goes 1.4s@16 → 6.5s@32 workers). Cap concurrent
        # tasks to ≤16 per host via task.cpus; on a real cluster the same
        # knob sizes worker concurrency to memory bandwidth per executor.
        if master.startswith("local-cluster"):
            n = 1  # per-executor cores are small; one task per core
        else:
            try:
                n = int(master.split("[")[1].rstrip("]*")) if "[" in master else cores
            except ValueError:
                n = cores
        task_cpus = int(os.environ.get("SPARK_GRAFT_TASK_CPUS", max(1, -(-n // 16))))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): no sort of either side; measured 2.0s ->
        # 1.0s on the lineitem-orders join lane. The planner still guards
        # the build side by size (falls back to sort-merge when a local
        # hash map would not fit), so this stays safe at cluster scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # the parzig Python data source plans its own partition pruning in
        # pushFilters (sources/datasource.py) — default-off in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.task.cpus", str(task_cpus))
    )
    if master.startswith("local-cluster"):
        # Multi-process executors (the closest this sandbox gets to real
        # N→4N executors): worker JVMs need the repo on their python path
        # and enough python-worker memory headroom.
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", repo + (os.pathsep + extra if extra else "")
        ).config(
            # executors request spark.executor.memory, NOT the worker-mem
            # field of the master string (default 1g OOMs real workloads)
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "8g"),
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
