"""Probe the fixed cost of a Spark job on this host: the floor every engine
stage pays before any engine work.

    python jobs/probe_task_floor.py

On ``local[<cores>]`` through ``session.get_spark`` (a 1g driver heap, as
the benchmark uses) it times, after one untimed warm-up round, ``REPEATS`` (8)
rounds of each of:

- ``jvm_4_tasks``: a JVM-only job of 4 tasks (``spark.range`` to the noop
  sink);
- ``arrow_1_task`` / ``arrow_slots_tasks``: an empty ``mapInArrow`` job of
  1 and of ``session.task_slots`` Python tasks;
- ``datasource_count``: ``COUNT(*)`` through the ``parzig`` data source
  over a one-pid store (planner calls plus one read task).

and prints each probe's median, min and max in seconds, then one JSON line
of the medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import parzig_spark  # noqa: E402

REPEATS = 8


def _empty(batches, _package=parzig_spark):
    # the default is pickled as an import of the package, as every engine
    # stage's function refers to the package: a worker's first task imports
    # it, and so installs what the package installs in Spark workers
    for _ in batches:
        pass
    return iter(())


def main() -> None:
    from pyspark.sql import functions as F

    from parzig_spark.operators import encode_table
    from parzig_spark.session import get_spark, task_slots
    from parzig_spark.sources.datasource import register_datasource

    spark = get_spark(app_name="probe_task_floor", driver_memory="1g")
    register_datasource(spark)
    slots = task_slots(spark)
    master = spark.sparkContext.master

    with tempfile.TemporaryDirectory(prefix="probe_task_floor_") as tmp:
        root = os.path.join(tmp, "store")
        src = spark.range(0, 1000).select(
            F.lit(0).alias("grp"), F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        encode_table(src, root, group_cols=["grp"], resume=False).collect()
        spark.read.format("parzig").load(root).createOrReplaceTempView("probe_store")

        def arrow(n):
            return lambda: spark.range(n, numPartitions=n).mapInArrow(_empty, "id long").collect()

        def count():
            return spark.sql("SELECT COUNT(*) FROM probe_store").collect()[0][0]

        probes = {
            "jvm_4_tasks": lambda: spark.range(0, 4, 1, 4).write.format("noop").mode("overwrite").save(),
            "arrow_1_task": arrow(1),
            "arrow_slots_tasks": arrow(slots),
            "datasource_count": count,
        }
        if count() != 1000:
            raise SystemExit("probe_task_floor: the one-pid store does not count 1000 rows")
        times = {name: [] for name in probes}
        for rep in range(REPEATS + 1):  # round 0 warms up, untimed
            for name, probe in probes.items():
                t0 = time.perf_counter()
                probe()
                if rep:
                    times[name].append(time.perf_counter() - t0)
    spark.stop()

    medians = {}
    print(f"{master} task_slots={slots} repeats={REPEATS}")
    for name, ts in times.items():
        medians[name] = round(statistics.median(ts), 3)
        print(f"{name:>18}: median {medians[name]:.3f} s  (min {min(ts):.3f}, max {max(ts):.3f})")
    print(json.dumps({"master": master, "task_slots": slots, "repeats": REPEATS, "median_s": medians}))


if __name__ == "__main__":
    main()
