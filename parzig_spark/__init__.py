"""parzig_spark — a PySpark-native per-column lightweight-compression engine.

A from-scratch re-creation (NOT a port) of the encoding semantics exercised by
the reference Parquet decoder (unexge/parzig, /root/reference), expressed
Spark-first:

- pure numpy/pyarrow encode+decode kernels (``parzig_spark.codecs``) for
  PLAIN, RLE/bit-packed hybrid, dictionary, delta/frame-of-reference,
  delta-length strings, and FSST (from the public VLDB'20 paper — not in the
  reference, required by the north star);
- a sampled-stats codec auto-selector (``parzig_spark.selector``);
- partition-parallel encode/decode DataFrame transforms whose Python stages
  are Arrow ``mapInArrow`` tasks or the ``parzig`` Python data source
  (``parzig_spark.operators``, ``parzig_spark.sources``), with explicit
  repartitioning + salting for skew;
- a manifest checkpoint store with atomic per-partition commit markers and
  anti-join resume (``parzig_spark.plans.manifest``), plus the store
  operators over it (time travel, refs, WAP, CDC, delete, upsert, compact);
- a Structured Streaming front-end that encodes each micro-batch
  (``parzig_spark.streaming``).

Reference parity citations use file:line into /root/reference.
"""

import sys as _sys

__version__ = "0.1.0"

# Inside a Spark Python worker (an executor task or a data-source planner
# call), setup_spark_files has set SparkFiles._is_running_on_worker before
# the engine code that imports this package is unpickled: install the lazy
# zip-archive invalidation there, once per worker process. Read through
# sys.modules so that importing the package on the driver pulls in no
# pyspark and patches nothing.
_files = _sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    from parzig_spark.session import lazy_zip_invalidation

    lazy_zip_invalidation()
del _files
