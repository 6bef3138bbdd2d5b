"""Check the ``store_queries`` generator against a lineitem parquet file.

    python3 perfbench/compare_lineitem.py path/to/lineitem.parquet --seed 1

Generates ``inputs.lineitem_table`` with the file's row count, then for the
file and the generated table prints, per column, the distinct count, the
codec the engine chose (most common over partitions) and encoded / raw
bytes; and, per store, the partition count, ``stored_bytes_ratio`` and
``size_vs_parquet``. Both stores are built exactly as the ``store_queries``
workload builds its store (``SIZES["full"]`` layout).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from collections import Counter, defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def profile(spark, table, root: str, size: dict) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from parzig_spark.operators import encode_table
    from parzig_spark.plans.manifest import ManifestStore

    from perfbench import inputs, workloads as wl

    table = wl.banded(table, size)
    path = root + ".parquet"
    pq.write_table(table, path)
    rows = encode_table(spark.read.parquet(path), root, resume=False,
                        **wl.store_encode_kwargs(size)).collect()
    ManifestStore(root).fresh_snapshot()  # the first read writes it; the workload counts it
    codecs, enc, raw = defaultdict(Counter), Counter(), Counter()
    for r in rows:
        codecs[r["column"]][r["codec"]] += 1
        enc[r["column"]] += r["enc_bytes"]
        raw[r["column"]] += r["raw_bytes"]
    out = {
        "partitions": len({r["pid"] for r in rows}),
        "stored_bytes_ratio": wl._dir_bytes(root) / table.nbytes,
        "size_vs_parquet": wl._dir_bytes(os.path.join(root, "blobs"))
        / inputs.parquet_reference_bytes(table),
        "columns": {
            c: (pc.count_distinct(table.column(c)).as_py(), codecs[c].most_common(1)[0][0],
                enc[c] / raw[c])
            for c in table.column_names
        },
    }
    shutil.rmtree(root)
    os.remove(path)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parquet")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    import pyarrow.parquet as pq

    from perfbench import harness, inputs, workloads as wl

    work = os.path.join(harness.WORK, f"compare-{os.getpid()}")
    harness.prepare_env(work)
    spark = harness.start_spark()
    try:
        ref = pq.read_table(args.parquet)
        gen = inputs.lineitem_table(args.seed, ref.num_rows)
        size = wl.SIZES["full"]
        a = profile(spark, ref, os.path.join(work, "file"), size)
        b = profile(spark, gen, os.path.join(work, "generated"), size)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"| column | distinct: file / seed {args.seed} | codec: file / seed {args.seed} "
          f"| encoded/raw: file / seed {args.seed} |")
    print("|---|---|---|---|")
    for c, (nd, codec, ratio) in a["columns"].items():
        nd2, codec2, ratio2 = b["columns"][c]
        print(f"| `{c}` | {nd} / {nd2} | {codec} / {codec2} | {ratio:.3f} / {ratio2:.3f} |")
    for k in ("partitions", "stored_bytes_ratio", "size_vs_parquet"):
        print(f"| {k} | {a[k]:.4g} / {b[k]:.4g} | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
