"""Native Iceberg reader/writer + pure-Python Avro codec.

The Avro layer is verified cross-implementation against the JVM's
org.apache.avro 1.12 (on the Spark classpath) in BOTH directions, plus
byte-level goldens from the Avro spec's varint table. The bucket-transform
murmur3 is pinned against the Iceberg spec's Appendix B test vectors — so
neither layer is merely self-consistent.
"""

import datetime
import json
import os
import re
import shutil
import struct

import pytest

from data_validation_spark.io.avro import (
    _Decoder,
    _Encoder,
    read_avro_file,
    write_avro_file,
)
from data_validation_spark.io import iceberg_native as ice


# --------------------------------------------------------------------------
# Avro binary encoding
# --------------------------------------------------------------------------
def test_varint_zigzag_spec_goldens():
    # avro spec "Binary encoding > primitive types" example table
    cases = [
        (0, b"\x00"),
        (-1, b"\x01"),
        (1, b"\x02"),
        (-2, b"\x03"),
        (2, b"\x04"),
        (-64, b"\x7f"),
        (64, b"\x80\x01"),
        (8192, b"\x80\x80\x01"),
        (-8193, b"\x81\x80\x01"),
        (-(2**63), bytes([0xFF] * 9 + [0x01])),
        (2**63 - 1, bytes([0xFE] + [0xFF] * 8 + [0x01])),
    ]
    for v, expect in cases:
        e = _Encoder()
        e.write_long(v)
        assert e.getvalue() == expect, (v, e.getvalue().hex())
        assert _Decoder(expect).read_long() == v


COMPLEX_SCHEMA = {
    "type": "record",
    "name": "T",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"]},
        {"name": "c", "type": {"type": "array", "items": "double"}},
        {"name": "d", "type": {"type": "map", "values": "bytes"}},
        {"name": "e", "type": {"type": "fixed", "name": "F", "size": 3}},
        {"name": "g", "type": {"type": "enum", "name": "E", "symbols": ["X", "Y"]}},
        {"name": "h", "type": {"type": "record", "name": "Sub",
                               "fields": [{"name": "x", "type": "int"}]}},
        {"name": "i", "type": ["null", "Sub"]},  # named-type reference
    ],
}


def _complex_records(n):
    return [
        {
            "a": i - 3,
            "b": None if i % 2 else f"s{i}",
            "c": [1.5, i * 0.25],
            "d": {"k": b"\x00\x01", f"k{i}": b""},
            "e": b"abc",
            "g": "Y" if i % 3 else "X",
            "h": {"x": -i},
            "i": None if i % 4 else {"x": i},
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_roundtrip_complex(tmp_path, codec):
    recs = _complex_records(2500)  # >1 block at default block_records=1000
    p = str(tmp_path / f"t_{codec}.avro")
    write_avro_file(p, COMPLEX_SCHEMA, recs, codec=codec)
    meta, schema, out = read_avro_file(p)
    assert out == recs
    assert meta["avro.codec"] == codec.encode()


def test_avro_jvm_cross_verification(spark, tmp_path):
    """Python-written files read by Apache's Java Avro, and vice versa."""
    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "X",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": {"type": "array", "items": "double"}},
        ],
    }
    recs = [{"a": 7, "b": "hi", "c": [1.5, 2.25]}, {"a": -3, "b": None, "c": []}]
    py_path = str(tmp_path / "py.avro")
    write_avro_file(py_path, schema, recs, codec="deflate")

    dr = jvm.org.apache.avro.generic.GenericDatumReader()
    fr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(py_path), dr)
    java_read = []
    while fr.hasNext():
        java_read.append(json.loads(str(fr.next())))
    fr.close()
    assert java_read == recs

    jsch = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    rec = jvm.org.apache.avro.generic.GenericData.Record(jsch)
    rec.put("a", jvm.java.lang.Long(42))
    rec.put("b", "java")
    arr = jvm.java.util.ArrayList()
    arr.add(jvm.java.lang.Double(3.5))
    rec.put("c", arr)
    dw = jvm.org.apache.avro.generic.GenericDatumWriter(jsch)
    fw = jvm.org.apache.avro.file.DataFileWriter(dw)
    fw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    java_path = str(tmp_path / "java.avro")
    fw.create(jsch, jvm.java.io.File(java_path))
    fw.append(rec)
    fw.close()
    _, _, py_read = read_avro_file(java_path)
    assert py_read == [{"a": 42, "b": "java", "c": [3.5]}]


# --------------------------------------------------------------------------
# bucket transform: Iceberg spec Appendix B test vectors
# --------------------------------------------------------------------------
def test_murmur3_bucket_spec_vectors():
    h = ice._bucket_hash
    assert h(34) == 2017239379  # int and long hash identically
    days = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
    assert h(days) == -653330422  # date 2017-11-16
    micros_t = (22 * 3600 + 31 * 60 + 8) * 1_000_000
    assert h(micros_t) == -662762989  # time 22:31:08
    micros_ts = int(
        (datetime.datetime(2017, 11, 16, 22, 31, 8) - datetime.datetime(1970, 1, 1)).total_seconds()
        * 1_000_000
    )
    assert h(micros_ts) == -2047944441  # timestamp 2017-11-16T22:31:08
    assert h("iceberg") == 1210000089
    assert h(bytes([0, 1, 2, 3])) == -188683207  # fixed/binary

    # bucket value = (hash & Integer.MAX_VALUE) % N
    assert ice.bucket_transform(34, 16) == (2017239379 & 0x7FFFFFFF) % 16
    assert ice.bucket_transform(None, 16) is None


def test_partition_transforms():
    t = ice.apply_transform
    assert t("identity", "x") == "x"
    # spec: truncate is floor-based for negative integers
    assert t("truncate[10]", 1) == 0
    assert t("truncate[10]", -1) == -10
    assert t("truncate[3]", "iceberg") == "ice"
    assert t("day", datetime.date(1970, 1, 2)) == 1
    assert t("year", datetime.date(2017, 11, 16)) == 47
    assert t("month", datetime.date(2017, 11, 16)) == (2017 - 1970) * 12 + 10
    assert t("hour", 3_600_000_000) == 1  # int literal = MICROS from epoch
    assert t("hour", datetime.datetime(1970, 1, 2, 5, 0, 0)) == 29
    assert t("void", 123) is None
    assert t("identity", None) is None
    with pytest.raises(ValueError):
        t("unknownsform[3]", 1)


# --------------------------------------------------------------------------
# table write / read / time travel / pruning
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def ice_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("iceberg") / "tbl")
    df1 = spark.range(0, 300).selectExpr(
        "concat('img', id) as image_id",
        "cast(id % 5 as int) as day_id",
        "cast(id * 2 as double) as v",
    )
    ice.write_table(spark, df1, root, partition_by=["day_id"])
    df2 = spark.range(300, 400).selectExpr(
        "concat('img', id) as image_id",
        "cast(id % 5 as int) as day_id",
        "cast(id * 2 as double) as v",
    )
    ice.append_table(spark, df2, root)
    return root


def test_write_read_parity(spark, ice_table):
    back = ice.read_table(spark, ice_table)
    assert back.count() == 400
    assert sorted(back.columns) == ["day_id", "image_id", "v"]
    assert back.selectExpr("sum(v) s").first()["s"] == sum(i * 2.0 for i in range(400))
    assert back.select("image_id").distinct().count() == 400


def test_time_travel(spark, ice_table):
    assert ice.read_table(spark, ice_table, snapshot_id=1).count() == 300
    log = ice.snapshot_log(ice_table)
    assert [s["snapshot-id"] for s in log] == [1, 2]
    ts1 = log[0]["timestamp-ms"]
    assert ice.read_table(spark, ice_table, as_of_timestamp=ts1).count() == 300
    with pytest.raises(ValueError):
        ice.plan_files(ice_table, snapshot_id=99)
    with pytest.raises(ValueError):
        ice.plan_files(ice_table, as_of_timestamp=ts1 - 10_000)


def test_partition_pruning_is_file_level(spark, ice_table):
    all_files = ice.plan_files(ice_table)
    pruned = ice.plan_files(ice_table, partition_filter={"day_id": 3})
    assert 0 < len(pruned) < len(all_files)
    assert all(e.partition == {"day_id": 3} for e in pruned)
    df = ice.read_table(spark, ice_table, partition_filter={"day_id": 3})
    # identity partitioning → pruned files contain only that partition
    assert df.count() == df.filter("day_id = 3").count() == 80
    # record counts in manifests match parquet footers
    assert sum(e.record_count for e in all_files) == 400


def test_unknown_partition_filter_key_raises(ice_table):
    with pytest.raises(ValueError, match="neither a partition field"):
        ice.plan_files(ice_table, partition_filter={"day_idd": 3})


def test_pruning_empty_plan_keeps_schema(spark, ice_table):
    df = ice.read_table(spark, ice_table, partition_filter={"day_id": 99})
    assert df.count() == 0
    assert sorted(df.columns) == ["day_id", "image_id", "v"]
    _assert_local_relation(df)


def _assert_local_relation(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_table_partitions_for_ledger(ice_table):
    parts = ice.table_partitions(ice_table)
    assert sorted(p["day_id"] for p in parts) == [0, 1, 2, 3, 4]
    parts1 = ice.table_partitions(ice_table, snapshot_id=1)
    assert sorted(p["day_id"] for p in parts1) == [0, 1, 2, 3, 4]


def test_sources_read_iceberg_falls_back_to_native(spark, ice_table):
    from data_validation_spark import sources

    if sources.iceberg_available(spark):  # pragma: no cover - jar-present env
        pytest.skip("runtime jar present; native fallback not exercised")
    df = sources.read_iceberg(spark, ice_table, snapshot_id=1)
    assert df.count() == 300
    parts = sources.iceberg_partitions(spark, ice_table)
    assert sorted(parts) == [f"day_id={i}" for i in range(5)]
    with pytest.raises(RuntimeError):
        sources.read_iceberg(spark, "/tmp/definitely-not-a-table")


def test_bucket_partitioned_table(spark, tmp_path):
    root = str(tmp_path / "btbl")
    df = spark.range(0, 200).selectExpr(
        "concat('img', id) as image_id", "cast(id as double) as v"
    )
    ice.write_table(spark, df, root, partition_by=[("image_id", "bucket[4]")])
    back = ice.read_table(spark, root)
    assert back.count() == 200
    # equality predicate on the SOURCE column prunes through the transform
    target = "img37"
    expected_bucket = ice.bucket_transform(target, 4)
    pruned = ice.plan_files(root, partition_filter={"image_id": target})
    assert pruned and all(
        e.partition["image_id_bucket"] == expected_bucket for e in pruned
    )
    got = ice.read_table(spark, root, partition_filter={"image_id": target})
    assert got.filter(f"image_id = '{target}'").count() == 1
    # every row in the pruned read belongs to the target's bucket
    import pandas as pd  # noqa: F401

    rows = got.select("image_id").toPandas()["image_id"].tolist()
    assert all(ice.bucket_transform(r, 4) == expected_bucket for r in rows)


def test_truncate_partitioned_table(spark, tmp_path):
    root = str(tmp_path / "ttbl")
    df = spark.range(0, 50).selectExpr("cast(id - 25 as int) as k", "id as v")
    ice.write_table(spark, df, root, partition_by=[("k", "truncate[10]")])
    back = ice.read_table(spark, root)
    assert back.count() == 50
    pruned = ice.read_table(spark, root, partition_filter={"k": -1})
    ks = {r["k"] for r in pruned.collect()}
    assert -1 in ks and ks == set(range(-10, 0))  # exactly the [-10,0) file


def test_moved_table_rebases_paths(spark, ice_table, tmp_path):
    moved = str(tmp_path / "moved_tbl")
    shutil.copytree(ice_table, moved)
    df = ice.read_table(spark, moved)
    assert df.count() == 400
    assert all(e.path.startswith(moved) for e in ice.plan_files(moved))


def test_deleted_entries_skipped_and_delete_files_rejected(spark, tmp_path):
    root = str(tmp_path / "dtbl")
    df = spark.range(0, 20).selectExpr("id", "cast(id as double) as v")
    ice.write_table(spark, df, root)
    tm = ice.load_table(root)
    snap = tm.current_snapshot()
    _, _, manifests = read_avro_file(tm.rebase(snap["manifest-list"]))
    mpath = tm.rebase(manifests[0]["manifest_path"])
    _, schema, entries = read_avro_file(mpath)
    # mark the first file DELETED → its rows disappear from the plan
    deleted_rows = entries[0]["data_file"]["record_count"]
    entries[0]["status"] = 2
    write_avro_file(mpath, schema, entries)
    assert ice.read_table(spark, root).count() == 20 - deleted_rows

    # a delete MANIFEST whose entries claim to be data files is malformed:
    # fail loudly rather than reading delete parquet as table rows
    mlist_path = tm.rebase(snap["manifest-list"])
    _, _, mfs = read_avro_file(mlist_path)
    mf_schema = json.loads(json.dumps(ice._MANIFEST_FILE_SCHEMA))
    recs = [dict(m, content=0) for m in mfs] + [dict(mfs[0], content=1)]
    write_avro_file(mlist_path, mf_schema, recs)
    with pytest.raises(ValueError, match="malformed"):
        ice.plan_files(root)


def test_unpartitioned_table_and_double_create(spark, tmp_path):
    root = str(tmp_path / "utbl")
    df = spark.range(0, 10).selectExpr("id", "cast(id as string) as s")
    ice.write_table(spark, df, root)
    assert ice.read_table(spark, root).count() == 10
    assert ice.table_partitions(root) == [{}]
    with pytest.raises(ValueError):
        ice.write_table(spark, df, root)


# --------------------------------------------------------------------------
# north-rule composition: Iceberg image table → per-partition validation
# with ledger resume pinned to a snapshot
# --------------------------------------------------------------------------
def test_iceberg_partitioned_validation_with_resume(spark, tmp_path):
    from data_validation_spark.datagen import images_df
    from data_validation_spark.io.checkpoint import (
        CheckpointLedger,
        run_iceberg_partitioned,
    )
    from data_validation_spark.pipeline import default_image_schema

    root = str(tmp_path / "img_tbl")
    ice.write_table(spark, images_df(spark, 400, "clean", partitions=4),
                    root, partition_by=["fmt"])
    snap1 = ice.load_table(root).current_snapshot()["snapshot-id"]

    ledger_dir = str(tmp_path / "ledger")
    schema = default_image_schema()
    r1 = run_iceberg_partitioned(spark, root, schema, ledger_dir)
    fmts = {p["fmt"] for p in ice.table_partitions(root)}
    assert set(r1) == {f"fmt={f}" for f in fmts}
    assert all(rec.status == "ok" for rec in r1.values())
    assert all(rec.lineage["iceberg_snapshot_id"] == snap1 for rec in r1.values())

    # per-partition stats artifacts landed and row counts reconcile
    ledger = CheckpointLedger(ledger_dir)
    total = sum(rec.num_examples for rec in r1.values())
    assert total == 400

    # resume on the same table state: nothing re-runs
    assert run_iceberg_partitioned(spark, root, schema, ledger_dir) == {}

    # an append between runs must NOT change what a snapshot-pinned resume
    # validates: pin snap1 explicitly → still nothing to do
    ice.append_table(spark, images_df(spark, 100, "clean", partitions=2), root)
    assert run_iceberg_partitioned(
        spark, root, schema, ledger_dir, snapshot_id=snap1
    ) == {}

    # resume with NO explicit snapshot after the append: the ledger's
    # recorded snapshot is ADOPTED, so nothing silently re-validates (or
    # worse, silently skips changed partitions of the new snapshot)
    assert run_iceberg_partitioned(spark, root, schema, ledger_dir) == {}
    snap2 = ice.load_table(root).current_snapshot()["snapshot-id"]
    with pytest.raises(ValueError, match="fresh ledger"):
        run_iceberg_partitioned(spark, root, schema, ledger_dir, snapshot_id=snap2)

    # validating the NEW current snapshot re-runs every partition (the
    # appended files land in each fmt partition) into a fresh ledger
    r2 = run_iceberg_partitioned(spark, root, schema, str(tmp_path / "ledger2"))
    assert sum(rec.num_examples for rec in r2.values()) == 500
    ledger_rows = CheckpointLedger(str(tmp_path / "ledger2")).completed()
    snap2 = ice.load_table(root).current_snapshot()["snapshot-id"]
    assert all(
        row["lineage"]["iceberg_snapshot_id"] == snap2
        for row in ledger_rows.values()
    )


def test_add_column_preserves_schema_history(spark, tmp_path):
    """Schema evolution must COMMIT a new schema entry (schema-id = max+1,
    current-schema-id updated) and leave prior entries untouched, so
    pre-evolution snapshots' schema ids still resolve to the historical
    schema (regression: schema-id 0 was rewritten in place)."""
    root = str(tmp_path / "hist_tbl")
    df = spark.range(0, 10).selectExpr("id", "concat('c', id) as caption")
    ice.write_table(spark, df, root)
    old_schema = ice.load_table(root).schema()
    old_sid = old_schema.get("schema-id", 0)
    ice.add_column(root, "score", "double")
    tm = ice.load_table(root)
    sids = {s.get("schema-id", 0): s for s in tm.meta["schemas"]}
    assert set(sids) == {old_sid, old_sid + 1}
    assert tm.meta["current-schema-id"] == old_sid + 1
    # historical entry unchanged: no 'score' field in schema-id 0
    assert [f["name"] for f in sids[old_sid]["fields"]] == ["id", "caption"]
    assert "score" in [f["name"] for f in sids[old_sid + 1]["fields"]]
    assert tm.schema() is not None and "score" in [
        f["name"] for f in tm.schema()["fields"]
    ]
    # post-evolution snapshots stamp the evolved schema id
    ice.append_table(
        spark,
        spark.range(10, 12).selectExpr(
            "id", "concat('c', id) as caption", "cast(id as double) as score"
        ),
        root,
    )
    assert ice.load_table(root).current_snapshot()["schema-id"] == old_sid + 1


def test_positional_delete_sequence_condition(spark, tmp_path, monkeypatch):
    """A position delete applies only to data files with data_seq ≤ the
    delete's sequence number (spec): a data file (re-)registered at a HIGHER
    sequence keeps its rows even when an old delete file names the same
    path+pos (regression: deletes were previously applied unconditionally)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_path = str(tmp_path / "data_a.parquet")
    pq.write_table(
        pa.table({"id": pa.array([10, 11, 12], pa.int64())}), data_path
    )
    del_path = str(tmp_path / "del_a.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([data_path], pa.string()),
                "pos": pa.array([0], pa.int64()),
            }
        ),
        del_path,
    )
    schema = {"fields": [{"id": 1, "name": "id", "type": "long"}]}
    entry = ice.DataFileEntry(
        path=data_path, file_format="PARQUET", partition={},
        record_count=3, file_size_in_bytes=1, data_seq=5,
    )

    def rows(delete_seq):
        deletes = [
            ice.DeleteFileEntry(path=del_path, content=1, record_count=1,
                                seq=delete_seq)
        ]
        out = ice.read_files(spark, [entry], deletes, schema)
        return sorted(r["id"] for r in out.collect())

    for _path in _delete_paths(monkeypatch):
        assert rows(delete_seq=5) == [11, 12]   # del_seq ≥ data_seq → applies
        assert rows(delete_seq=7) == [11, 12]
        assert rows(delete_seq=3) == [10, 11, 12]  # older delete → file immune


def test_iceberg_ledger_refuses_foreign_table(spark, tmp_path):
    """A ledger dir reused across DIFFERENT tables must refuse to resume:
    run_partitioned's skip is by partition NAME, so same-named partitions
    (e.g. identical fmt= values) of another table would silently be skipped
    without this guard (regression for the cross-table lineage hole)."""
    from data_validation_spark.datagen import images_df
    from data_validation_spark.io.checkpoint import run_iceberg_partitioned
    from data_validation_spark.pipeline import default_image_schema

    root_a = str(tmp_path / "tbl_a")
    root_b = str(tmp_path / "tbl_b")
    ice.write_table(spark, images_df(spark, 120, "clean", partitions=2),
                    root_a, partition_by=["fmt"])
    ice.write_table(spark, images_df(spark, 120, "clean", partitions=2),
                    root_b, partition_by=["fmt"])
    ledger_dir = str(tmp_path / "shared_ledger")
    schema = default_image_schema()
    r1 = run_iceberg_partitioned(spark, root_a, schema, ledger_dir)
    assert r1  # table A fully validated into the ledger
    with pytest.raises(ValueError, match="different table"):
        run_iceberg_partitioned(spark, root_b, schema, ledger_dir)
    # same table still resumes cleanly
    assert run_iceberg_partitioned(spark, root_a, schema, ledger_dir) == {}


def test_add_column_schema_evolution(spark, tmp_path):
    """Spec add-column semantics: after evolving the schema, files written
    BEFORE the evolution surface the new column as NULL (the reader uses
    the declared schema, not per-file inference)."""
    root = str(tmp_path / "evo_tbl")
    df = spark.range(0, 30).selectExpr("id", "concat('c', id) as caption")
    ice.write_table(spark, df, root)
    v = ice.add_column(root, "quality_score", "double")
    assert v >= 2  # new metadata version committed
    back = ice.read_table(spark, root)
    assert "quality_score" in back.columns
    assert back.count() == 30
    assert back.filter("quality_score IS NULL").count() == 30
    assert dict(back.dtypes)["quality_score"] == "double"
    with pytest.raises(ValueError, match="already exists"):
        ice.add_column(root, "caption", "string")
    # appends after the evolution carry the column; old files still null
    df2 = spark.range(30, 40).selectExpr(
        "id", "concat('c', id) as caption", "cast(id as double) / 10 as quality_score"
    )
    ice.append_table(spark, df2, root)
    back2 = ice.read_table(spark, root)
    assert back2.count() == 40
    assert back2.filter("quality_score IS NULL").count() == 30
    assert back2.filter("quality_score IS NOT NULL").count() == 10


# --------------------------------------------------------------------------
# v2 merge-on-read: positional deletes
# --------------------------------------------------------------------------
def _delete_paths(monkeypatch):
    """Run the loop body once per positional-delete path: the driver-built
    scan filter (the tests' delete sets are far under the bound), then the
    anti-join, forced by a bound of 0. Yields the path's name."""
    yield "filter"
    with monkeypatch.context() as m:
        m.setattr(ice, "_FILTER_DELETE_BOUND", 0)
        yield "join"


def test_delete_rows_merge_on_read(spark, tmp_path, monkeypatch):
    for path in _delete_paths(monkeypatch):
        _delete_rows_merge_on_read(spark, str(tmp_path / path / "mor_tbl"))


def _delete_rows_merge_on_read(spark, root):
    df = spark.range(0, 200).selectExpr(
        "id", "cast(id % 4 as int) as day_id", "cast(id * 2 as double) as v"
    )
    ice.write_table(spark, df, root, partition_by=["day_id"])

    snap = ice.delete_rows(spark, root, "id % 10 = 3")
    assert snap == 2
    assert ice.load_table(root).format_version == 2
    back = ice.read_table(spark, root)
    assert back.count() == 180
    assert back.filter("id % 10 = 3").count() == 0
    assert back.selectExpr("sum(v) s").first()["s"] == sum(
        i * 2.0 for i in range(200) if i % 10 != 3
    )
    # time travel to the pre-delete snapshot still sees every row
    assert ice.read_table(spark, root, snapshot_id=1).count() == 200
    # partition pruning composes with delete application
    pruned = ice.read_table(spark, root, partition_filter={"day_id": 3})
    assert pruned.filter("id % 10 = 3").count() == 0
    assert pruned.count() == sum(1 for i in range(200) if i % 4 == 3 and i % 10 != 3)

    # a second delete stacks on the first
    assert ice.delete_rows(spark, root, "id < 5") == 3
    assert ice.read_table(spark, root).count() == 180 - sum(
        1 for i in range(5) if i % 10 != 3
    )
    # predicate matching nothing → no commit
    assert ice.delete_rows(spark, root, "id > 100000") is None

    # appends after a delete are unaffected by the old delete files
    df2 = spark.range(200, 220).selectExpr(
        "id", "cast(id % 4 as int) as day_id", "cast(id * 2 as double) as v"
    )
    ice.append_table(spark, df2, root)
    assert ice.read_table(spark, root).filter("id >= 200").count() == 20


def _find_node(node, name: str, join_type: str):
    if node.nodeName() == name and str(node.joinType()) == join_type:
        return node
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        return _find_node(node.plan(), name, join_type)  # AQE stages are leaves
    children = node.children().iterator()
    while children.hasNext():
        found = _find_node(children.next(), name, join_type)
        if found is not None:
            return found
    return None


def _deleted_rows_plan(spark, root):
    """Rows and executed plan of a read after deleting ``id % 10 = 3``."""
    df = spark.range(0, 200).selectExpr(
        "id", "cast(id % 4 as int) as day_id", "cast(id * 2 as double) as v"
    )
    ice.write_table(spark, df, root, partition_by=["day_id"])
    ice.delete_rows(spark, root, "id % 10 = 3")
    back = ice.read_table(spark, root).select("id", "v")
    rows = sorted((r["id"], r["v"]) for r in back.collect())
    assert rows == [(i, i * 2.0) for i in range(200) if i % 10 != 3]
    return back._jdf.queryExecution().executedPlan()


@pytest.mark.parametrize("broadcast_threshold", [None, "-1"])
def test_positional_delete_plan(spark, tmp_path, monkeypatch, broadcast_threshold):
    """On the anti-join path (forced here by a bound of 0) the file map is a
    local relation (no Python job on every action) and the delete side
    carries its file size, so Catalyst broadcasts a small delete set:
    BroadcastHashJoin LeftAnti with no shuffle on the data side. With
    broadcasts off the same read falls back to a shuffled anti-join; both
    give the rows of the delete tests."""
    monkeypatch.setattr(ice, "_FILTER_DELETE_BOUND", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if broadcast_threshold is not None:
        spark.conf.set(key, broadcast_threshold)
    try:
        adaptive = _deleted_rows_plan(spark, str(tmp_path / "mor_plan"))
        plan = adaptive.executedPlan()  # the final plan under AQE
    finally:
        spark.conf.set(key, old)

    text = plan.toString()
    assert "ExistingRDD" not in text and "LocalTableScan" in text
    if broadcast_threshold is None:
        anti = _find_node(plan, "BroadcastHashJoin", "LeftAnti")
        assert anti is not None, text
        data_side = anti.left().toString()
        assert "ShuffleQueryStage" not in data_side, text
        assert re.search(r"(?<!Broadcast)Exchange", data_side) is None, text
    else:
        assert _find_node(plan, "SortMergeJoin", "LeftAnti") is not None, text


def test_positional_delete_filter_plan(spark, tmp_path):
    """Under the bound, positional deletes are one filter on the data scan:
    no join, no broadcast, and the same rows as the join path."""
    text = _deleted_rows_plan(spark, str(tmp_path / "mor_filter_plan")).toString()
    assert "Join" not in text and "BroadcastExchange" not in text, text
    assert "Filter" in text, text


def test_deletes_apply_under_uri_escaped_paths(spark, tmp_path, monkeypatch):
    """Spark names data files URI-escaped in ``_metadata.file_path`` (a space
    as %20, '%' as %25, '+' as is); the plan holds them as written. Both
    sides must agree, or ``delete_rows`` matches nothing and the read keeps
    deleted rows (regression: a table root with a space or a '%' did)."""
    for path in _delete_paths(monkeypatch):
        _delete_rows_merge_on_read(spark, str(tmp_path / path / "a b %41 c+d 'q' é" / "tbl"))


def test_deleted_table_moves_and_ledger(spark, tmp_path):
    """Deletes survive a table move (path rebasing through the stored-path
    mapping) and flow through the per-partition ledger reads."""
    import shutil as _sh

    from data_validation_spark.datagen import images_df
    from data_validation_spark.io.checkpoint import run_iceberg_partitioned
    from data_validation_spark.pipeline import default_image_schema

    root = str(tmp_path / "mor_img")
    ice.write_table(spark, images_df(spark, 200, "clean", partitions=2),
                    root, partition_by=["fmt"])
    before = ice.read_table(spark, root).count()
    ice.delete_rows(spark, root, "w < 24")
    expect = ice.read_table(spark, root).count()
    assert expect < before

    moved = str(tmp_path / "mor_img_moved")
    _sh.copytree(root, moved)
    assert ice.read_table(spark, moved).count() == expect

    recs = run_iceberg_partitioned(
        spark, moved, default_image_schema(), str(tmp_path / "ledger")
    )
    assert sum(r.num_examples for r in recs.values()) == expect


def test_positional_deletes_add_no_jobs_to_partitioned_run(spark, tmp_path):
    """A small positional-delete snapshot costs a partitioned validation no
    Spark job: the run at the delete snapshot submits no more jobs than the
    run at the pre-delete snapshot (regression: the delete files' schema
    inference and each branch's broadcasts took 24 more jobs per call on the
    bench table), and leaves nothing persisted."""
    import uuid

    from data_validation_spark.datagen import images_df
    from data_validation_spark.io.checkpoint import run_iceberg_partitioned
    from data_validation_spark.pipeline import default_image_schema

    root = str(tmp_path / "pin_jobs")
    ice.write_table(spark, images_df(spark, 200, "clean", partitions=2), root,
                    partition_by=[("image_id", "bucket[2]")])
    assert len(ice.table_partitions(root)) == 2
    delete_snap = ice.delete_rows(spark, root, "image_id LIKE '%9'")
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()

    def jobs(snapshot_id):
        group = f"pin-{uuid.uuid4().hex[:8]}"
        persisted = set(sc._jsc.getPersistentRDDs().keys())
        sc.setJobGroup(group, "job count pin")
        try:
            run_iceberg_partitioned(
                spark, root, default_image_schema(),
                str(tmp_path / f"ledger-{snapshot_id}"), snapshot_id=snapshot_id,
            )
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        listener_bus.waitUntilEmpty()
        assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
        return len(sc.statusTracker().getJobIdsForGroup(group))

    before = jobs(1)
    assert 0 < jobs(delete_snap) <= before


def test_equality_deletes_with_sequence_ordering(spark, tmp_path):
    """Equality deletes remove matching rows from OLDER data files only:
    rows re-appended after the delete commit survive (spec sequence-number
    ordering), and positional deletes stack on top."""
    root = str(tmp_path / "eq_tbl")
    df = spark.range(0, 100).selectExpr(
        "id", "concat('img', id % 20) as image_id", "cast(id as double) as v"
    )
    ice.write_table(spark, df, root)
    keys = spark.createDataFrame([("img3",), ("img7",)], "image_id string")
    snap = ice.delete_rows_equality(spark, root, keys, ["image_id"])
    assert snap == 2 and ice.load_table(root).format_version == 2
    back = ice.read_table(spark, root)
    assert back.count() == 90
    assert back.filter("image_id in ('img3','img7')").count() == 0

    # re-append deleted keys AFTER the delete: they must survive
    df2 = spark.range(100, 104).selectExpr(
        "id", "'img3' as image_id", "cast(id as double) as v"
    )
    ice.append_table(spark, df2, root)
    back2 = ice.read_table(spark, root)
    assert back2.count() == 94
    assert back2.filter("image_id = 'img3'").count() == 4

    # pre-delete snapshot unaffected; positional deletes stack
    assert ice.read_table(spark, root, snapshot_id=1).count() == 100
    ice.delete_rows(spark, root, "id = 101")
    assert ice.read_table(spark, root).count() == 93

    # empty key set → no commit; unknown key column → loud error
    empty = spark.createDataFrame([], "image_id string")
    data_files = set(os.listdir(os.path.join(root, "data")))
    assert ice.delete_rows_equality(spark, root, empty, ["image_id"]) is None
    assert set(os.listdir(os.path.join(root, "data"))) == data_files
    with pytest.raises(ValueError, match="unknown key column"):
        ice.delete_rows_equality(spark, root, keys, ["nope"])


def test_delete_rows_skips_already_deleted_rows(spark, tmp_path):
    """delete_rows matches its predicate over the merge-on-read frame: rows
    an earlier positional or equality delete removed are not deleted
    again, so a repeated call commits nothing."""
    root = str(tmp_path / "redelete")
    ice.write_table(spark, spark.range(0, 20).selectExpr("id", "cast(id as string) as k"), root)
    first = ice.delete_rows(spark, root, "id < 5")
    assert first is not None
    snapshots = len(ice.load_table(root).snapshots())
    data_files = set(os.listdir(os.path.join(root, "data")))
    assert ice.delete_rows(spark, root, "id < 5") is None
    assert len(ice.load_table(root).snapshots()) == snapshots
    assert set(os.listdir(os.path.join(root, "data"))) == data_files  # nothing left behind

    # an overlapping predicate deletes only the rows still live
    ice.delete_rows(spark, root, "id < 7")
    assert ice.load_table(root).current_snapshot()["summary"]["added-position-deletes"] == "2"

    keys = spark.createDataFrame([("10",)], "k string")
    ice.delete_rows_equality(spark, root, keys, ["k"])
    snapshots = len(ice.load_table(root).snapshots())
    assert ice.delete_rows(spark, root, "id = 10") is None
    assert len(ice.load_table(root).snapshots()) == snapshots
    assert ice.read_table(spark, root).count() == 12


def test_equality_delete_read_submits_no_job(spark, tmp_path):
    """Building a read over an equality-delete snapshot runs no Spark job:
    the delete files are read under the key columns' types from the table
    schema, not by schema inference."""
    import uuid

    root = str(tmp_path / "eq_nojob")
    ice.write_table(spark, spark.range(0, 20).selectExpr("id", "cast(id % 4 as string) as k"), root)
    ice.delete_rows_equality(spark, root, spark.createDataFrame([("1",)], "k string"), ["k"])
    sc = spark.sparkContext
    group = f"eq-read-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "equality-delete read plan")
    try:
        df = ice.read_table(spark, root)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert df.count() == 15


def test_equality_delete_multi_column_and_nulls(spark, tmp_path):
    root = str(tmp_path / "eq2_tbl")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "a", 3.0), (4, None, 4.0)],
        "id int, k string, v double",
    )
    ice.write_table(spark, df, root)
    keys = spark.createDataFrame([(2, None), (3, "a")], "id int, k string")
    ice.delete_rows_equality(spark, root, keys, ["id", "k"])
    left = {r["id"] for r in ice.read_table(spark, root).collect()}
    assert left == {1, 4}  # null key matched via null-safe equality


def test_orc_data_files_read(spark, tmp_path):
    """Foreign tables may carry ORC data files; the planner groups by format
    and unions parquet + ORC scans under the declared schema."""
    import os as _os

    root = str(tmp_path / "orc_tbl")
    df = spark.range(0, 50).selectExpr("id", "cast(id as double) as v")
    ice.write_table(spark, df, root)
    victim = ice.plan_files(root)[0].path
    orc_dir = _os.path.join(root, "data", "orcpart")
    spark.read.parquet(victim).write.orc(orc_dir)
    orc_file = [
        _os.path.join(orc_dir, f)
        for f in _os.listdir(orc_dir)
        if f.startswith("part") and not f.endswith(".crc")
    ][0]
    tm = ice.load_table(root)
    snap = tm.current_snapshot()
    mpath = tm.rebase(
        read_avro_file(tm.rebase(snap["manifest-list"]))[2][0]["manifest_path"]
    )
    _, schema, recs = read_avro_file(mpath)
    for r in recs:
        if r["data_file"]["file_path"] == victim:
            r["data_file"]["file_path"] = orc_file
            r["data_file"]["file_format"] = "ORC"
    write_avro_file(mpath, schema, recs)
    back = ice.read_table(spark, root)
    assert back.count() == 50
    assert back.selectExpr("sum(v) s").first()["s"] == sum(float(i) for i in range(50))


def test_metadata_tables(spark, ice_table, tmp_path):
    for kind in ("snapshots", "history", "files", "partitions"):
        _assert_local_relation(ice.metadata_table(spark, ice_table, kind))
    snaps = ice.metadata_table(spark, ice_table, "snapshots").collect()
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent_id"] == 1
    hist = ice.metadata_table(spark, ice_table, "history").collect()
    assert [h["is_current"] for h in hist] == [False, True]
    files = ice.metadata_table(spark, ice_table, "files")
    assert files.selectExpr("sum(record_count) s").first()["s"] == 400
    parts = {
        r["partition"]: (r["record_count"], r["file_count"])
        for r in ice.metadata_table(spark, ice_table, "partitions").collect()
    }
    assert len(parts) == 5 and sum(v[0] for v in parts.values()) == 400
    with pytest.raises(ValueError, match="unknown metadata table"):
        ice.metadata_table(spark, ice_table, "nope")

    # delete files report the manifest's size and format
    root = str(tmp_path / "meta_del")
    ice.write_table(spark, spark.range(0, 20).selectExpr("id"), root)
    ice.delete_rows(spark, root, "id % 5 = 0")
    dels = [r for r in ice.metadata_table(spark, root, "files").collect() if r["content"]]
    assert dels and sum(r["record_count"] for r in dels) == 4
    for r in dels:
        assert r["file_format"] == "PARQUET"
        assert r["file_size_in_bytes"] == os.path.getsize(r["file_path"]) > 0


def test_delete_before_move_survives_move(spark, tmp_path, monkeypatch):
    """Positional deletes written BEFORE a table move must still apply after
    it: delete files name data files by their manifest (stored) paths, and
    the stored→actual mapping rebases both sides (regression: writing
    rebased actual paths orphaned the deletes on move)."""
    import shutil as _sh

    root = str(tmp_path / "pre_move")
    df = spark.range(0, 60).selectExpr("id", "cast(id as double) as v")
    ice.write_table(spark, df, root)
    ice.delete_rows(spark, root, "id % 6 = 1")
    moved = str(tmp_path / "post_move")
    _sh.copytree(root, moved)
    for _path in _delete_paths(monkeypatch):
        assert ice.read_table(spark, root).count() == 50
        got = ice.read_table(spark, moved)
        assert got.count() == 50
        assert got.filter("id % 6 = 1").count() == 0
    # delete-file rows name stored paths == manifest paths (spec identity)
    _, deletes = ice.plan_scan(moved)
    stored = {e.stored_path for e in ice.plan_scan(moved)[0]}
    del_paths = {
        r["file_path"]
        for d in deletes
        for r in spark.read.parquet(d.path).collect()
    }
    assert del_paths <= stored


def test_entry_level_sequence_number_inheritance(spark, tmp_path, monkeypatch):
    """Foreign compacted manifests carry per-entry sequence numbers for
    EXISTING entries; plan_scan must prefer the entry value over the
    manifest's (else deletes mis-order against rewritten files)."""
    root = str(tmp_path / "seq_tbl")
    df = spark.range(0, 10).selectExpr("id", "cast(id as double) as v")
    ice.write_table(spark, df, root)  # manifest seq 1
    tm = ice.load_table(root)
    snap = tm.current_snapshot()
    mpath = tm.rebase(
        read_avro_file(tm.rebase(snap["manifest-list"]))[2][0]["manifest_path"]
    )
    _, schema, recs = read_avro_file(mpath)
    # simulate a compaction rewrite: entries keep their ORIGINAL seq (1)
    # while the (new) manifest claims seq 9
    schema2 = json.loads(json.dumps(schema))
    schema2["fields"].insert(
        2, {"name": "sequence_number", "type": ["null", "long"], "field-id": 3}
    )
    recs2 = [dict(r, sequence_number=1) for r in recs]
    write_avro_file(mpath, schema2, recs2)
    mlist = tm.rebase(snap["manifest-list"])
    _, mls, mfs = read_avro_file(mlist)
    mfs = [dict(m, sequence_number=9) for m in mfs]
    write_avro_file(mlist, ice._MANIFEST_FILE_SCHEMA, mfs)

    entries, _ = ice.plan_scan(root)
    assert all(e.data_seq == 1 for e in entries)  # entry wins over manifest

    # consequence: an equality delete at seq 2 still removes these rows
    keys = spark.createDataFrame([(3,)], "id long")
    tm2 = ice.load_table(root)
    meta = dict(tm2.meta)
    meta["last-sequence-number"] = 1
    ice._commit_metadata(str(tmp_path / "seq_tbl" / "metadata"), meta)
    ice.delete_rows_equality(spark, root, keys, ["id"])
    # and a positional delete (seq 3 ≥ the entries' 1) stacks on it
    ice.delete_rows(spark, root, "id = 5")
    for _path in _delete_paths(monkeypatch):
        left = {r["id"] for r in ice.read_table(spark, root).collect()}
        assert left == set(range(10)) - {3, 5}
