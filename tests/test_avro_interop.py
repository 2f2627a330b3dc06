"""Avro manifest interop: the OCF codec, cross-validation against Java
Avro (the canonical implementation, via spark._jvm), and end-to-end
open-a-real-Iceberg-table through StaticTable.

Reference behaviors mirrored: pyiceberg/avro/file.py:132 (OCF read),
pyiceberg/manifest.py:869-905 (sequence inheritance), Iceberg spec
Appendix D (binary single-value bounds)."""

import importlib.util
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark import avro
from iceberg_python_spark.conversions import from_bytes, to_bytes
from iceberg_python_spark.table import StaticTable
from iceberg_python_spark.table.avro_manifests import (
    export_avro_metadata,
    read_avro_manifest,
    read_avro_manifest_list,
)
from iceberg_python_spark.types import (
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
    UUIDType,
)

from .conftest import SF_DIR


SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": ["null", "long"], "default": None},
        {"name": "s", "type": "string"},
        {"name": "b", "type": ["null", "bytes"], "default": None},
        {"name": "d", "type": {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2}},
        {
            "name": "arr",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "kv",
                    "fields": [{"name": "key", "type": "int"}, {"name": "value", "type": "bytes"}],
                },
            },
        },
        {"name": "f", "type": "double"},
    ],
}
RECS = [
    {"i": 1, "l": None, "s": "hello", "b": b"\x00\x01", "d": Decimal("123.45"), "arr": [{"key": 4, "value": b"xy"}], "f": 3.5},
    {"i": -7, "l": 2**40, "s": "wörld", "b": None, "d": Decimal("-0.07"), "arr": [], "f": -1e-9},
]


@pytest.mark.parametrize("codec", ["null", "deflate", "bzip2", "zstandard", "snappy"])
def test_ocf_round_trip(tmp_path, codec):
    p = str(tmp_path / "t.avro")
    avro.write_file(p, SCHEMA, RECS, metadata={"m1": "v1"}, codec=codec)
    _, meta, back = avro.read_file(p)
    assert back == RECS
    assert meta["m1"] == b"v1"
    assert meta["avro.codec"] == codec.encode()


@pytest.mark.parametrize("codec", ["deflate", "bzip2", "zstandard", "snappy"])
def test_java_avro_reads_ours(tmp_path, spark, codec):
    """Cross-implementation: the canonical Java Avro reader must accept
    our container files byte-for-byte, for every codec we emit."""
    p = str(tmp_path / "x.avro")
    avro.write_file(p, SCHEMA, RECS, codec=codec)
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    rows = []
    while reader.hasNext():
        rows.append(str(reader.next()))
    reader.close()
    assert len(rows) == 2
    assert '"i": 1' in rows[0] and '"s": "hello"' in rows[0]
    assert '"l": 1099511627776' in rows[1]


def test_we_read_java_avro(tmp_path, spark):
    """Cross-implementation: we must decode files written by Java Avro."""
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SCHEMA))
    w = jvm.org.apache.avro.file.DataFileWriter(jvm.org.apache.avro.generic.GenericDatumWriter(js))
    w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = str(tmp_path / "y.avro")
    w.create(js, jvm.java.io.File(p))
    rb = jvm.org.apache.avro.generic.GenericRecordBuilder(js)
    rb.set("i", 42)
    rb.set("l", 123456789012345)
    rb.set("s", "from-java")
    rb.set("b", None)
    rb.set("d", jvm.java.nio.ByteBuffer.wrap(bytes(to_bytes(Decimal("9.99"), DecimalType(10, 2)))))
    rb.set("arr", jvm.java.util.ArrayList())
    rb.set("f", 2.25)
    w.append(rb.build())
    w.close()
    _, _, mine = avro.read_file(p)
    assert mine == [
        {"i": 42, "l": 123456789012345, "s": "from-java", "b": None, "d": Decimal("9.99"), "arr": [], "f": 2.25}
    ]


def test_single_value_serialization_round_trip():
    cases = [
        (7, IntegerType()),
        (-(2**40), LongType()),
        (19234, DateType()),
        (1694822400000000, TimestampType()),
        (3.25, DoubleType()),
        ("héllo", StringType()),
        (Decimal("12.34"), DecimalType(9, 2)),
        ("12345678-1234-5678-1234-567812345678", UUIDType()),
    ]
    for v, t in cases:
        assert from_bytes(to_bytes(v, t), t) == v, t
    # spec widths: int=4 LE, long=8 LE, string=utf8
    assert to_bytes(1, IntegerType()) == b"\x01\x00\x00\x00"
    assert to_bytes(1, LongType()) == b"\x01" + b"\x00" * 7
    assert to_bytes("ab", StringType()) == b"ab"


@pytest.fixture()
def exported(catalog, spark, tmp_path):
    """A partitioned table built by the engine, exported as real Iceberg
    Avro metadata."""
    from iceberg_python_spark import spec_from_names
    from iceberg_python_spark.schema import schema_from_spark

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    schema = schema_from_spark(orders.schema)
    spec = spec_from_names(schema, ("o_orderpriority", "identity"))
    t = catalog.create_table("db.avro_orders", schema, partition_spec=spec)
    t.append(orders)
    dest = str(tmp_path / "exported")
    json_path = export_avro_metadata(t, dest)
    return t, json_path, orders


def test_static_table_opens_avro_metadata(exported, spark):
    t, json_path, orders = exported
    st = StaticTable.from_metadata(json_path, spark)
    got = st.scan().to_df()
    assert got.count() == orders.count()
    # filtered + projected scan matches a direct parquet read
    mine = (
        st.scan(row_filter="o_totalprice > 100000", selected_fields=("o_orderkey", "o_totalprice"))
        .to_df()
        .orderBy("o_orderkey")
        .collect()
    )
    want = (
        orders.where(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .collect()
    )
    assert mine == want


def test_avro_manifest_partition_pruning(exported, spark):
    """Partition summaries decoded from Avro must prune manifests/files:
    an equality filter on the partition column plans only that
    partition's files."""
    t, json_path, orders = exported
    st = StaticTable.from_metadata(json_path, spark)
    all_tasks = st.scan().plan_files()
    pruned = st.scan(row_filter="o_orderpriority = '1-URGENT'").plan_files()
    assert 0 < len(pruned) < len(all_tasks)
    assert all(task.data_file["partition"]["o_orderpriority"] == "1-URGENT" for task in pruned)


def test_avro_manifest_entry_shape(exported):
    t, json_path, _ = exported
    from iceberg_python_spark.table.metadata import TableMetadata

    meta = TableMetadata.read(json_path)
    snap = meta.current_snapshot()
    assert snap.manifest_list.endswith(".avro")
    mlist = read_avro_manifest_list(snap.manifest_list, meta.spec_by_id, meta.schema())
    assert mlist and all(m["manifest_path"].endswith(".avro") for m in mlist)
    spec = meta.spec_by_id(mlist[0]["spec_id"])
    entries = read_avro_manifest(mlist[0]["manifest_path"], meta.schema(), spec, manifest=mlist[0])
    e = entries[0]
    d = e["data_file"]
    # sequence inheritance: entries carry the manifest's sequence number
    assert e["sequence_number"] == mlist[0]["sequence_number"]
    assert e["snapshot_id"] == mlist[0]["added_snapshot_id"]
    assert d["file_path"].endswith(".parquet") and d["record_count"] > 0
    # bounds decoded to internal values usable by the metrics evaluator
    assert isinstance(d["lower_bounds"], dict) and len(d["lower_bounds"]) > 0
    fid = next(iter(d["lower_bounds"]))
    assert d["lower_bounds"][fid] <= d["upper_bounds"][fid]


def test_java_avro_reads_exported_manifest(exported, spark):
    """The exported manifest files themselves must parse under Java Avro —
    i.e. a real Iceberg reader's Avro layer accepts our metadata."""
    t, json_path, _ = exported
    from iceberg_python_spark.table.metadata import TableMetadata

    meta = TableMetadata.read(json_path)
    snap = meta.current_snapshot()
    jvm = spark._jvm
    for path in [snap.manifest_list]:
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        n = 0
        while reader.hasNext():
            rec = str(reader.next())
            assert "manifest_path" in rec
            n += 1
        reader.close()
        assert n >= 1


def test_v1_metadata_fallback(tmp_path):
    """v1 metadata JSON (singular schema/partition-spec) must parse."""
    from iceberg_python_spark.table.metadata import TableMetadata

    d = {
        "format-version": 1,
        "table-uuid": "9c12d441-03fe-4693-9a96-a0705ddf69c1",
        "location": str(tmp_path),
        "last-updated-ms": 1602638573874,
        "last-column-id": 2,
        "schema": {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "x", "required": True, "type": "long"},
                {"id": 2, "name": "y", "required": False, "type": "string"},
            ],
        },
        "partition-spec": [{"name": "x", "transform": "identity", "source-id": 1, "field-id": 1000}],
        "properties": {},
        "snapshots": [],
    }
    p = tmp_path / "v1.metadata.json"
    p.write_text(json.dumps(d))
    meta = TableMetadata.read(str(p))
    assert meta.schema().find_field(1).name == "x"
    assert meta.spec().fields[0].name == "x"
    assert meta.spec().fields[0].transform.name == "identity"


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the reference checkout that tools/reference_*_check.py put on sys.path
_REFERENCE_PYICEBERG = "/root/reference/pyiceberg"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(_REFERENCE_PYICEBERG)
    and importlib.util.find_spec("pyiceberg") is None,
    reason=f"reference pyiceberg checkout absent ({_REFERENCE_PYICEBERG}) "
    "and pyiceberg not importable",
)


@needs_reference
def test_reference_pyiceberg_reads_our_export():
    """The ultimate interop proof: the actual reference pyiceberg library
    (at /root/reference, its own metadata/Avro/scan code) opens a table
    this engine exported and reads identical values. Runs in a
    subprocess because the check shims the reference's uninstallable
    deps in sys.modules."""
    import subprocess
    import sys as _sys

    out = subprocess.run(
        [_sys.executable, "tools/reference_interop_check.py"],
        capture_output=True,
        text=True,
        cwd=_REPO_ROOT,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "REFERENCE-INTEROP-OK" in out.stdout
    assert "REVERSE-INTEROP-OK" in out.stdout


@needs_reference
def test_reference_transform_conformance():
    """Function-level parity: our bucket/truncate/temporal transforms and
    human partition strings agree with the reference implementation over
    a deterministic value sweep, and our schema JSON parses through the
    reference's models. Subprocess-isolated (reference-dep shims)."""
    import subprocess
    import sys as _sys

    out = subprocess.run(
        [_sys.executable, "tools/reference_conformance_check.py"],
        capture_output=True,
        text=True,
        cwd=_REPO_ROOT,
        timeout=200,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "CONFORMANCE-OK" in out.stdout


def test_native_avro_metadata_format(spark, tmp_path):
    """write.metadata.format=avro: every commit emits spec Avro manifests
    + manifest lists; scans, time travel, CoW delete, MoR delete, and
    compaction all behave identically to a parquet-metadata twin."""
    import iceberg_python_spark as ips
    from pyspark.sql import functions as F

    cat = ips.SqliteCatalog("amf", str(tmp_path / "wh"), spark)
    df = spark.range(200).withColumn("v", F.col("id") % 7)
    twins = {}
    for fmt in ("parquet", "avro"):
        t = cat.create_table(
            f"db.t_{fmt}", df.schema, properties={"write.metadata.format": fmt}
        )
        t.append(df)
        snap1 = t.current_snapshot().snapshot_id
        t.delete("v = 3")
        t.append(spark.range(200, 250).withColumn("v", F.col("id") % 7))
        t.delete("v = 5", mode="merge-on-read")
        twins[fmt] = (t, snap1)
        assert t.current_snapshot().manifest_list.endswith(f".{fmt}")

    tp, snap_p = twins["parquet"]
    ta, snap_a = twins["avro"]
    for flt in (None, "v = 1", "id >= 100"):
        sa = ta.scan(row_filter=flt) if flt else ta.scan()
        sp = tp.scan(row_filter=flt) if flt else tp.scan()
        a = sorted((r.id, r.v) for r in sa.to_df().collect())
        p = sorted((r.id, r.v) for r in sp.to_df().collect())
        assert a == p, (flt, len(a), len(p))
    # time travel across formats
    assert ta.scan(snapshot_id=snap_a).to_df().count() == tp.scan(snapshot_id=snap_p).to_df().count() == 200
    # compaction rewrites avro manifests too
    ta.compact()
    assert ta.refresh().current_snapshot().manifest_list.endswith(".avro")
    a = sorted((r.id, r.v) for r in ta.scan().to_df().collect())
    assert a == sorted((r.id, r.v) for r in tp.scan().to_df().collect())
    # all live manifests of the avro twin really are avro files
    from iceberg_python_spark.table.manifests import read_manifest_list

    for m in read_manifest_list(
        ta.current_snapshot().manifest_list, ta.metadata.spec_by_id, ta.schema()
    ):
        assert m["manifest_path"].endswith(".avro")


def test_avro_compression_codec_property(spark, tmp_path):
    """write.avro.compression-codec (reference table/__init__.py:160,
    default gzip->deflate) selects the OCF block codec for spec Avro
    metadata; zstd maps to zstandard and round-trips through both our
    reader and the scan path."""
    import iceberg_python_spark as ips
    from iceberg_python_spark import avro as ocf
    from iceberg_python_spark.schema import schema_from_spark

    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id: long, v: string")
    cat = ips.SqliteCatalog("avrocodec", str(tmp_path / "wh"), spark)
    t = cat.create_table(
        "db.zstd_meta",
        schema_from_spark(df.schema),
        properties={
            "write.metadata.format": "avro",
            "write.avro.compression-codec": "zstd",
        },
    )
    t.append(df)
    t = cat.load_table("db.zstd_meta")
    mlist = t.current_snapshot().manifest_list
    assert mlist.endswith(".avro")
    _schema, meta, _recs = ocf.read_file(mlist)
    assert meta.get("avro.codec") == b"zstandard"
    assert t.scan().to_df().count() == 50
