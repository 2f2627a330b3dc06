"""Object-store location provider (reference table/locations.py):
entropy-prefix data paths under write.object-storage.enabled."""

import re

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark.locations import (
    ObjectStoreLocationProvider,
    SimpleLocationProvider,
    entropy_dirs,
    load_location_provider,
)

ENTROPY_RE = r"[01]{4}/[01]{4}/[01]{4}/[01]{8}"


def test_provider_selection_and_shapes():
    assert isinstance(load_location_provider("/t", {}), SimpleLocationProvider)
    p = load_location_provider("/t", {"write.object-storage.enabled": "true"})
    assert isinstance(p, ObjectStoreLocationProvider)
    # deterministic, fixed shape: 3 x 4-bit dirs + 8-bit leaf
    e = entropy_dirs("part-00000.parquet")
    assert re.fullmatch(ENTROPY_RE, e)
    assert entropy_dirs("part-00000.parquet") == e
    assert entropy_dirs("part-00001.parquet") != e
    loc = p.new_data_location("f.parquet")
    assert re.fullmatch(rf"/t/data/{ENTROPY_RE}/f\.parquet", loc)
    # partitioned: hash covers the partition-qualified name, dirs kept
    locp = p.new_data_location("f.parquet", "k=1")
    assert re.fullmatch(rf"/t/data/{ENTROPY_RE}/k=1/f\.parquet", locp)
    # partitioned-paths=false: flat keyspace, dash-joined
    flat = ObjectStoreLocationProvider(
        "/t",
        {"write.object-storage.enabled": "true", "write.object-storage.partitioned-paths": "false"},
    )
    assert re.fullmatch(rf"/t/data/{ENTROPY_RE}-f\.parquet", flat.new_data_location("f.parquet", "k=1"))
    # write.data.path override
    custom = ObjectStoreLocationProvider(
        "/t", {"write.object-storage.enabled": "true", "write.data.path": "/bucket/prefix"}
    )
    assert custom.new_data_location("f.parquet").startswith("/bucket/prefix/")


def test_object_store_write_scan_roundtrip(catalog, spark):
    """Entropy paths land in manifests; scan / delete / compact / GC all
    operate on manifest paths, so the layout is transparent to them."""
    from iceberg_python_spark.schema import schema_from_spark

    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"), (F.col("id") * 2.5).alias("v")
    )
    t = catalog.create_table(
        "db.objstore_t",
        schema_from_spark(df.schema),
        properties={"write.object-storage.enabled": "true"},
    )
    t.append(df)
    t.refresh()
    files = [e["data_file"]["file_path"] for e in t._live_entries(t.current_snapshot())]
    assert files and all(re.search(rf"/data/{ENTROPY_RE}/", f) for f in files), files[:3]
    assert t.scan().count() == 2000
    got = sorted(r.id for r in t.scan(row_filter="id < 5").to_df().collect())
    assert got == [0, 1, 2, 3, 4]
    # delete rewrites files -> rewritten files also carry entropy paths
    t.delete("id >= 1000")
    t.refresh()
    assert t.scan().count() == 1000
    files2 = [e["data_file"]["file_path"] for e in t._live_entries(t.current_snapshot())]
    assert all(re.search(rf"/data/{ENTROPY_RE}/", f) for f in files2)
    # compaction + snapshot expiry GC still resolve every path
    t.compact()
    t.refresh()
    assert t.scan().count() == 1000
    exp = t.expire_snapshots()
    for s in t.snapshots()[:-1]:
        exp.expire_snapshot_id(s.snapshot_id)
    exp.commit()
    t.refresh()
    assert t.scan().count() == 1000


def test_object_store_partitioned_write(catalog, spark):
    from iceberg_python_spark import spec_from_names
    from iceberg_python_spark.schema import schema_from_spark

    df = spark.range(400).select(F.col("id"), (F.col("id") % 3).alias("k"))
    schema = schema_from_spark(df.schema)
    t = catalog.create_table(
        "db.objstore_part_t",
        schema,
        partition_spec=spec_from_names(schema, "k"),
        properties={"write.object-storage.enabled": "true"},
    )
    t.append(df)
    t.refresh()
    files = [e["data_file"]["file_path"] for e in t._live_entries(t.current_snapshot())]
    # hive partition dir preserved BEHIND the entropy prefix
    assert all(re.search(rf"/data/{ENTROPY_RE}/_p_k=\d/", f) for f in files), files[:3]
    # partition pruning still works (partition values parsed pre-move)
    pruned = t.scan(row_filter="k = 1")
    assert pruned.count() == 133 or pruned.count() == len([i for i in range(400) if i % 3 == 1])
    assert sorted(r.id for r in pruned.to_df().limit(3).collect())


class _SuffixProvider:
    """Custom provider for the impl-loading test: files land under a
    'custom-layout' dir. Duck-typed (no subclass requirement)."""

    def __init__(self, table_location, properties=None):
        self.base = table_location.rstrip("/") + "/custom-layout"

    def new_data_location(self, file_name, partition_path=None):
        import posixpath

        if partition_path:
            return posixpath.join(self.base, partition_path, file_name)
        return posixpath.join(self.base, file_name)


def test_custom_location_provider_impl(spark, tmp_path):
    """write.py-location-provider.impl loads a module.Class provider
    (reference table/locations.py property) and the write path routes
    new files through it; bad paths fail loudly."""
    import iceberg_python_spark as ips
    from iceberg_python_spark.locations import load_location_provider
    from iceberg_python_spark.schema import schema_from_spark

    impl = f"{__name__}._SuffixProvider"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, v: string")
    cat = ips.SqliteCatalog("customloc", str(tmp_path / "wh"), spark)
    t = cat.create_table(
        "db.customloc",
        schema_from_spark(df.schema),
        properties={"write.py-location-provider.impl": impl},
    )
    t.append(df)
    t = cat.load_table("db.customloc")
    tasks = t.scan().plan_files()
    assert tasks and all("/custom-layout/" in x.file_path for x in tasks)
    assert t.scan().to_df().count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot load location provider"):
        load_location_provider("/x", {"write.py-location-provider.impl": "nope.Missing"})
    with _pytest.raises(ValueError, match="module.Class"):
        load_location_provider("/x", {"write.py-location-provider.impl": "NoModule"})


def test_write_metadata_path_redirects_new_metadata(spark, tmp_path_factory):
    """write.metadata.path (reference locations.py:56): new metadata
    JSON, manifests and statistics files land under the override;
    files recorded before the change keep working (absolute paths)."""
    import os

    from iceberg_python_spark import SqliteCatalog
    from iceberg_python_spark.schema import schema_from_spark

    wh = tmp_path_factory.mktemp("wh")
    alt = str(tmp_path_factory.mktemp("altmeta"))
    cat = SqliteCatalog("wmp", str(wh), spark)
    df = spark.createDataFrame([(i, f"s{i}") for i in range(20)], "id: long, s: string")
    t = cat.create_table("db.meta_redir", schema_from_spark(df.schema))
    t.append(df)  # v1 under <location>/metadata
    t = cat.load_table("db.meta_redir")
    default_dir = os.path.join(t.location, "metadata")
    assert any(f.endswith(".metadata.json") for f in os.listdir(default_dir))

    t.set_properties({"write.metadata.path": alt})
    t = cat.load_table("db.meta_redir")
    t.append(df.where("id < 5"))
    t = cat.load_table("db.meta_redir")
    # the new metadata json + manifests landed under the override
    assert any(f.endswith(".metadata.json") for f in os.listdir(alt))
    assert os.path.isdir(os.path.join(alt, "manifests"))
    assert t.scan().to_df().count() == 25
    # statistics file honors it too
    t.update_statistics().set_ndv("id", 20).commit()
    t = cat.load_table("db.meta_redir")
    assert any(f.endswith(".stats.puffin") for f in os.listdir(alt))
    # a distributed-planned read (threshold=0) writes no scan plans
    t.set_properties({"read.plan.distributed-threshold": "0"})
    t = cat.load_table("db.meta_redir")
    scan = t.scan(selected_fields=("id",))
    assert scan.to_df().count() == 25
    assert not os.path.exists(os.path.join(alt, "scan-plans"))
    assert not os.path.exists(os.path.join(default_dir, "scan-plans"))
    # old (pre-override) snapshot remains readable: absolute paths
    first = t.metadata.snapshots[0]
    assert t.scan(snapshot_id=first.snapshot_id).to_df().count() == 20


def test_version_hint_survives_metadata_path_override(spark, tmp_path_factory):
    """ADVICE r11: with write.metadata.path active, the discovery hint
    FILE must stay at <location>/metadata/version-hint.text (the probe
    path) while its BODY carries the full redirected metadata path —
    catalog-free readers must open the CURRENT version, not the
    pre-override one."""
    import os

    from iceberg_python_spark import SqliteCatalog
    from iceberg_python_spark.schema import schema_from_spark
    from iceberg_python_spark.spark_datasource import register_data_source
    from iceberg_python_spark.table import StaticTable

    wh = tmp_path_factory.mktemp("wh")
    alt = str(tmp_path_factory.mktemp("altmeta2"))
    cat = SqliteCatalog("wmph", str(wh), spark)
    df = spark.createDataFrame([(i,) for i in range(10)], "id: long")
    t = cat.create_table("db.hint_redir", schema_from_spark(df.schema))
    t.append(df)
    t = cat.load_table("db.hint_redir")
    t.set_properties({"write.metadata.path": alt})
    t = cat.load_table("db.hint_redir")
    t.append(df)  # 20 rows; this metadata json lives under alt
    t = cat.load_table("db.hint_redir")
    hint = os.path.join(t.location, "metadata", "version-hint.text")
    assert os.path.exists(hint)  # file stays at the probe path
    body = open(hint).read().strip()
    assert body == t.metadata_location and body.startswith(alt)
    # both catalog-free readers resolve to the CURRENT version
    register_data_source(spark)
    ds = spark.read.format("iceberg_python_spark").option("table_location", t.location).load()
    assert ds.count() == 20
    st = StaticTable.from_metadata(t.location, spark)
    assert st.scan().to_df().count() == 20
