"""Reads above the distributed-planning threshold: manifest pruning
runs as a Spark job (``_plan_files_distributed``) and the surviving
tasks are read by ``_read_tasks``, the same reader every other scan
uses. Every table here sets ``read.plan.distributed-threshold=0``.

Covered here:
- plan parity: the distributed planner keeps exactly the files the
  driver-loop planner keeps (metrics pruning) and the read returns
  value-identical rows;
- deletes: position deletes (parquet and DV Puffin) and equality
  deletes under the strictly-newer sequence rule;
- schema evolution: rename, rename-then-re-add, added-column null fill;
- name-mapped ``add_files`` tables and ORC data files;
- empty results and limit/projection behavior.

Each read also asserts that the scan planned distributed and that
``to_df()`` wrote nothing under the table's ``metadata/scan-plans``.
"""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark.io.fileio import to_local
from iceberg_python_spark.schema import schema_from_spark

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    from iceberg_python_spark import SqliteCatalog

    return SqliteCatalog("distread", str(tmp_path_factory.mktemp("wh")), spark)


@pytest.fixture(scope="module")
def table(cat, spark):
    """Four appends split by ORDERKEY RANGE, so an orderkey filter
    genuinely prunes files via min/max metrics. threshold=0 forces the
    distributed path at test scale."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    t = cat.create_table(
        "db.li_ranges",
        schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    hi = df.agg(F.max("l_orderkey")).first()[0]
    step = hi // 4 + 1
    for i in range(4):
        t.append(df.where((F.col("l_orderkey") >= i * step) & (F.col("l_orderkey") < (i + 1) * step)))
    return cat.load_table("db.li_ranges")


def _read_distributed(scan):
    """``scan.to_df()``, after checking that the scan plans through the
    distributed planner; the read must leave no scan-plan files under
    the table's metadata."""
    assert scan._plan_inputs(scan.table.metadata).distributed
    df = scan.to_df()
    assert not os.path.exists(os.path.join(to_local(scan.table.location), "metadata", "scan-plans"))
    return df


def test_streamed_matches_tasklist_values_and_pruning(cat, table, spark):
    """The distributed planner keeps the same files as the driver loop,
    and the two reads return the same rows."""
    flt = "l_orderkey < 100 and l_quantity > 10"
    sel = ("l_orderkey", "l_quantity", "l_shipdate")
    scan = table.scan(row_filter=flt, selected_fields=sel)
    distributed = _read_distributed(scan)
    dist_files = sorted(task.file_path for task in scan.plan_files())

    t = cat.load_table("db.li_ranges")
    t.set_properties({"read.plan.distributed-threshold": "1000000000"})
    try:
        loop = cat.load_table("db.li_ranges").scan(row_filter=flt, selected_fields=sel)
        assert not loop._plan_inputs(loop.table.metadata).distributed
        loop_files = sorted(task.file_path for task in loop.plan_files())
        b = loop.to_df().toPandas().sort_values(list(sel)).reset_index(drop=True)
    finally:
        cat.load_table("db.li_ranges").set_properties({"read.plan.distributed-threshold": "0"})
    # metrics pruning: the low-orderkey filter must prune the upper
    # range files on BOTH planners, identically
    assert 1 <= len(loop_files) < 4
    assert dist_files == loop_files

    a = distributed.toPandas().sort_values(list(sel)).reset_index(drop=True)
    assert a.equals(b)


def test_streamed_empty_result_schema(cat, table):
    scan = cat.load_table("db.li_ranges").scan(
        row_filter="l_quantity > 1000000", selected_fields=("l_orderkey", "l_quantity")
    )
    df = _read_distributed(scan)
    assert df.columns == ["l_orderkey", "l_quantity"] and df.count() == 0


def test_streamed_limit(cat, table):
    scan = cat.load_table("db.li_ranges").scan(selected_fields=("l_orderkey",), limit=7)
    assert _read_distributed(scan).count() == 7


def test_delete_files_stream(cat, spark):
    """A MoR table (position deletes) planned distributed: the planner
    attaches the delete files to the surviving tasks and ``_read_tasks``
    applies them."""
    df = spark.range(100).select(F.col("id").cast("long").alias("k"), (F.col("id") * 2).alias("v"))
    t = cat.create_table(
        "db.mor_stream",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.delete.mode": "merge-on-read",
        },
    )
    t.append(df)
    t = cat.load_table("db.mor_stream")
    t.delete("k >= 90")
    t = cat.load_table("db.mor_stream")
    scan = t.scan()
    out = _read_distributed(scan)
    assert out.count() == 90
    assert any(task.delete_files for task in scan.plan_files())
    # values survive exactly (not just counts), and a filter composes
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {i: i * 2 for i in range(90)}
    assert cat.load_table("db.mor_stream").scan(row_filter="k < 5").to_df().count() == 5


def test_mor_dv_puffin_streams(cat, spark):
    """v3 deletion vectors (Puffin) apply on a distributed-planned read
    too — dv_positions_df expands bitmaps executor-side."""
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    t = cat.create_table(
        "db.mor_dv_stream",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.delete.mode": "merge-on-read",
            "write.delete.format": "puffin",
            "format-version": "3",
        },
    )
    t.append(df)
    t = cat.load_table("db.mor_dv_stream")
    t.delete("k >= 40")
    t = cat.load_table("db.mor_dv_stream")
    scan = t.scan()
    rows = {r.k for r in _read_distributed(scan).collect()}
    assert rows == set(range(40))
    assert any(task.delete_files for task in scan.plan_files())


def test_eq_deletes_stream_with_seq_rule(cat, spark):
    """Equality deletes on a distributed-planned read keep the
    strictly-newer sequence rule: a row RE-INSERTED after the delete
    (data seq > delete seq) survives, while the older incarnation is
    dropped."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k: long, s: string")
    t = cat.create_table(
        "db.eqdel_stream",
        schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.eqdel_stream")
    t.add_equality_deletes(spark.createDataFrame([(2,)], "k: long"), ["k"])
    t = cat.load_table("db.eqdel_stream")
    # re-insert k=2 AFTER the delete: newer data seq -> must survive
    t.append(spark.createDataFrame([(2, "b2")], "k: long, s: string"))
    t = cat.load_table("db.eqdel_stream")
    scan = t.scan()
    rows = {r.k: r.s for r in _read_distributed(scan).collect()}
    assert rows == {1: "a", 2: "b2", 3: "c"}
    # one equality-delete file, attached to the older files only
    tasks = scan.plan_files()
    assert len({d for task in tasks for d in task.eq_delete_files}) == 1
    newest = max(task.sequence_number for task in tasks)
    assert all(bool(task.eq_delete_files) == (task.sequence_number < newest) for task in tasks)


def test_schema_rename_falls_back(cat, spark):
    """Files written before a column RENAME are read by field id: the
    renamed column keeps its values."""
    df = spark.range(50).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    t = cat.create_table(
        "db.renamed", schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.renamed")
    t.update_schema().rename_column("b", "b2").commit()
    t = cat.load_table("db.renamed")
    scan = t.scan()
    out = _read_distributed(scan)
    assert out.columns == ["a", "b2"] and out.count() == 50
    assert {r.a: r.b2 for r in out.collect()} == {i: i + 1 for i in range(50)}


def test_rename_then_readd_name_falls_back(cat, spark):
    """Rename a->a2 then ADD a new column named a: old files carry a
    column NAMED a under the old field id, so a by-name read would
    surface the renamed column's values where the new column must be
    null; the field-id read nulls it (ADVICE r09 high)."""
    df = spark.range(5).select(F.col("id").alias("a"), (F.col("id") + 100).alias("z"))
    t = cat.create_table(
        "db.readd", schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.readd")
    t.update_schema().rename_column("a", "a2").commit()
    t = cat.load_table("db.readd")
    from iceberg_python_spark.types import LongType

    t.update_schema().add_column("a", LongType()).commit()
    t = cat.load_table("db.readd")
    # project ONLY (z, a) — a2 (the renamed column) is not projected,
    # so only the field-id resolution keeps the old values out of a
    scan = t.scan(selected_fields=("z", "a"))
    out = _read_distributed(scan)
    rows = {r.z: r.a for r in out.collect()}
    assert len(rows) == 5 and all(v is None for v in rows.values())


def test_added_column_streams_with_null_fill(cat, spark):
    """Added-column evolution: old files null-fill the new column."""
    df = spark.range(30).select(F.col("id").alias("a")).repartition(1)
    t = cat.create_table(
        "db.added", schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.added")
    from iceberg_python_spark.types import LongType

    t.update_schema().add_column("c", LongType()).commit()
    t = cat.load_table("db.added")
    df2 = spark.range(30, 40).select(F.col("id").alias("a"), (F.col("id") * 10).alias("c")).repartition(1)
    t.append(df2)
    t = cat.load_table("db.added")
    scan = t.scan()
    out = _read_distributed(scan)
    assert len(scan.plan_files()) == 2
    rows = {r.a: r.c for r in out.collect()}
    assert len(rows) == 40 and rows[5] is None and rows[35] == 350


def test_name_mapped_add_files_falls_back(cat, spark, tmp_path):
    """add_files tables whose files carry a name mapping (different
    physical column names): the distributed planner carries each file's
    name map to the read, which would otherwise null the mapped
    columns."""
    from iceberg_python_spark.name_mapping import PROPERTY_KEY, MappedField, NameMapping

    ext = spark.createDataFrame([(1, "x"), (2, "y")], "k: long, v: string")
    schema = schema_from_spark(ext.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    mapping = NameMapping(
        [MappedField(fid["k"], ["k", "key_renamed"]), MappedField(fid["v"], ["v", "val_renamed"])]
    )
    t = cat.create_table(
        "db.addf_nm",
        schema,
        properties={
            "read.plan.distributed-threshold": "0",
            PROPERTY_KEY: mapping.to_json(),
        },
    )
    # external file under DIFFERENT physical names, registered via the
    # name mapping (schema.name-mapping.default aliases)
    foreign = ext.toDF("key_renamed", "val_renamed")
    d = str(tmp_path / "ext")
    foreign.coalesce(1).write.mode("overwrite").parquet(d)
    import os as _os

    paths = [f"{d}/{f}" for f in _os.listdir(d) if f.endswith(".parquet")]
    t.add_files(paths)
    t = cat.load_table("db.addf_nm")
    scan = t.scan()
    rows = {r.k: r.v for r in _read_distributed(scan).collect()}
    assert rows == {1: "x", 2: "y"}


def test_orc_through_distributed_planner(cat, spark):
    """ORC data files keep their format through the distributed
    planner (file_format was hardcoded PARQUET)."""
    df = spark.range(20).select(F.col("id").alias("a"), (F.col("id") * 3).alias("b"))
    t = cat.create_table(
        "db.orc_dist",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.format.default": "orc",
        },
    )
    t.append(df)
    t = cat.load_table("db.orc_dist")
    scan = t.scan(row_filter="a >= 5")
    out = _read_distributed(scan)
    assert out.count() == 15 and {r.b for r in out.collect()} == {i * 3 for i in range(5, 20)}
