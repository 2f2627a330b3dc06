"""Every entry point that reads data files resolves columns by field ID.

The table has a column renamed after its first files were written, plus
one foreign file registered through ``add_files`` under different
physical column names (resolved by the table's name mapping). Each entry
point that turns scan tasks into rows — scans, counts, incremental and
changelog scans, and the writes that read before they rewrite — is
compared with a pandas oracle of the same operation."""

import os

import pandas as pd
import pytest

from iceberg_python_spark.name_mapping import PROPERTY_KEY, MappedField, NameMapping
from iceberg_python_spark.schema import schema_from_spark

#: rows written through append: (id, name) before the rename
APPENDED = [(i, f"n{i}") for i in range(5)]
#: rows of the foreign file registered by add_files
FOREIGN = [(5, "f5"), (6, "f6")]


@pytest.fixture()
def evolved(catalog, spark, tmp_path):
    """(table, oracle frame): two appends and one name-mapped foreign
    file, then ``name`` renamed to ``label``."""
    first = spark.createDataFrame(APPENDED[:3], "id: long, name: string")
    schema = schema_from_spark(first.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    mapping = NameMapping(
        [MappedField(fid["id"], ["id", "id_phys"]), MappedField(fid["name"], ["name", "name_phys"])]
    )
    t = catalog.create_table("db.evolved", schema, properties={PROPERTY_KEY: mapping.to_json()})
    t.append(first)
    t.append(spark.createDataFrame(APPENDED[3:], "id: long, name: string"))
    ext = str(tmp_path / "ext")
    spark.createDataFrame(FOREIGN, "id_phys: long, name_phys: string").coalesce(1).write.parquet(ext)
    t.add_files([os.path.join(ext, f) for f in sorted(os.listdir(ext)) if f.endswith(".parquet")])
    t.update_schema().rename_column("name", "label").commit()
    t = catalog.load_table("db.evolved")
    oracle = pd.DataFrame(APPENDED + FOREIGN, columns=["id", "label"])
    return t, oracle


def _rows(df) -> list:
    pdf = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    return sorted(map(tuple, pdf[["id", "label"]].itertuples(index=False)))


def _to_df(t, oracle, catalog, spark):
    return _rows(t.scan().to_df()), _rows(oracle)


def _count(t, oracle, catalog, spark):
    return t.scan(row_filter="label = 'n1'").count(), int((oracle.label == "n1").sum())


def _incremental_append(t, oracle, catalog, spark):
    return _rows(t.incremental_append_scan().to_df()), _rows(oracle)


def _incremental_changelog(t, oracle, catalog, spark):
    df = t.incremental_changelog_scan().to_df()
    assert {r[0] for r in df.select("_change_type").distinct().collect()} == {"insert"}
    return _rows(df), _rows(oracle)


def _delete_cow(t, oracle, catalog, spark):
    t.delete("id < 1 or id = 6", mode="copy-on-write")
    got = catalog.load_table("db.evolved").scan().to_df()
    return _rows(got), _rows(oracle[~((oracle.id < 1) | (oracle.id == 6))])


def _delete_mor(t, oracle, catalog, spark):
    t.delete("label = 'n1' or label = 'f5'", mode="merge-on-read")
    got = catalog.load_table("db.evolved").scan().to_df()
    return _rows(got), _rows(oracle[~oracle.label.isin(["n1", "f5"])])


def _upsert(t, oracle, catalog, spark):
    src = spark.createDataFrame([(1, "u1"), (6, "u6"), (9, "new")], "id: long, label: string")
    res = t.upsert(src, join_cols=["id"])
    assert (res.rows_updated, res.rows_inserted) == (2, 1)
    want = oracle.set_index("id")
    want.loc[1, "label"], want.loc[6, "label"], want.loc[9, "label"] = "u1", "u6", "new"
    got = catalog.load_table("db.evolved").scan().to_df()
    return _rows(got), _rows(want.reset_index())


def _compact(t, oracle, catalog, spark):
    t.compact()
    t = catalog.load_table("db.evolved")
    assert len(t.scan().plan_files()) == 1
    return _rows(t.scan().to_df()), _rows(oracle)


ENTRY_POINTS = {
    "to_df": _to_df,
    "count_renamed_filter": _count,
    "incremental_append_scan": _incremental_append,
    "incremental_changelog_scan": _incremental_changelog,
    "delete_copy_on_write": _delete_cow,
    "delete_merge_on_read": _delete_mor,
    "upsert": _upsert,
    "compact": _compact,
}


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_entry_point_resolves_by_field_id(evolved, catalog, spark, entry):
    t, oracle = evolved
    got, want = ENTRY_POINTS[entry](t, oracle, catalog, spark)
    assert got == want
