"""Reads of file lists the table metadata already names never launch
Spark's parallel file-listing job.

Spark lists a read's paths with a job of one task per path once there
are more paths than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32 by default). Every table here has more than twice that many data
files, written with pyarrow and committed through
``Table.register_data_files``, so each read crosses the threshold. No
test changes the session conf.

A listing job is recognised by its stage name: Spark runs it inside the
``DataFrameReader.parquet``/``.orc`` call that builds the read, so its
stage is named after that call (``parquet at ...``); jobs that read rows
run at an action (``save``, ``count``, ``collect``)."""

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_python_spark.io.write import collect_file_stats
from iceberg_python_spark.schema import schema_from_spark
from iceberg_python_spark.table import _listing_chunks, _pos_delete_schema
from iceberg_python_spark.table.snapshots import Operation

#: data files per table: over twice the default listing threshold
N_FILES = 70
ROWS_PER_FILE = 10
LISTING_STAGE = re.compile(r"^(parquet|orc) at ")


def _oracle() -> pd.DataFrame:
    ids = np.arange(N_FILES * ROWS_PER_FILE, dtype=np.int64)
    return pd.DataFrame({"id": ids, "q": (ids % ROWS_PER_FILE).astype(np.float64)})


def _build(catalog, spark, name: str):
    """(table, data file paths, pandas oracle): ``N_FILES`` files of
    ``ROWS_PER_FILE`` consecutive ids, one append."""
    oracle = _oracle()
    schema = schema_from_spark(spark.createDataFrame([], "id long, q double").schema)
    catalog.create_namespace_if_not_exists("db")
    t = catalog.create_table(f"db.{name}", schema)
    data_dir = os.path.join(t.location, "data")
    os.makedirs(data_dir)
    paths = []
    for k in range(N_FILES):
        path = os.path.join(data_dir, f"part-{k:05d}.parquet")
        chunk = oracle.iloc[k * ROWS_PER_FILE : (k + 1) * ROWS_PER_FILE]
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        paths.append(path)
    stats = {}
    for k in range(0, len(paths), 4):  # four per call: read on the driver
        stats.update(collect_file_stats(spark, paths[k : k + 4], schema))
    t.register_data_files(
        [
            {"content": 0, "file_path": p, "file_format": "PARQUET", "schema_id": schema.schema_id,
             "partition": {}, **stats[p]}
            for p in paths
        ]
    )
    return catalog.load_table(f"db.{name}"), paths, oracle


def _in_group(spark, group: str, fn):
    """(fn's result, stage names of every job fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            stages.append((job, info.name if info else ""))
    return out, stages


def _rows(df) -> list:
    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    return sorted(map(tuple, pdf[["id", "q"]].itertuples(index=False)))


def _listing_stages(stages) -> list:
    return [name for _job, name in stages if LISTING_STAGE.match(name)]


def test_read_into_noop_runs_one_job(catalog, spark):
    t, _paths, _oracle_df = _build(catalog, spark, "noop_read")

    def read():
        t.scan().to_df().write.format("noop").mode("overwrite").save()

    _, stages = _in_group(spark, "known-files-noop", read)
    assert len({job for job, _name in stages}) == 1, stages
    assert not _listing_stages(stages), stages


def test_non_aligned_count_lists_nothing(catalog, spark):
    t, _paths, oracle = _build(catalog, spark, "count_read")
    n, stages = _in_group(spark, "known-files-count", lambda: t.scan(row_filter="q > 5").count())
    assert n == int((oracle.q > 5).sum())
    assert stages and not _listing_stages(stages), stages


def test_mor_delete_then_scan(catalog, spark):
    t, _paths, oracle = _build(catalog, spark, "mor")
    # matches one row in every file: every file gets position deletes
    t.delete("q = 3", mode="merge-on-read")
    t = catalog.load_table("db.mor")
    tasks = t.scan().plan_files()
    assert len(tasks) == N_FILES and all(task.delete_files for task in tasks)
    assert _rows(t.scan().to_df()) == _rows(oracle[oracle.q != 3])
    assert t.scan(row_filter="id < 100").count() == int(((oracle.q != 3) & (oracle.id < 100)).sum())


def test_cow_delete(catalog, spark):
    t, _paths, oracle = _build(catalog, spark, "cow")
    t.delete("q = 3 or id >= 650", mode="copy-on-write")
    got = catalog.load_table("db.cow").scan().to_df()
    assert _rows(got) == _rows(oracle[~((oracle.q == 3) | (oracle.id >= 650))])


def test_upsert(catalog, spark):
    t, _paths, oracle = _build(catalog, spark, "ups")
    # updates one row in each of 50 files and inserts 20 new ids
    upd = [(int(i), -1.0) for i in range(5, 500, ROWS_PER_FILE)]
    new = [(int(i), -2.0) for i in range(700, 720)]
    res = t.upsert(spark.createDataFrame(upd + new, "id long, q double"), join_cols=["id"])
    assert (res.rows_updated, res.rows_inserted) == (len(upd), len(new))
    want = oracle.set_index("id")
    want.loc[[i for i, _ in upd], "q"] = -1.0
    want = pd.concat([want.reset_index(), pd.DataFrame(new, columns=["id", "q"])])
    assert _rows(catalog.load_table("db.ups").scan().to_df()) == _rows(want)


def test_compact_after_mor_delete(catalog, spark):
    t, _paths, oracle = _build(catalog, spark, "cmp")
    t.delete("q = 7", mode="merge-on-read")
    t = catalog.load_table("db.cmp")
    t.compact()
    t = catalog.load_table("db.cmp")
    tasks = t.scan().plan_files()
    assert len(tasks) < N_FILES and not any(task.delete_files for task in tasks)
    assert _rows(t.scan().to_df()) == _rows(oracle[oracle.q != 7])


def test_scan_with_many_position_delete_files(catalog, spark):
    """Each of 40 position-delete files removes one row of its own data
    file, so every scan task carries more than 32 delete files."""
    t, paths, oracle = _build(catalog, spark, "many_dels")
    del_dir = os.path.join(t.location, "data", "deletes")
    os.makedirs(del_dir)
    arrow_schema = pa.schema([("file_path", pa.string()), ("pos", pa.int64())])
    files, deleted = [], []
    for k, data_path in enumerate(paths[:40]):
        pos = k % ROWS_PER_FILE
        path = os.path.join(del_dir, f"del-{k:05d}.parquet")
        # the data file as Spark's _metadata.file_path spells it
        pq.write_table(pa.table({"file_path": ["file:" + data_path], "pos": [pos]}, schema=arrow_schema), path)
        files.append({"content": 1, "file_path": path, "file_format": "PARQUET", "schema_id": t.schema().schema_id,
                      "partition": {}, **collect_file_stats(spark, [path], _pos_delete_schema())[path]})
        deleted.append(k * ROWS_PER_FILE + pos)
    with t.transaction() as tx:
        tx._commit_snapshot(Operation.DELETE, files)
    t = catalog.load_table("db.many_dels")
    tasks = t.scan().plan_files()
    assert all(len(task.delete_files) == 40 for task in tasks)
    want = oracle[~oracle.id.isin(deleted)]
    assert _rows(t.scan().to_df()) == _rows(want)
    assert t.scan(row_filter="q < 5").count() == int((want.q < 5).sum())


@pytest.mark.parametrize("scheme", ["s3a://bucket", "gs://bucket", "hdfs://nn:8020"])
def test_remote_lists_stay_one_chunk(scheme):
    paths = [f"{scheme}/t/data/f{k}.parquet" for k in range(100)]
    assert _listing_chunks(paths, 32) == [paths]


@pytest.mark.parametrize("prefix", ["/wh/t/data", "file:/wh/t/data", "file:///wh/t/data"])
def test_local_lists_chunk_under_the_threshold(prefix):
    paths = [f"{prefix}/f{k}.parquet" for k in range(100)]
    chunks = _listing_chunks(paths, 32)
    assert [len(c) for c in chunks] == [32, 32, 32, 4]
    assert [p for c in chunks for p in c] == paths
    assert _listing_chunks(paths[:32], 32) == [paths[:32]]
    assert _listing_chunks(paths, 0) == [paths]


def test_chunked_read_leaves_session_conf_alone(catalog, spark):
    t, _paths, oracle = _build(catalog, spark, "conf_read")

    def conf():
        return {r.key: r.value for r in spark.sql("SET").collect()}

    before = conf()
    assert _rows(t.scan().to_df()) == _rows(oracle)
    assert conf() == before
