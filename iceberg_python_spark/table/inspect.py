"""Metadata ("inspect") tables, each returned as a Spark DataFrame.

Reference: pyiceberg/table/inspect.py:68-728 (returns pa.Table; ours
return DataFrames so they compose with the rest of a Spark pipeline —
e.g. join files() against a quality report, or aggregate partitions()).

Because manifests are parquet, ``entries``/``files`` read them as one
Spark scan of the known manifest list (the table's ``_read_files``) —
at large manifest counts this is a distributed scan, not a driver loop.
"""

from __future__ import annotations

import json
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .manifests import STATUS_DELETED
from .snapshots import Snapshot


#: the entry rows of a parquet manifest (``manifests._MANIFEST_SCHEMA``);
#: manifest reads pass it, so no footer is read to infer a schema
ENTRIES_SCHEMA = T.StructType(
    [
        T.StructField("status", T.IntegerType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("content", T.IntegerType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("file_format", T.StringType()),
        T.StructField("spec_id", T.IntegerType()),
        T.StructField("schema_id", T.IntegerType()),
        T.StructField("partition_json", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_in_bytes", T.LongType()),
        T.StructField("stats_json", T.StringType()),
    ]
)


class InspectTable:
    def __init__(self, table):
        self.table = table

    @property
    def _spark(self):
        return self.table.spark

    def snapshots(self) -> DataFrame:
        meta = self.table.metadata
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.sequence_number,
                s.timestamp_ms,
                s.operation,
                s.manifest_list,
                {k: str(v) for k, v in s.summary.items() if k != "operation"},
            )
            for s in meta.snapshots
        ]
        schema = T.StructType(
            [
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("parent_id", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
                T.StructField("committed_at_ms", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("manifest_list", T.StringType()),
                T.StructField("summary", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        return self._spark.createDataFrame(rows, schema)

    def refs(self) -> DataFrame:
        rows = [(name, ref.type, ref.snapshot_id) for name, ref in self.table.metadata.refs.items()]
        return self._spark.createDataFrame(rows, "name: string, type: string, snapshot_id: long")

    def history(self) -> DataFrame:
        rows = [(e.timestamp_ms, e.snapshot_id) for e in self.table.metadata.snapshot_log]
        return self._spark.createDataFrame(rows, "made_current_at_ms: long, snapshot_id: long")

    def metadata_log_entries(self) -> DataFrame:
        rows = [(e.get("timestamp-ms"), e.get("metadata-file")) for e in self.table.metadata.metadata_log]
        rows.append((self.table.metadata.last_updated_ms, self.table.metadata_location))
        return self._spark.createDataFrame(rows, "timestamp_ms: long, file: string")

    def manifests(self, snapshot_id: Optional[int] = None) -> DataFrame:
        snap = self._snap(snapshot_id)
        rows = []
        if snap is not None:
            for m in self.table._live_manifests(snap):
                rows.append(
                    (
                        m["manifest_path"],
                        m["spec_id"],
                        m["content"],
                        m["added_snapshot_id"],
                        m["added_files_count"],
                        m["existing_files_count"],
                        m["deleted_files_count"],
                        m["added_rows_count"],
                        json.dumps(m.get("partition_summaries", {}), default=str),
                    )
                )
        schema = (
            "path: string, spec_id: int, content: int, added_snapshot_id: long, "
            "added_data_files_count: int, existing_data_files_count: int, "
            "deleted_data_files_count: int, added_rows_count: long, partition_summaries: string"
        )
        return self._spark.createDataFrame(rows, schema)

    def _snap(self, snapshot_id: Optional[int]) -> Optional[Snapshot]:
        if snapshot_id is not None:
            return self.table.metadata.snapshot_by_id(snapshot_id)
        return self.table.metadata.current_snapshot()

    def _entries_df(self, snapshot_id: Optional[int] = None, status_not: Optional[int] = None) -> DataFrame:
        snap = self._snap(snapshot_id)
        if snap is None:
            return self._spark.createDataFrame([], ENTRIES_SCHEMA)
        manifest_paths = [m["manifest_path"] for m in self.table._live_manifests(snap)]
        if not manifest_paths:
            return self._spark.createDataFrame([], ENTRIES_SCHEMA)
        from . import _read_files

        df = _read_files(self._spark, ENTRIES_SCHEMA, "PARQUET", manifest_paths)
        if status_not is not None:
            df = df.where(F.col("status") != status_not)
        return df

    def entries(self, snapshot_id: Optional[int] = None) -> DataFrame:
        return self._entries_df(snapshot_id)

    def files(self, snapshot_id: Optional[int] = None) -> DataFrame:
        return (
            self._entries_df(snapshot_id, status_not=STATUS_DELETED)
            .select(
                "content",
                "file_path",
                "file_format",
                "spec_id",
                "partition_json",
                "record_count",
                "file_size_in_bytes",
            )
        )

    def data_files(self, snapshot_id: Optional[int] = None) -> DataFrame:
        return self.files(snapshot_id).where(F.col("content") == 0)

    def delete_files(self, snapshot_id: Optional[int] = None) -> DataFrame:
        return self.files(snapshot_id).where(F.col("content") != 0)

    def partitions(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Partition-level rollup (reference inspect.py:263-370): record /
        file counts and sizes grouped by partition tuple — a Spark groupBy
        over the manifest entries."""
        return (
            self._entries_df(snapshot_id, status_not=STATUS_DELETED)
            .where(F.col("content") == 0)
            .groupBy("partition_json", "spec_id")
            .agg(
                F.sum("record_count").alias("record_count"),
                F.count("*").alias("file_count"),
                F.sum("file_size_in_bytes").alias("total_data_file_size_in_bytes"),
            )
        )

    def partition_statistics(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Read the registered partition-statistics file for a snapshot
        (reference table/statistics.py:46 PartitionStatisticsFile; written
        by ``update_statistics().compute_partition_statistics()``). Falls
        back to the current snapshot's entry."""
        sid = snapshot_id if snapshot_id is not None else self.table.metadata.current_snapshot_id
        for s in self.table.metadata.partition_statistics:
            if s.get("snapshot-id") == sid:
                from ..io.fileio import to_local

                return self._spark.read.parquet(to_local(s["statistics-path"]))
        raise ValueError(f"no partition statistics registered for snapshot {sid}")

    def position_deletes(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """The live position-delete rows (file_path, pos) of a snapshot —
        Iceberg's position_deletes metadata table (Spark exposes it as
        db.table.position_deletes). Parquet pos-delete files and Puffin
        deletion vectors both expand into the same shape."""
        from . import _pos_deletes_df

        snap = self._snap(snapshot_id)
        paths = sorted(
            e["data_file"]["file_path"]
            for e in (self.table._live_entries(snap) if snap else [])
            if e["data_file"].get("content", 0) == 1
        )
        if not paths:
            return self._spark.createDataFrame([], "file_path: string, pos: long")
        return _pos_deletes_df(self._spark, paths)

    def all_files(self) -> DataFrame:
        """Files across every snapshot (reference inspect.py all_files)."""
        dfs = [self.files(s.snapshot_id) for s in self.table.metadata.snapshots]
        if not dfs:
            return self.files()
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.distinct()

    def all_data_files(self) -> DataFrame:
        return self.all_files().where(F.col("content") == 0)

    def all_delete_files(self) -> DataFrame:
        return self.all_files().where(F.col("content") != 0)

    def all_manifests(self) -> DataFrame:
        dfs = [self.manifests(s.snapshot_id) for s in self.table.metadata.snapshots]
        if not dfs:
            return self.manifests()
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.distinct()
