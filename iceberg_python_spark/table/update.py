"""Table update services: schema evolution, partition-spec evolution,
snapshot management (branches/tags/rollback), snapshot expiration.

Reference parity:
- UpdateSchema     — pyiceberg/table/update/schema.py:77-695
- UpdateSpec       — pyiceberg/table/update/spec.py:49-294
- ManageSnapshots  — pyiceberg/table/update/snapshot.py:807-1030
- ExpireSnapshots  — pyiceberg/table/update/snapshot.py:1033-1133
  (+ orphan-file GC, which the reference leaves to engines — ours is a
  Spark-friendly listing diff)

All updates are staged on a builder and committed via the catalog CAS.
Field-ID discipline: adds allocate fresh IDs; renames keep the ID (so
old data files still resolve by ID); drops retain the ID as tombstoned
(never reused, spec requirement).
"""

from __future__ import annotations

import copy
import os
import time
from typing import Any, Dict, List, Optional, Set, Tuple

from ..partitioning import PartitionField, PartitionSpec
from ..schema import Schema, promote
from ..transforms import IdentityTransform, parse_transform
from ..types import IcebergType, NestedField
from . import _metadata_base
from .metadata import MAIN_BRANCH, SnapshotRef, SortField, SortOrder
from .snapshots import SnapshotLogEntry


def _commit_evolution(table, transaction, new_meta, replay) -> None:
    """Apply a metadata evolution either immediately (table-scoped: one
    CAS commit) or into a live Transaction's evolving metadata
    (reference Transaction.update_schema/update_spec — DDL batches
    atomically with the transaction's data ops). ``replay`` re-derives
    the evolution against a refreshed base for CAS-retry rebase."""
    if transaction is not None:
        transaction.metadata = new_meta
        transaction._dirty = True
        transaction._staged.append(
            {
                "operation": "metadata_evolution",
                "replay": replay,
                "added_files": [],
                "removed_paths": (),
                "conflict_filter": None,  # DDL never claims data files
                "snapshot_properties": {},
            }
        )
    else:
        table.catalog._commit_table(table, new_meta)


class UpdateSchema:
    """Stage add/drop/rename/update-type/make-optional column changes and
    commit them as a new schema version (ID-aware). ``transaction``
    scopes the commit to a live Transaction instead of the table."""

    def __init__(self, table, case_sensitive: bool = True, transaction=None):
        self.table = table
        self._txn = transaction
        self.case_sensitive = case_sensitive
        self._adds: List[Tuple[str, IcebergType, bool, Any]] = []
        self._deletes: Set[int] = set()
        self._renames: Dict[int, str] = {}
        self._type_updates: Dict[int, IcebergType] = {}
        self._requirement_updates: Dict[int, bool] = {}
        self._moves: List[Tuple[int, str, Optional[int]]] = []
        self._identifier_names: Optional[List[str]] = None
        self._doc_updates: Dict[int, str] = {}
        self._write_default_updates: Dict[int, Any] = {}

    def __enter__(self) -> "UpdateSchema":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()

    def add_column(self, name: str, field_type: IcebergType, required: bool = False, default: Any = None) -> "UpdateSchema":
        if required and default is None:
            raise ValueError("adding a required column needs a default (existing rows have no value)")
        self._adds.append((name, field_type, required, default))
        return self

    def delete_column(self, name: str) -> "UpdateSchema":
        self._deletes.add(self._field(name).field_id)
        return self

    def rename_column(self, name: str, new_name: str) -> "UpdateSchema":
        self._renames[self._field(name).field_id] = new_name
        return self

    def update_column_type(self, name: str, new_type: IcebergType) -> "UpdateSchema":
        f = self._field(name)
        if not promote(f.field_type, new_type):
            raise ValueError(f"cannot promote {f.field_type} to {new_type} (allowed: int->long, float->double, decimal widening)")
        self._type_updates[f.field_id] = new_type
        return self

    def make_column_optional(self, name: str) -> "UpdateSchema":
        self._requirement_updates[self._field(name).field_id] = False
        return self

    def update_column(
        self,
        name: str,
        field_type: Optional[IcebergType] = None,
        required: Optional[bool] = None,
        doc: Optional[str] = None,
    ) -> "UpdateSchema":
        """Combined column update (reference update/schema.py:439): any
        of type (promotion rules apply), requiredness (only
        required->optional — the reverse would invalidate existing
        rows), and doc string."""
        f = self._field(name)
        if field_type is not None and field_type != f.field_type:
            self.update_column_type(name, field_type)
        if required is not None and required != f.required:
            if required:
                raise ValueError(f"cannot make optional column {name!r} required (existing rows may hold nulls)")
            self._requirement_updates[f.field_id] = False
        if doc is not None:
            self._doc_updates[f.field_id] = doc
        return self

    def set_default_value(self, name: str, default_value: Any) -> "UpdateSchema":
        """Set (or clear, with None) the column's WRITE default — the
        value writers fill in when the column is absent from incoming
        data (v3 defaults; reference update/schema.py:284). The
        initial-default of existing rows is immutable after creation."""
        f = self._field(name)
        if default_value is None and f.required:
            raise ValueError(f"cannot clear the write default of required column {name!r}")
        self._write_default_updates[f.field_id] = default_value
        return self

    def move_first(self, name: str) -> "UpdateSchema":
        self._moves.append((self._field(name).field_id, "first", None))
        return self

    def move_before(self, name: str, other: str) -> "UpdateSchema":
        self._moves.append((self._field(name).field_id, "before", self._field(other).field_id))
        return self

    def move_after(self, name: str, other: str) -> "UpdateSchema":
        self._moves.append((self._field(name).field_id, "after", self._field(other).field_id))
        return self

    def set_identifier_fields(self, *names: str) -> "UpdateSchema":
        self._identifier_names = list(names)
        return self

    def union_by_name(self, other) -> "UpdateSchema":
        """Add any column present in ``other`` (a Spark StructType or
        Schema) but missing here (reference update/schema.py:146-161)."""
        from pyspark.sql import types as T

        from ..schema import schema_from_spark

        if isinstance(other, T.StructType):
            other = schema_from_spark(other)
        mine = {f.name for f in self._meta().schema().fields}
        for f in other.fields:
            if f.name not in mine:
                self._adds.append((f.name, f.field_type, False, None))
        return self

    def _meta(self):
        return self._txn.metadata if self._txn is not None else self.table.metadata

    def _field(self, name: str) -> NestedField:
        return self._meta().schema().find_field(name, case_sensitive=self.case_sensitive)

    def commit(self) -> None:
        new_meta = self._apply(self._meta())
        _commit_evolution(self.table, self._txn, new_meta, self._apply)

    def _apply(self, meta) -> "TableMetadata":
        schema = meta.schema()
        next_id = meta.last_column_id
        fields: List[NestedField] = []
        for f in schema.fields:
            if f.field_id in self._deletes:
                continue
            fields.append(
                NestedField(
                    f.field_id,
                    self._renames.get(f.field_id, f.name),
                    self._type_updates.get(f.field_id, f.field_type),
                    required=self._requirement_updates.get(f.field_id, f.required),
                    doc=self._doc_updates.get(f.field_id, f.doc),
                    initial_default=f.initial_default,
                    write_default=(
                        self._write_default_updates[f.field_id]
                        if f.field_id in self._write_default_updates
                        else f.write_default
                    ),
                )
            )
        for name, t, required, default in self._adds:
            if any(x.name == name for x in fields):
                raise ValueError(f"column {name!r} already exists")
            next_id += 1
            fields.append(NestedField(next_id, name, t, required=required, initial_default=default))
        for fid, how, other in self._moves:
            moving = next(f for f in fields if f.field_id == fid)
            fields = [f for f in fields if f.field_id != fid]
            if how == "first":
                fields.insert(0, moving)
            else:
                idx = next(i for i, f in enumerate(fields) if f.field_id == other)
                fields.insert(idx if how == "before" else idx + 1, moving)
        new_schema = Schema(*fields, schema_id=max(s.schema_id for s in meta.schemas) + 1)
        if self._identifier_names is not None:
            ident = [new_schema.find_field(n).field_id for n in self._identifier_names]
            new_schema = Schema(*fields, schema_id=new_schema.schema_id, identifier_field_ids=ident)
        else:
            kept = [fid for fid in schema.identifier_field_ids if fid not in self._deletes]
            new_schema = Schema(*fields, schema_id=new_schema.schema_id, identifier_field_ids=kept)
        new_meta = copy.deepcopy(meta)
        new_meta.schemas.append(new_schema)
        new_meta.current_schema_id = new_schema.schema_id
        new_meta.last_column_id = max(next_id, new_schema.highest_field_id)
        new_meta.last_updated_ms = int(time.time() * 1000)
        return new_meta


class UpdateSpec:
    """Partition evolution: add/remove partition fields; old data keeps its
    old spec_id and the planner evaluates filters per spec. ``transaction``
    scopes the commit to a live Transaction instead of the table."""

    def __init__(self, table, transaction=None):
        self.table = table
        self._txn = transaction
        self._adds: List[Tuple[str, str, Optional[str]]] = []
        self._removes: Set[str] = set()
        self._renames: Dict[str, str] = {}

    def _meta(self):
        return self._txn.metadata if self._txn is not None else self.table.metadata

    def __enter__(self) -> "UpdateSpec":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()

    def add_field(self, source_column: str, transform: str = "identity", name: Optional[str] = None) -> "UpdateSpec":
        self._adds.append((source_column, transform, name))
        return self

    def add_identity(self, source_column: str) -> "UpdateSpec":
        """Convenience for identity partitioning (reference
        update/spec.py add_identity)."""
        return self.add_field(source_column, "identity")

    def remove_field(self, name: str) -> "UpdateSpec":
        self._removes.add(name)
        return self

    def rename_field(self, name: str, new_name: str) -> "UpdateSpec":
        self._renames[name] = new_name
        return self

    def commit(self) -> None:
        new_meta = self._apply(self._meta())
        _commit_evolution(self.table, self._txn, new_meta, self._apply)

    def _apply(self, meta) -> "TableMetadata":
        schema = meta.schema()
        spec = meta.spec()
        next_field_id = meta.last_partition_id
        fields: List[PartitionField] = []
        for pf in spec.fields:
            if pf.name in self._removes:
                continue
            fields.append(
                PartitionField(pf.source_id, pf.field_id, pf.transform, self._renames.get(pf.name, pf.name))
            )
        for source_column, transform, name in self._adds:
            src = schema.find_field(source_column)
            tf = parse_transform(transform)
            default_name = source_column if isinstance(tf, IdentityTransform) else f"{source_column}_{transform.split('[')[0]}"
            pname = name or default_name
            if any(f.name == pname for f in fields):
                raise ValueError(f"partition field {pname!r} already exists")
            next_field_id += 1
            fields.append(PartitionField(src.field_id, next_field_id, tf, pname))
        new_spec = PartitionSpec(*fields, spec_id=max(s.spec_id for s in meta.partition_specs) + 1)
        new_meta = copy.deepcopy(meta)
        new_meta.partition_specs.append(new_spec)
        new_meta.default_spec_id = new_spec.spec_id
        new_meta.last_partition_id = max(next_field_id, meta.last_partition_id)
        new_meta.last_updated_ms = int(time.time() * 1000)
        return new_meta


class UpdateSortOrder:
    """Sort-order evolution (reference table/update/sorting.py:37-136).
    Unlike the reference — which records sort orders but does not yet sort
    on write (io/pyarrow.py:2768) — our writer honors the active order via
    sortWithinPartitions, improving scan locality and min/max pruning."""

    def __init__(self, table, transaction=None):
        self.table = table
        self._txn = transaction
        self._fields: List[SortField] = []

    def _meta(self):
        return self._txn.metadata if self._txn is not None else self.table.metadata

    def __enter__(self) -> "UpdateSortOrder":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()

    def asc(self, name: str, null_order: str = "nulls-first") -> "UpdateSortOrder":
        f = self._meta().schema().find_field(name)
        self._fields.append(SortField(f.field_id, "identity", "asc", null_order))
        return self

    def desc(self, name: str, null_order: str = "nulls-last") -> "UpdateSortOrder":
        f = self._meta().schema().find_field(name)
        self._fields.append(SortField(f.field_id, "identity", "desc", null_order))
        return self

    def commit(self) -> None:
        new_meta = self._apply(self._meta())
        _commit_evolution(self.table, self._txn, new_meta, self._apply)

    def _apply(self, meta) -> "TableMetadata":
        new_meta = copy.deepcopy(meta)
        order = SortOrder(order_id=max((o.order_id for o in new_meta.sort_orders), default=0) + 1, fields=self._fields)
        new_meta.sort_orders.append(order)
        new_meta.default_sort_order_id = order.order_id
        new_meta.last_updated_ms = int(time.time() * 1000)
        return new_meta


class UpdateStatistics:
    """Table statistics (reference table/update/statistics.py:74 +
    table/statistics.py StatisticsFile): NDV per column computed by one
    Spark job, written as a Puffin statistics file with one
    apache-datasketches-theta-v1 blob per column (real compact theta
    bytes, datasketches-java-readable — see puffin.theta_sketch_bytes)
    and registered under ``statistics`` in the metadata JSON. The legacy
    ``statistics.ndv`` property is kept for compatibility."""

    def __init__(self, table):
        self.table = table
        self._ndv: Dict[int, int] = {}
        self._sketches: Dict[int, List[int]] = {}
        self._removed_snapshot_ids: List[int] = []
        self._compute_partition_stats = False
        self._removed_partition_snapshot_ids: List[int] = []

    def compute(self, *columns: str) -> "UpdateStatistics":
        """approx_count_distinct over the current snapshot (one Spark job)."""
        from pyspark.sql import functions as F

        schema = self.table.metadata.schema()
        cols = list(columns) or [f.name for f in schema.fields if f.field_type.is_primitive]
        df = self.table.scan(selected_fields=tuple(cols)).to_df()
        row = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cols]).collect()[0]
        for c in cols:
            self._ndv[schema.find_field(c).field_id] = int(row[c])
        return self

    def compute_sketches(self, *columns: str, lg_k: int = 12) -> "UpdateStatistics":
        """REAL theta sketches per column in ONE Spark pass: columns
        melt to (name, xxhash64) pairs, then the KMV build groups by
        name (operators/sketch.theta_build, pre-hashed path). The
        Puffin blob then carries the actual retained hash set
        (puffin.theta_sketch_bytes_from_hashes), so cross-snapshot /
        cross-column set algebra over stored statistics blobs is
        meaningful — not just the NDV number. NDV itself comes from
        the sketch (exact below 2^lg_k retained hashes)."""
        from pyspark.sql import functions as F

        from ..operators.sketch import theta_build, theta_estimate

        schema = self.table.metadata.schema()
        cols = list(columns) or [f.name for f in schema.fields if f.field_type.is_primitive]
        df = self.table.scan(selected_fields=tuple(cols)).to_df()
        melted = (
            df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("_col"),
                                F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))).alias("_vh"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("_e")
            )
            .select(F.col("_e._col").alias("_col"), F.col("_e._vh").alias("_vh"))
        )
        sk = theta_build(melted, "_vh", ["_col"], lg_k=lg_k, pre_hashed=True)
        for row in theta_estimate(sk, ["_col"], lg_k=lg_k).collect():
            fid = schema.find_field(row["_col"]).field_id
            self._sketches[fid] = list(row["sketch"])
            self._ndv[fid] = int(round(row["est_distinct"]))
        self._sketch_k = 1 << lg_k
        return self

    def set_ndv(self, column: str, ndv: int) -> "UpdateStatistics":
        self._ndv[self.table.metadata.schema().find_field(column).field_id] = ndv
        return self

    def remove_statistics(self, snapshot_id: int) -> "UpdateStatistics":
        """Drop the statistics file entry for a snapshot (reference
        update/statistics.py RemoveStatisticsUpdate)."""
        self._removed_snapshot_ids.append(snapshot_id)
        return self

    def compute_partition_statistics(self) -> "UpdateStatistics":
        """Stage a partition-statistics file for the current snapshot
        (reference table/statistics.py:46 PartitionStatisticsFile +
        SetPartitionStatisticsUpdate; the Iceberg compute-partition-stats
        action). One Spark aggregation over the manifest entries produces
        the spec's partition-stats rows — per (partition, spec_id):
        data/position-delete/equality-delete record and file counts, total
        data size, last-updated snapshot — written as ONE parquet file."""
        self._compute_partition_stats = True
        return self

    def remove_partition_statistics(self, snapshot_id: int) -> "UpdateStatistics":
        """Reference update/statistics.py RemovePartitionStatisticsUpdate."""
        self._removed_partition_snapshot_ids.append(snapshot_id)
        return self

    def _write_partition_stats(self, meta) -> Optional[Dict[str, Any]]:
        import posixpath
        import uuid as _uuid

        from pyspark.sql import functions as F

        snap = meta.current_snapshot()
        if snap is None:
            return None
        entries = self.table.inspect.entries(snap.snapshot_id).where(F.col("status") != 2)
        data = F.col("content") == 0
        pos = F.col("content") == 1
        eq = F.col("content") == 2
        stats = (
            entries.groupBy("partition_json", "spec_id")
            .agg(
                F.sum(F.when(data, F.col("record_count")).otherwise(0)).alias("data_record_count"),
                F.sum(F.when(data, 1).otherwise(0)).alias("data_file_count"),
                F.sum(F.when(data, F.col("file_size_in_bytes")).otherwise(0)).alias(
                    "total_data_file_size_in_bytes"
                ),
                F.sum(F.when(pos, F.col("record_count")).otherwise(0)).alias(
                    "position_delete_record_count"
                ),
                F.sum(F.when(pos, 1).otherwise(0)).alias("position_delete_file_count"),
                F.sum(F.when(eq, F.col("record_count")).otherwise(0)).alias(
                    "equality_delete_record_count"
                ),
                F.sum(F.when(eq, 1).otherwise(0)).alias("equality_delete_file_count"),
                # snapshot ids are random 62-bit values, not monotonic —
                # "last updated" must follow the commit order, which
                # sequence_number carries
                F.expr("max_by(snapshot_id, sequence_number)").alias("last_updated_snapshot_id"),
            )
            .withColumn("partition", F.col("partition_json"))
            .drop("partition_json")
        )
        # the rollup is O(partitions) — metadata scale (SCALE.md) — and the
        # spec wants ONE stats file, so materialize via Arrow and write once
        import io as _io

        import pyarrow.parquet as _pq

        from ..io.fileio import write_bytes

        arrow = stats.toArrow()
        buf = _io.BytesIO()
        _pq.write_table(arrow, buf, compression="zstd")
        data_bytes = buf.getvalue()
        path = posixpath.join(
            _metadata_base(meta), f"partition-stats-{snap.snapshot_id}-{_uuid.uuid4()}.parquet"
        )
        write_bytes(path, data_bytes, self.table.spark)
        return {
            "snapshot-id": snap.snapshot_id,
            "statistics-path": path,
            "file-size-in-bytes": len(data_bytes),
        }

    def commit(self) -> None:
        import json as _json
        import posixpath
        import uuid as _uuid

        from ..io import fileio
        from .puffin import (
            BLOB_TYPE_THETA,
            PuffinWriter,
            theta_sketch_bytes,
            theta_sketch_bytes_from_hashes,
        )

        meta = copy.deepcopy(self.table.metadata)
        snap = meta.current_snapshot()
        meta.statistics = [
            s for s in meta.statistics if s.get("snapshot-id") not in self._removed_snapshot_ids
        ]
        meta.partition_statistics = [
            s
            for s in meta.partition_statistics
            if s.get("snapshot-id") not in self._removed_partition_snapshot_ids
        ]
        if self._compute_partition_stats:
            entry = self._write_partition_stats(meta)
            if entry is not None:
                # one PartitionStatisticsFile per snapshot (reference
                # SetPartitionStatisticsUpdate replaces same-snapshot entry)
                meta.partition_statistics = [
                    s
                    for s in meta.partition_statistics
                    if s.get("snapshot-id") != entry["snapshot-id"]
                ] + [entry]
        if self._ndv and snap is not None:
            writer = PuffinWriter(properties={"created-by": "iceberg_python_spark"})
            for fid in sorted(self._ndv):
                # compute_sketches() path: the blob carries the REAL
                # retained-hash set; set_ndv/compute() fall back to the
                # synthesized estimate-only sketch
                if fid in self._sketches:
                    blob = theta_sketch_bytes_from_hashes(
                        self._sketches[fid], getattr(self, "_sketch_k", 4096)
                    )
                else:
                    blob = theta_sketch_bytes(self._ndv[fid])
                writer.add_blob(
                    BLOB_TYPE_THETA,
                    blob,
                    fields=[fid],
                    snapshot_id=snap.snapshot_id,
                    sequence_number=snap.sequence_number,
                    properties={"ndv": str(self._ndv[fid])},
                )
            blob_meta = [b.to_json() for b in writer._blobs]
            footer_size = writer.footer_size
            data = writer.finish()
            path = posixpath.join(
                _metadata_base(meta), f"{_uuid.uuid4()}.stats.puffin"
            )
            fileio.write_bytes(path, data, self.table.spark)
            # one StatisticsFile per snapshot (reference set_statistics
            # replaces any previous entry for the same snapshot id)
            meta.statistics = [
                s for s in meta.statistics if s.get("snapshot-id") != snap.snapshot_id
            ] + [
                {
                    "snapshot-id": snap.snapshot_id,
                    "statistics-path": path,
                    "file-size-in-bytes": len(data),
                    "file-footer-size-in-bytes": footer_size,
                    "blob-metadata": blob_meta,
                }
            ]
        if self._ndv:
            entry = {
                "snapshot-id": snap.snapshot_id if snap else None,
                "ndv": {str(k): v for k, v in self._ndv.items()},
            }
            meta.properties = dict(meta.properties)
            meta.properties["statistics.ndv"] = _json.dumps(entry)
        meta.last_updated_ms = int(time.time() * 1000)
        self.table.catalog._commit_table(self.table, meta)


class ManageSnapshots:
    """Tags, branches, rollback (reference update/snapshot.py:807-1030)."""

    def __init__(self, table):
        self.table = table
        self._new_refs: Dict[str, SnapshotRef] = {}
        self._removed_refs: Set[str] = set()
        self._new_current: Optional[int] = None

    def __enter__(self) -> "ManageSnapshots":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()

    def create_tag(
        self, snapshot_id: int, tag_name: str, max_ref_age_ms: Optional[int] = None
    ) -> "ManageSnapshots":
        self._new_refs[tag_name] = SnapshotRef(snapshot_id, "tag", max_ref_age_ms=max_ref_age_ms)
        return self

    def create_branch(
        self,
        snapshot_id: int,
        branch_name: str,
        max_ref_age_ms: Optional[int] = None,
        max_snapshot_age_ms: Optional[int] = None,
        min_snapshots_to_keep: Optional[int] = None,
    ) -> "ManageSnapshots":
        self._new_refs[branch_name] = SnapshotRef(
            snapshot_id,
            "branch",
            min_snapshots_to_keep=min_snapshots_to_keep,
            max_snapshot_age_ms=max_snapshot_age_ms,
            max_ref_age_ms=max_ref_age_ms,
        )
        return self

    def remove_tag(self, tag_name: str) -> "ManageSnapshots":
        self._removed_refs.add(tag_name)
        return self

    def remove_branch(self, branch_name: str) -> "ManageSnapshots":
        self._removed_refs.add(branch_name)
        return self

    def set_current_snapshot(self, snapshot_id: Optional[int] = None, ref_name: Optional[str] = None) -> "ManageSnapshots":
        if snapshot_id is None:
            ref = self.table.metadata.refs.get(ref_name)
            if ref is None:
                raise ValueError(f"unknown ref {ref_name!r}")
            snapshot_id = ref.snapshot_id
        if self.table.metadata.snapshot_by_id(snapshot_id) is None:
            raise ValueError(f"snapshot {snapshot_id} not found")
        self._new_current = snapshot_id
        return self

    def rollback_to_snapshot(self, snapshot_id: int) -> "ManageSnapshots":
        return self.set_current_snapshot(snapshot_id)

    def rollback_to_timestamp(self, timestamp_ms: int) -> "ManageSnapshots":
        snap = self.table.metadata.snapshot_as_of_timestamp(timestamp_ms)
        if snap is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return self.set_current_snapshot(snap.snapshot_id)

    def commit(self) -> None:
        meta = copy.deepcopy(self.table.metadata)
        for name, ref in self._new_refs.items():
            if meta.snapshot_by_id(ref.snapshot_id) is None:
                raise ValueError(f"snapshot {ref.snapshot_id} not found")
            meta.refs[name] = ref
        for name in self._removed_refs:
            if name == MAIN_BRANCH:
                raise ValueError("cannot remove the main branch")
            meta.refs.pop(name, None)
        if self._new_current is not None:
            meta.current_snapshot_id = self._new_current
            meta.refs[MAIN_BRANCH] = SnapshotRef(self._new_current, "branch")
            meta.snapshot_log.append(SnapshotLogEntry(self._new_current, int(time.time() * 1000)))
        meta.last_updated_ms = int(time.time() * 1000)
        self.table.catalog._commit_table(self.table, meta)


class ExpireSnapshots:
    """Expire old snapshots while protecting every ref head and ancestors
    of live refs as needed (reference update/snapshot.py:1033-1133), then
    optionally delete files no surviving snapshot references."""

    def __init__(self, table):
        self.table = table
        self._expire_ids: Set[int] = set()
        self._older_than_ms: Optional[int] = None

    def expire_snapshot_id(self, snapshot_id: int) -> "ExpireSnapshots":
        self._expire_ids.add(snapshot_id)
        return self

    def expire_older_than(self, timestamp_ms: int) -> "ExpireSnapshots":
        self._older_than_ms = timestamp_ms
        return self

    def commit(self, clean_files: bool = True, now_ms: Optional[int] = None) -> List[str]:
        meta = copy.deepcopy(self.table.metadata)
        now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
        props = meta.properties or {}
        if not self._expire_ids and self._older_than_ms is None:
            # no explicit target: apply the table's retention properties
            # (reference TableProperties history.expire.max-snapshot-age-ms,
            # default 5 days — table/__init__.py:209-213)
            max_age = int(props.get("history.expire.max-snapshot-age-ms", str(5 * 24 * 3600 * 1000)))
            self._older_than_ms = now_ms - max_age
        # 1. retire refs past their max-ref-age (reference
        #    update/snapshot.py:1049-1060; main never retires)
        for name, ref in list(meta.refs.items()):
            if name == MAIN_BRANCH or ref.max_ref_age_ms is None:
                continue
            snap = meta.snapshot_by_id(ref.snapshot_id)
            ref_age = now_ms - (snap.timestamp_ms if snap else 0)
            if ref_age > ref.max_ref_age_ms:
                meta.refs.pop(name)
        # 2. protection: every surviving ref head, the current snapshot,
        #    and each branch's ancestors per its retention policy — the
        #    newest min-snapshots-to-keep (default 1 = head only) plus any
        #    ancestor younger than max-snapshot-age-ms
        protected = {ref.snapshot_id for ref in meta.refs.values()}
        if meta.current_snapshot_id is not None:
            protected.add(meta.current_snapshot_id)
        for ref in meta.refs.values():
            if ref.type != "branch":
                continue
            keep_n = ref.min_snapshots_to_keep or int(
                props.get("history.expire.min-snapshots-to-keep", "1")
            )
            count = 0
            sid = ref.snapshot_id
            while sid is not None:
                snap = meta.snapshot_by_id(sid)
                if snap is None:
                    break
                count += 1
                within_count = count <= keep_n
                within_age = (
                    ref.max_snapshot_age_ms is not None
                    and (now_ms - snap.timestamp_ms) <= ref.max_snapshot_age_ms
                )
                if not (within_count or within_age):
                    break  # older ancestors are not protected by this branch
                protected.add(sid)
                sid = snap.parent_snapshot_id
        to_expire = set(self._expire_ids)
        if self._older_than_ms is not None:
            to_expire |= {s.snapshot_id for s in meta.snapshots if s.timestamp_ms < self._older_than_ms}
        to_expire -= protected
        refs_changed = set(meta.refs) != set(self.table.metadata.refs)
        if not to_expire:
            if refs_changed:  # aged-out refs still need committing
                meta.last_updated_ms = int(time.time() * 1000)
                self.table.catalog._commit_table(self.table, meta)
            return []
        survivors = [s for s in meta.snapshots if s.snapshot_id not in to_expire]
        expired = [s for s in meta.snapshots if s.snapshot_id in to_expire]
        meta.snapshots = survivors
        meta.snapshot_log = [e for e in meta.snapshot_log if e.snapshot_id not in to_expire]
        # statistics files follow their snapshot (reference
        # table/statistics.py filter_statistics_by_snapshot_id)
        expired_stats = [s for s in meta.statistics if s.get("snapshot-id") in to_expire]
        meta.statistics = [s for s in meta.statistics if s.get("snapshot-id") not in to_expire]
        expired_stats += [s for s in meta.partition_statistics if s.get("snapshot-id") in to_expire]
        meta.partition_statistics = [
            s for s in meta.partition_statistics if s.get("snapshot-id") not in to_expire
        ]
        meta.last_updated_ms = int(time.time() * 1000)
        self.table.catalog._commit_table(self.table, meta)

        removed: List[str] = []
        if clean_files:
            removed = self._clean_orphaned(survivors, expired)
            from ..io.fileio import remove as _rm

            for s in expired_stats:
                if s.get("statistics-path") and _rm(s["statistics-path"], self.table.spark):
                    removed.append(s["statistics-path"])
        return removed

    def _clean_orphaned(self, survivors, expired) -> List[str]:
        """Delete data/manifest files referenced only by expired snapshots.
        File GC is a set difference over manifests — at large scale this
        becomes a Spark anti-join over manifest DataFrames."""
        meta = self.table.metadata

        def files_of(snapshots) -> Tuple[Set[str], Set[str]]:
            data, mfs = set(), set()
            for s in snapshots:
                try:
                    from .manifests import read_manifest, read_manifest_list

                    mlist = read_manifest_list(s.manifest_list, meta.spec_by_id, meta.schema())
                except FileNotFoundError:
                    continue
                mfs.add(s.manifest_list)
                for m in mlist:
                    mfs.add(m["manifest_path"])
                    from .manifests import read_manifest

                    spec = meta.spec_by_id(m["spec_id"])
                    for e in read_manifest(m["manifest_path"], meta.schema(), spec, manifest=m):
                        data.add(e["data_file"]["file_path"])
            return data, mfs

        live_data, live_manifests = files_of(survivors)
        dead_data, dead_manifests = files_of(expired)
        from ..io.fileio import remove as _rm

        removed = []
        for p in (dead_data - live_data) | (dead_manifests - live_manifests):
            if _rm(p, self.table.spark):
                removed.append(p)
        return removed
