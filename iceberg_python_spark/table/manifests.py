"""Manifests and manifest lists, stored as parquet.

Reference model: pyiceberg/manifest.py:465 (DataFile), :599 (ManifestEntry),
:783 (ManifestFile), :653 (PartitionFieldSummary), :711
(construct_partition_summaries). The reference stores these as Avro; we
store parquet for two reasons (SURVEY.md §7): Spark/pyarrow read it
natively, and at large manifest counts the planner can load ALL manifests
as one Spark DataFrame for distributed scan planning instead of looping
on the driver.

A DataFile is a plain dict:
  content (0=data, 1=position-deletes), file_path, file_format, spec_id,
  partition (name -> internal value), record_count, file_size_in_bytes,
  value_counts / null_value_counts / nan_value_counts /
  lower_bounds / upper_bounds (field_id -> internal value).

A ManifestEntry adds: status (1=added, 0=existing, 2=deleted),
snapshot_id, sequence_number.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from typing import Any, Callable, Dict, Iterable, List, Mapping, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from ..conversions import json_decoder, value_to_json
from ..partitioning import PartitionSpec
from ..schema import Schema

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2


def _write_parquet(table: pa.Table, path: str) -> None:
    """Scheme-aware manifest write: local direct; remote via an in-memory
    buffer through the Hadoop FS (manifests are small metadata files)."""
    from ..io import fileio

    if fileio.is_remote(path):
        import io as _io

        buf = _io.BytesIO()
        pq.write_table(table, buf)
        fileio.write_bytes(path, buf.getvalue())
        return
    local = fileio.to_local(path)
    os.makedirs(os.path.dirname(local), exist_ok=True)
    pq.write_table(table, local)


def _read_parquet(path: str) -> pa.Table:
    from ..io import fileio

    if fileio.is_remote(path):
        import io as _io

        return pq.read_table(_io.BytesIO(fileio.read_bytes(path)))
    return pq.read_table(fileio.to_local(path))

_MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("status", pa.int32()),
        pa.field("snapshot_id", pa.int64()),
        pa.field("sequence_number", pa.int64()),
        pa.field("content", pa.int32()),
        pa.field("file_path", pa.string()),
        pa.field("file_format", pa.string()),
        pa.field("spec_id", pa.int32()),
        pa.field("schema_id", pa.int32()),
        pa.field("partition_json", pa.string()),
        pa.field("record_count", pa.int64()),
        pa.field("file_size_in_bytes", pa.int64()),
        pa.field("stats_json", pa.string()),
    ]
)

_MANIFEST_LIST_SCHEMA = pa.schema(
    [
        pa.field("manifest_path", pa.string()),
        pa.field("added_snapshot_id", pa.int64()),
        pa.field("min_sequence_number", pa.int64()),
        pa.field("spec_id", pa.int32()),
        pa.field("content", pa.int32()),
        pa.field("added_files_count", pa.int32()),
        pa.field("existing_files_count", pa.int32()),
        pa.field("deleted_files_count", pa.int32()),
        pa.field("added_rows_count", pa.int64()),
        pa.field("existing_rows_count", pa.int64()),
        pa.field("partition_summaries_json", pa.string()),
    ]
)


def _stats_to_json(data_file: Mapping[str, Any], schema: Schema) -> str:
    out: Dict[str, Any] = {}
    if data_file.get("equality_ids"):
        out["equality_ids"] = [int(x) for x in data_file["equality_ids"]]
    if data_file.get("name_map"):
        out["name_map"] = {str(k): v for k, v in data_file["name_map"].items()}
    if data_file.get("referenced_data_file"):
        # v3 deletion-vector entries (spec data_file fields 143-145)
        out["referenced_data_file"] = data_file["referenced_data_file"]
        for k in ("content_offset", "content_size_in_bytes"):
            if data_file.get(k) is not None:
                out[k] = int(data_file[k])
    if data_file.get("first_row_id") is not None:
        # v3 row lineage (spec data_file field 142)
        out["first_row_id"] = int(data_file["first_row_id"])
    for key in ("value_counts", "null_value_counts", "nan_value_counts"):
        m = data_file.get(key) or {}
        out[key] = {str(k): int(v) for k, v in m.items()}
    for key in ("lower_bounds", "upper_bounds"):
        m = data_file.get(key) or {}
        enc = {}
        for fid, v in m.items():
            try:
                t = schema.find_field(int(fid)).field_type
            except ValueError:
                continue  # column dropped from schema; stat no longer usable
            enc[str(fid)] = value_to_json(v, t)
        out[key] = enc
    return json.dumps(out)


def _bound_decoders(schema: Schema) -> Dict[str, Tuple[int, Callable[[Any], Any]]]:
    """JSON stats key -> (field id, value decoder) for every field of
    ``schema``; built once per manifest, not once per bound."""
    return {str(fid): (fid, json_decoder(schema.find_field(fid).field_type)) for fid in schema.field_ids()}


def _stats_from_json(s: Optional[str], decoders: Mapping[str, Tuple[int, Callable[[Any], Any]]]) -> Dict[str, Any]:
    if not s:
        return {}
    raw = json.loads(s)
    out: Dict[str, Any] = {}
    if raw.get("equality_ids"):
        out["equality_ids"] = [int(x) for x in raw["equality_ids"]]
    if raw.get("name_map"):
        out["name_map"] = {int(k): v for k, v in raw["name_map"].items()}
    if raw.get("referenced_data_file"):
        out["referenced_data_file"] = raw["referenced_data_file"]
        for key in ("content_offset", "content_size_in_bytes"):
            if raw.get(key) is not None:
                out[key] = int(raw[key])
    if raw.get("first_row_id") is not None:
        out["first_row_id"] = int(raw["first_row_id"])
    for key in ("value_counts", "null_value_counts", "nan_value_counts"):
        out[key] = {int(k): int(v) for k, v in (raw.get(key) or {}).items()}
    for key in ("lower_bounds", "upper_bounds"):
        dec = {}
        for k, v in (raw.get(key) or {}).items():
            hit = decoders.get(k)
            if hit is not None:  # else: column dropped from the schema
                dec[hit[0]] = None if v is None else hit[1](v)
        out[key] = dec
    return out


def _partition_to_json(partition: Mapping[str, Any], spec: PartitionSpec, schema: Schema) -> str:
    part_schema = spec.partition_schema(schema)
    return json.dumps(
        {name: value_to_json(v, part_schema.find_field(name).field_type) for name, v in partition.items()}
    )


def _partition_decoders(spec: PartitionSpec, schema: Schema) -> Dict[str, Callable[[Any], Any]]:
    """Partition field name -> value decoder under ``schema``."""
    return {f.name: json_decoder(f.field_type) for f in spec.partition_schema(schema).fields}


def _partition_from_json(s: Optional[str], decoders: Mapping[str, Callable[[Any], Any]]) -> Dict[str, Any]:
    if not s:
        return {}
    out = {}
    for name, v in json.loads(s).items():
        dec = decoders.get(name)
        if dec is not None:  # else: partition field from an older spec
            out[name] = None if v is None else dec(v)
    return out


def write_manifest(
    path: str,
    entries: List[Dict[str, Any]],
    schema: Schema,
    spec: PartitionSpec,
    fmt: str = "parquet",
    codec: str = "deflate",
) -> Dict[str, Any]:
    """Write manifest entries; return the ManifestFile descriptor (with
    partition summaries) for the manifest list.

    ``fmt="parquet"`` (default) is the engine-native layout Spark reads
    directly; ``fmt="avro"`` writes the spec's Avro manifest format so
    OTHER Iceberg engines can read this table's metadata natively
    (``write.metadata.format=avro`` table property; the read path
    dispatches on extension either way)."""
    if fmt == "avro":
        from .avro_manifests import write_avro_manifest

        length = write_avro_manifest(path, entries, schema, spec, codec=codec)
        live = [e for e in entries if e["status"] != STATUS_DELETED]
        summaries = construct_partition_summaries(
            [e["data_file"].get("partition", {}) for e in live], spec, schema
        )
        return {
            "manifest_path": path,
            "manifest_length": length,
            "added_snapshot_id": entries[0]["snapshot_id"] if entries else -1,
            "sequence_number": max((e["sequence_number"] for e in entries), default=0),
            "min_sequence_number": min((e["sequence_number"] for e in entries), default=0),
            "spec_id": spec.spec_id,
            "content": entries[0]["data_file"].get("content", CONTENT_DATA) if entries else CONTENT_DATA,
            "added_files_count": sum(1 for e in entries if e["status"] == STATUS_ADDED),
            "existing_files_count": sum(1 for e in entries if e["status"] == STATUS_EXISTING),
            "deleted_files_count": sum(1 for e in entries if e["status"] == STATUS_DELETED),
            "added_rows_count": sum(
                e["data_file"].get("record_count", 0) for e in entries if e["status"] == STATUS_ADDED
            ),
            "existing_rows_count": sum(
                e["data_file"].get("record_count", 0) for e in entries if e["status"] == STATUS_EXISTING
            ),
            "partition_summaries": summaries,
        }
    rows = {name: [] for name in _MANIFEST_SCHEMA.names}
    for e in entries:
        df = e["data_file"]
        rows["status"].append(e["status"])
        rows["snapshot_id"].append(e["snapshot_id"])
        rows["sequence_number"].append(e["sequence_number"])
        rows["content"].append(df.get("content", CONTENT_DATA))
        rows["file_path"].append(df["file_path"])
        rows["file_format"].append(df.get("file_format", "PARQUET"))
        rows["spec_id"].append(spec.spec_id)
        rows["schema_id"].append(df.get("schema_id", schema.schema_id))
        rows["partition_json"].append(_partition_to_json(df.get("partition", {}), spec, schema))
        rows["record_count"].append(df.get("record_count", 0))
        rows["file_size_in_bytes"].append(df.get("file_size_in_bytes", 0))
        rows["stats_json"].append(_stats_to_json(df, schema))
    _write_parquet(pa.table(rows, schema=_MANIFEST_SCHEMA), path)

    live = [e for e in entries if e["status"] != STATUS_DELETED]
    summaries = construct_partition_summaries([e["data_file"].get("partition", {}) for e in live], spec, schema)
    return {
        "manifest_path": path,
        "added_snapshot_id": entries[0]["snapshot_id"] if entries else -1,
        "min_sequence_number": min((e["sequence_number"] for e in entries), default=0),
        "spec_id": spec.spec_id,
        "content": entries[0]["data_file"].get("content", CONTENT_DATA) if entries else CONTENT_DATA,
        "added_files_count": sum(1 for e in entries if e["status"] == STATUS_ADDED),
        "existing_files_count": sum(1 for e in entries if e["status"] == STATUS_EXISTING),
        "deleted_files_count": sum(1 for e in entries if e["status"] == STATUS_DELETED),
        "added_rows_count": sum(e["data_file"].get("record_count", 0) for e in entries if e["status"] == STATUS_ADDED),
        "existing_rows_count": sum(
            e["data_file"].get("record_count", 0) for e in entries if e["status"] == STATUS_EXISTING
        ),
        "partition_summaries": summaries,
    }


#: process-wide decode-once cache for manifests and manifest lists. By
#: the Iceberg spec both are immutable: a committed metadata file is
#: never rewritten in place, and every write gets a fresh uuid or
#: snapshot-id path. So a decode keyed by the path plus everything the
#: decode depends on (the read schema's fields, the spec's fields and,
#: for Avro manifests, what entries inherit from the manifest-list row)
#: never goes stale, and a repeat plan of an unchanged snapshot skips
#: the file read and the JSON stats/partition decode. Callers get fresh
#: entry and data_file dicts over the cached decode, so setting e.g.
#: ``e["status"]`` (commit carry-forward, manifest merging) cannot
#: corrupt it; the nested maps (partition, bounds, counts) are shared
#: and must be treated as read-only. LRU, bounded by the estimated
#: driver-heap bytes of the cached decodes (``_decode_cost``), so a wide
#: table holds fewer entries than a narrow one under the same bound.
_DECODE_CACHE: "OrderedDict[Tuple, Tuple[int, Any]]" = OrderedDict()
_DECODE_CACHE_MAX_BYTES = 64 << 20
#: ``_decode_cost`` constants, from tracemalloc over decoded parquet and
#: Avro manifests of 1-200 long/double/timestamp/string columns
#: (CPython 3.11): an entry with one stats column holds ~1.9-2.1 KB,
#: each further stats value (a count or a bound) ~45-75 B plus the
#: characters of a string bound. Both constants round up, so the
#: estimate stays at or above the measured size.
_ROW_BYTES = 2048
_VALUE_BYTES = 96
#: planners run on overlapped driver threads; an unguarded move_to_end
#: racing a popitem would KeyError
_DECODE_CACHE_LOCK = threading.Lock()
_decode_cache_bytes = 0


def clear_decode_cache() -> None:
    """Drop every cached manifest / manifest-list decode (cold-planning
    measurements and tests)."""
    global _decode_cache_bytes
    with _DECODE_CACHE_LOCK:
        _DECODE_CACHE.clear()
        _decode_cache_bytes = 0


def _decode_cost(rows: List[Dict[str, Any]]) -> int:
    """Estimated driver-heap bytes of a decoded manifest (entries) or
    manifest list (rows): a fixed cost per row plus one per value of its
    per-column maps (stats, partition, partition summaries), plus the
    length of string and binary values."""
    cost = 0
    for r in rows:
        cost += _ROW_BYTES
        for v in r.get("data_file", r).values():
            if isinstance(v, Mapping):
                for x in v.values():
                    cost += _VALUE_BYTES * (len(x) if isinstance(x, Mapping) else 1)
                    if isinstance(x, (str, bytes)):
                        cost += len(x)
    return cost


def _cache_get(key: Tuple) -> Any:
    try:
        with _DECODE_CACHE_LOCK:
            hit = _DECODE_CACHE.get(key)
            if hit is None:
                return None
            _DECODE_CACHE.move_to_end(key)
            return hit[1]
    except TypeError:  # a field default can in principle be unhashable
        return None


def _cache_put(key: Tuple, rows: List[Dict[str, Any]]) -> None:
    global _decode_cache_bytes
    cost = _decode_cost(rows)
    if cost > _DECODE_CACHE_MAX_BYTES:
        return
    with _DECODE_CACHE_LOCK:
        try:
            old = _DECODE_CACHE.pop(key, None)
        except TypeError:
            return  # unhashable key: the decode stays uncached
        if old is not None:
            _decode_cache_bytes -= old[0]
        _DECODE_CACHE[key] = (cost, rows)
        _decode_cache_bytes += cost
        while _decode_cache_bytes > _DECODE_CACHE_MAX_BYTES:
            _, (c, _v) = _DECODE_CACHE.popitem(last=False)
            _decode_cache_bytes -= c


def read_manifest(
    path: str, schema: Schema, spec: PartitionSpec, manifest: Optional[Mapping[str, Any]] = None
) -> List[Dict[str, Any]]:
    """Read manifest entries (driver-side; manifests are small), decoded
    once per process (see ``_DECODE_CACHE``).

    Dispatches on extension: our own manifests are parquet; ``.avro``
    manifests come from real Iceberg tables (spec format) and decode
    through :mod:`.avro_manifests` with sequence-number inheritance from
    the ``manifest`` descriptor."""
    avro = path.endswith(".avro")
    key: Tuple = ("manifest", path, schema.fields, spec.fields)
    if avro:
        # entries inherit sequence number and snapshot id from the list
        # row; the header may lack the schema id and spec id
        inherit = (manifest.get("sequence_number", 0), manifest.get("added_snapshot_id")) if manifest else None
        key += (schema.schema_id, spec.spec_id, inherit)
    entries = _cache_get(key)
    if entries is None:
        if avro:
            from .avro_manifests import read_avro_manifest

            entries = read_avro_manifest(path, schema, spec, manifest=manifest)
        else:
            entries = _decode_parquet_manifest(path, schema, spec)
        _cache_put(key, entries)
    return [{**e, "data_file": {**e["data_file"]}} for e in entries]


def _decode_parquet_manifest(path: str, schema: Schema, spec: PartitionSpec) -> List[Dict[str, Any]]:
    t = _read_parquet(path)
    cols = {name: t.column(name).to_pylist() for name in t.schema.names}
    bound_decoders = _bound_decoders(schema)
    part_decoders = _partition_decoders(spec, schema)
    # files of one partition share its decoded tuple (read-only, as above)
    parts: Dict[Optional[str], Dict[str, Any]] = {}
    out = []
    for i in range(t.num_rows):
        pj = cols["partition_json"][i]
        part = parts.get(pj)
        if part is None:
            part = parts[pj] = _partition_from_json(pj, part_decoders)
        data_file = {
            "content": cols["content"][i],
            "file_path": cols["file_path"][i],
            "file_format": cols["file_format"][i],
            "spec_id": cols["spec_id"][i],
            "schema_id": cols["schema_id"][i],
            "partition": part,
            "record_count": cols["record_count"][i],
            "file_size_in_bytes": cols["file_size_in_bytes"][i],
            **_stats_from_json(cols["stats_json"][i], bound_decoders),
        }
        out.append(
            {
                "status": cols["status"][i],
                "snapshot_id": cols["snapshot_id"][i],
                "sequence_number": cols["sequence_number"][i],
                "data_file": data_file,
            }
        )
    return out


def construct_partition_summaries(
    partitions: Iterable[Mapping[str, Any]], spec: PartitionSpec, schema: Schema
) -> Dict[str, Dict[str, Any]]:
    """Per-partition-field lower/upper/contains_null over a set of
    partition tuples (reference manifest.py:711)."""
    summaries: Dict[str, Dict[str, Any]] = {}
    for pf in spec.fields:
        lo = hi = None
        contains_null = False
        any_value = False
        for p in partitions:
            v = p.get(pf.name)
            if v is None:
                contains_null = True
                continue
            any_value = True
            if lo is None or v < lo:
                lo = v
            if hi is None or v > hi:
                hi = v
        summaries[pf.name] = {
            "lower": lo,
            "upper": hi,
            "contains_null": contains_null,
            "contains_nan": False,
            "has_values": any_value,
        }
    return summaries


def write_manifest_list(
    path: str,
    manifest_files: List[Dict[str, Any]],
    spec: PartitionSpec,
    schema: Schema,
    fmt: str = "parquet",
    snapshot_id: int = -1,
    sequence_number: int = 0,
    codec: str = "deflate",
) -> None:
    if fmt == "avro":
        from ..io.fileio import file_size
        from .avro_manifests import write_avro_manifest_list

        # carried-forward descriptors may predate the avro format switch
        # (parquet-era manifests have no manifest_length recorded)
        enriched = []
        for m in manifest_files:
            if not m.get("manifest_length"):
                m = {**m, "manifest_length": file_size(m["manifest_path"])}
            enriched.append(m)
        write_avro_manifest_list(path, enriched, spec, schema, snapshot_id, sequence_number, codec=codec)
        return
    part_schema = spec.partition_schema(schema)

    def enc_summaries(s: Dict[str, Dict[str, Any]]) -> str:
        out = {}
        for name, d in s.items():
            t = part_schema.find_field(name).field_type
            out[name] = {
                "lower": value_to_json(d.get("lower"), t),
                "upper": value_to_json(d.get("upper"), t),
                "contains_null": d.get("contains_null", False),
                "contains_nan": d.get("contains_nan", False),
            }
        return json.dumps(out)

    rows = {name: [] for name in _MANIFEST_LIST_SCHEMA.names}
    for m in manifest_files:
        rows["manifest_path"].append(m["manifest_path"])
        rows["added_snapshot_id"].append(m["added_snapshot_id"])
        rows["min_sequence_number"].append(m["min_sequence_number"])
        rows["spec_id"].append(m["spec_id"])
        rows["content"].append(m.get("content", CONTENT_DATA))
        rows["added_files_count"].append(m["added_files_count"])
        rows["existing_files_count"].append(m["existing_files_count"])
        rows["deleted_files_count"].append(m["deleted_files_count"])
        rows["added_rows_count"].append(m["added_rows_count"])
        rows["existing_rows_count"].append(m.get("existing_rows_count", 0))
        rows["partition_summaries_json"].append(enc_summaries(m.get("partition_summaries", {})))
    _write_parquet(pa.table(rows, schema=_MANIFEST_LIST_SCHEMA), path)


def read_manifest_list(path: str, spec_by_id, schema: Schema) -> List[Dict[str, Any]]:
    """Read a manifest list's manifest-file descriptors, decoded once per
    process (see ``_DECODE_CACHE``)."""
    key = ("list", path, schema.fields)
    rows = _cache_get(key)
    if rows is None:
        if path.endswith(".avro"):
            from .avro_manifests import read_avro_manifest_list

            rows = read_avro_manifest_list(path, spec_by_id, schema)
        else:
            rows = _decode_parquet_manifest_list(path, spec_by_id, schema)
        _cache_put(key, rows)
    return [dict(m) for m in rows]


def _decode_parquet_manifest_list(path: str, spec_by_id, schema: Schema) -> List[Dict[str, Any]]:
    t = _read_parquet(path)
    cols = {name: t.column(name).to_pylist() for name in t.schema.names}
    part_decoders: Dict[int, Dict[str, Callable[[Any], Any]]] = {}
    out = []
    for i in range(t.num_rows):
        spec_id = cols["spec_id"][i]
        decoders = part_decoders.get(spec_id)
        if decoders is None:
            decoders = part_decoders[spec_id] = _partition_decoders(spec_by_id(spec_id), schema)
        summaries = {}
        for name, d in json.loads(cols["partition_summaries_json"][i] or "{}").items():
            dec = decoders.get(name)
            if dec is None:
                continue
            lo, hi = d.get("lower"), d.get("upper")
            summaries[name] = {
                "lower": None if lo is None else dec(lo),
                "upper": None if hi is None else dec(hi),
                "contains_null": d.get("contains_null", False),
                "contains_nan": d.get("contains_nan", False),
            }
        out.append(
            {
                "manifest_path": cols["manifest_path"][i],
                "added_snapshot_id": cols["added_snapshot_id"][i],
                "min_sequence_number": cols["min_sequence_number"][i],
                "spec_id": spec_id,
                "content": cols["content"][i],
                "added_files_count": cols["added_files_count"][i],
                "existing_files_count": cols["existing_files_count"][i],
                "deleted_files_count": cols["deleted_files_count"][i],
                "added_rows_count": cols["added_rows_count"][i],
                "existing_rows_count": cols["existing_rows_count"][i],
                "partition_summaries": summaries,
            }
        )
    return out
