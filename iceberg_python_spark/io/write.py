"""Write path: partition fan-out + per-file stats collection.

Reference shape (pyiceberg/io/pyarrow.py): _determine_partitions (:3053)
fans an Arrow table out by transform values, write_file (:2718) writes
parquet and collects stats from the written footer
(data_file_statistics_from_parquet_metadata :2526). Here the fan-out IS
the Spark job — transform expressions become partition columns, the
cluster shuffles by them (hash distribution), and ``partitionBy`` writes
hive-style dirs under a per-commit directory so the commit knows exactly
which files it added. Stats are then collected by a second, footer-only
job distributed over the written file list (executors read metadata, not
data).

Scale notes:
- one shuffle per append (by partition value); AQE coalesces small
  partitions. For skewed partitions set write.distribution-mode=none and
  rely on input partitioning, or salt.
- footers-only stats job is O(files), not O(rows).
- string bounds truncated to 16 chars with upper-bound increment
  (reference utils/truncate.py:47, io/pyarrow.py:2271-2303) — an invalid
  upper bound would silently break pruning, see test_write_stats.
"""

from __future__ import annotations

import datetime as _dt
import os
import posixpath
import urllib.parse
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..expressions import to_internal
from ..partitioning import PartitionSpec
from ..schema import Schema
from ..types import (
    BinaryType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    StringType,
    TimestamptzType,
    TimestampType,
    to_spark_type,
)

PARTITION_COL_PREFIX = "_p_"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
BOUND_TRUNCATE = 16


def coerce_to_table_schema(df: DataFrame, schema: Schema, keep_extra: Sequence[str] = ()) -> DataFrame:
    """Align an input DataFrame to the table schema by name: reorder, cast,
    and attach parquet field IDs (write-side analogue of reference
    io/pyarrow.py:2846 _check_pyarrow_schema_compatible)."""
    from ..types import TimestampNanoType, TimestamptzNanoType, UnknownType

    by_name = {f.name.lower(): f for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if isinstance(field.field_type, (TimestampNanoType, TimestamptzNanoType)):
            # Spark writes µs parquet; silently storing µs under an
            # ns-typed column would corrupt the ns read path's long
            # decode. ns tables are read-interop (StaticTable/add_files);
            # evolve the column to `timestamp` to write with this engine.
            raise ValueError(
                f"cannot write column {field.name!r}: {field.field_type} is "
                "read-only in this engine (Spark has no ns timestamp; µs is "
                "the native write precision)"
            )
        if isinstance(field.field_type, UnknownType):
            continue  # v3 unknown: files store no data for the column
        src = by_name.get(field.name.lower())
        if src is None:
            if field.required and field.write_default is None:
                raise ValueError(f"input is missing required column {field.name!r}")
            # absent column: the v3 write-default (spec `write-default`,
            # reference types.py:422) fills in; NULL otherwise
            cols.append(
                F.lit(field.write_default).cast(to_spark_type(field.field_type)).alias(
                    field.name, metadata={"parquet.field.id": field.field_id}
                )
            )
        else:
            cols.append(
                F.col(src.name)
                .cast(to_spark_type(field.field_type))
                .alias(field.name, metadata={"parquet.field.id": field.field_id})
            )
    df_names = {f.name for f in df.schema.fields}
    # passthrough columns that carry spec-reserved field ids get them in
    # the parquet footer so external readers recognize them (v3 row
    # lineage: _row_id = 2147483540, _last_updated_sequence_number =
    # 2147483539 — Iceberg spec reserved ids)
    reserved_ids = {"_row_id": 2147483540, "_last_updated_sequence_number": 2147483539}
    for n in keep_extra:
        if n not in df_names:
            continue
        fid = reserved_ids.get(n)
        cols.append(
            F.col(n).alias(n, metadata={"parquet.field.id": fid}) if fid is not None else F.col(n)
        )
    return df.select(*cols)


def write_data_files(
    spark: SparkSession,
    df: DataFrame,
    schema: Schema,
    spec: PartitionSpec,
    location: str,
    commit_uuid: str,
    properties: Optional[Dict[str, str]] = None,
    sort_columns: Optional[List[Tuple[str, bool, bool]]] = None,
    extra_columns: Sequence[str] = (),
) -> List[Dict[str, Any]]:
    """Write ``df`` as new data files; return DataFile dicts.

    The file format resolves from the table property
    ``write.format.default`` (parquet | orc, reference
    io/fileformat.py:147-191 FileFormatModel registry). Parquet stats
    come from executor-side footer reads; ORC stats run as one
    distributed Spark agg grouped by ``_metadata.file_path``
    (spark_stats_for_files — the same path add_files uses).

    ``extra_columns``: physical passthrough columns outside the table
    schema (v3 materialized ``_row_id``) written alongside the data.

    ``sort_columns``: (name, ascending, nulls_first) honored via
    sortWithinPartitions (improves on the reference, which records sort
    orders but does not yet sort on write — io/pyarrow.py:2768).
    """
    properties = properties or {}
    fmt = (properties.get("write.format.default") or "parquet").lower()
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported write.format.default {fmt!r} (parquet | orc)")
    df = coerce_to_table_schema(df, schema, keep_extra=extra_columns)
    out_dir = posixpath.join(location, "data", commit_uuid)

    writer_df = df
    pnames = []
    if not spec.is_unpartitioned:
        for name, col in spec.spark_partition_columns(schema):
            writer_df = writer_df.withColumn(PARTITION_COL_PREFIX + name, col)
            pnames.append(PARTITION_COL_PREFIX + name)
        mode = properties.get("write.distribution-mode", "hash")
        if mode == "hash":
            writer_df = writer_df.repartition(*[F.col(p) for p in pnames])
    if sort_columns:
        sort_exprs = []
        for name, asc, nulls_first in sort_columns:
            c = F.col(name)
            c = (c.asc_nulls_first() if nulls_first else c.asc_nulls_last()) if asc else (
                c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
            )
            sort_exprs.append(c)
        writer_df = writer_df.sortWithinPartitions(*sort_exprs)

    writer = writer_df.write.mode("append").format(fmt)
    max_records = properties.get("write.parquet.max-records-per-file")
    if max_records:
        writer = writer.option("maxRecordsPerFile", int(max_records))
    if fmt == "parquet":
        # per-column bloom filters (reference TableProperties
        # PARQUET_BLOOM_FILTER_COLUMN_ENABLED_PREFIX, table/__init__.py:155
        # — its pyarrow writer takes the same properties): translated to
        # parquet-mr writer options, so point-lookup row groups skip via
        # the filter on columns min/max can't prune (uuid-ish keys)
        bloom_prefix = "write.parquet.bloom-filter-enabled.column."
        for k, v in properties.items():
            if k.startswith(bloom_prefix) and str(v).lower() == "true":
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{k[len(bloom_prefix):]}", "true"
                )
        max_bytes = properties.get("write.parquet.bloom-filter-max-bytes")
        if max_bytes:
            writer = writer.option("parquet.bloom.filter.max.bytes", int(max_bytes))
        # parquet layout knobs (reference TableProperties
        # table/__init__.py:138-151) -> parquet-mr writer options
        # (verified to reach the task writer: block size, page size,
        # dictionary page size, page row limit, codec, zstd level)
        codec = properties.get("write.parquet.compression-codec")
        if codec:
            writer = writer.option("compression", str(codec).lower())
            level = properties.get("write.parquet.compression-level")
            if level and str(codec).lower() == "zstd":
                writer = writer.option("parquet.compression.codec.zstd.level", int(level))
        for prop, opt in (
            ("write.parquet.row-group-size-bytes", "parquet.block.size"),
            ("write.parquet.page-size-bytes", "parquet.page.size"),
            ("write.parquet.dict-size-bytes", "parquet.dictionary.page.size"),
            ("write.parquet.page-row-limit", "parquet.page.row.count.limit"),
        ):
            v = properties.get(prop)
            if v:
                writer = writer.option(opt, int(v))
    if pnames:
        writer = writer.partitionBy(*pnames)
    writer.save(out_dir)

    from .fileio import list_files

    paths = list_files(out_dir, f".{fmt}")
    if not paths:
        return []
    # partition values parse from the hive dirs Spark wrote; capture them
    # BEFORE any object-store relocation rewrites the directory shape
    partitions = {p: _partition_values_from_path(p, out_dir, spec, schema) for p in paths}
    paths, partitions = _apply_location_provider(
        spark, paths, partitions, out_dir, location, properties
    )
    if fmt == "orc":
        stats = spark_stats_for_files(spark, paths, schema, fmt="ORC", properties=properties)
    else:
        stats = collect_file_stats(spark, paths, schema, properties=properties)
    data_files = []
    for path in sorted(paths):
        st = stats[path]
        partition = partitions[path]
        data_files.append(
            {
                "content": 0,
                "file_path": path,
                "file_format": fmt.upper(),
                "spec_id": spec.spec_id,
                "schema_id": schema.schema_id,
                "partition": partition,
                "record_count": st["record_count"],
                "file_size_in_bytes": st["file_size_in_bytes"],
                "value_counts": st["value_counts"],
                "null_value_counts": st["null_value_counts"],
                "nan_value_counts": st["nan_value_counts"],
                "lower_bounds": st["lower_bounds"],
                "upper_bounds": st["upper_bounds"],
            }
        )
    return data_files


def _apply_location_provider(
    spark: SparkSession,
    paths: List[str],
    partitions: Dict[str, Dict[str, Any]],
    out_dir: str,
    location: str,
    properties: Dict[str, str],
) -> Tuple[List[str], Dict[str, Dict[str, Any]]]:
    """Relocate freshly written files per the table's location provider
    (reference table/locations.py). Spark's writer owns file naming, so
    the entropy layout is applied as a post-write move: local/HDFS
    renames are metadata-only, and the move happens before the files are
    referenced by any manifest, so a crash mid-move leaves only orphans
    that GC already sweeps. No-op under the default SimpleLocationProvider
    (files already sit at <location>/data/<commit>/<hive dirs>)."""
    from ..locations import SimpleLocationProvider, load_location_provider
    from .fileio import path_only, rename

    provider = load_location_provider(location, properties)
    if type(provider) is SimpleLocationProvider:
        # default layout: files already sit where the provider would put
        # them. Anything else (object-store entropy layout or a CUSTOM
        # write.py-location-provider.impl class) relocates post-write.
        return paths, partitions
    new_paths: List[str] = []
    new_parts: Dict[str, Dict[str, Any]] = {}
    root = path_only(out_dir)
    for p in paths:
        rel = path_only(p)[len(root):].lstrip("/") if path_only(p).startswith(root) else posixpath.basename(p)
        part_dir, fname = posixpath.split(rel)
        dst = provider.new_data_location(fname, part_dir or None)
        rename(p, dst, spark)
        new_paths.append(dst)
        new_parts[dst] = partitions[p]
    return new_paths, new_parts


def _list_parquet_files(root: str) -> List[str]:
    """Scheme-aware recursive listing (local os.walk or Hadoop FS)."""
    from .fileio import list_files

    return list_files(root, ".parquet")


def _parse_partition_dir_value(raw: str, t: IcebergType) -> Any:
    if raw == HIVE_NULL:
        return None
    s = urllib.parse.unquote(raw)
    if isinstance(t, (IntegerType, LongType)):
        return int(s)
    if isinstance(t, DateType):
        # day-transform columns are written as int days-since-epoch;
        # identity date partitions appear as ISO dates
        try:
            return int(s)
        except ValueError:
            return to_internal(_dt.date.fromisoformat(s), t)
    if isinstance(t, (TimestampType, TimestamptzType)):
        return to_internal(s, t)
    if isinstance(t, (FloatType, DoubleType)):
        return float(s)
    if isinstance(t, DecimalType):
        from decimal import Decimal

        return Decimal(s)
    return s


def _partition_values_from_path(path: str, root: str, spec: PartitionSpec, schema: Schema) -> Dict[str, Any]:
    if spec.is_unpartitioned:
        return {}
    from .fileio import path_only

    part_schema = spec.partition_schema(schema)
    # URI-safe relative path: strip any scheme from both sides (hive-style
    # partition dirs always use '/')
    p = path_only(posixpath.dirname(path))
    r = path_only(root)
    rel = p[len(r) :].lstrip("/") if p.startswith(r) else posixpath.relpath(p, r)
    values: Dict[str, Any] = {}
    for seg in rel.split("/"):
        if "=" not in seg:
            continue
        key, raw = seg.split("=", 1)
        if key.startswith(PARTITION_COL_PREFIX):
            name = key[len(PARTITION_COL_PREFIX):]
            try:
                t = part_schema.find_field(name).field_type
            except ValueError:
                continue
            values[name] = _parse_partition_dir_value(raw, t)
    return values


# ---------------------------------------------------------------------------
# executor-side footer stats
# ---------------------------------------------------------------------------


def _truncate_bounds(lo: Any, hi: Any, t: IcebergType, width: int = BOUND_TRUNCATE) -> Tuple[Any, Any]:
    """Width-char truncation with upper-bound increment (reference
    utils/truncate.py:47 + io/pyarrow.py:2271-2303)."""
    if isinstance(t, StringType) and isinstance(lo, str) and isinstance(hi, str):
        lo_t = lo[:width]
        if len(hi) > width:
            head = hi[:width]
            # increment last codepoint that can be incremented
            for i in range(len(head) - 1, -1, -1):
                cp = ord(head[i])
                if cp < 0x10FFFF:
                    hi_t = head[:i] + chr(cp + 1)
                    break
            else:
                hi_t = hi  # cannot produce a valid truncated upper; keep full
        else:
            hi_t = hi
        return lo_t, hi_t
    if isinstance(t, BinaryType) and isinstance(lo, bytes) and isinstance(hi, bytes):
        lo_t = lo[:width]
        if len(hi) > width:
            head = bytearray(hi[:width])
            for i in range(len(head) - 1, -1, -1):
                if head[i] < 0xFF:
                    head[i] += 1
                    hi_t = bytes(head[: i + 1])
                    break
            else:
                hi_t = hi  # all 0xff prefix; keep full upper
        else:
            hi_t = hi
        return lo_t, hi_t
    return lo, hi


# -- per-column metrics modes (reference io/pyarrow.py:2305-2338) -----------

METRICS_DEFAULT_KEY = "write.metadata.metrics.default"
METRICS_COLUMN_PREFIX = "write.metadata.metrics.column."
_DEFAULT_METRICS_MODE = f"truncate({BOUND_TRUNCATE})"


def parse_metrics_mode(s: str) -> Tuple[str, int]:
    """'none' | 'counts' | 'full' | 'truncate(N)' -> (kind, width)."""
    s = (s or "").strip().lower()
    if s in ("none", "counts", "full"):
        return s, 0
    if s.startswith("truncate(") and s.endswith(")"):
        n = int(s[len("truncate(") : -1])
        if n <= 0:
            raise ValueError(f"truncate length must be positive: {s!r}")
        return "truncate", n
    raise ValueError(f"unknown metrics mode {s!r} (none|counts|truncate(N)|full)")


def metrics_modes_for_schema(schema: Schema, properties: Optional[Dict[str, str]]) -> Dict[int, Tuple[str, int]]:
    """field_id -> metrics mode, resolving write.metadata.metrics.column.<name>
    over write.metadata.metrics.default over truncate(16)."""
    properties = properties or {}
    default = parse_metrics_mode(properties.get(METRICS_DEFAULT_KEY, _DEFAULT_METRICS_MODE))
    out: Dict[int, Tuple[str, int]] = {}
    for f in schema.fields:
        override = properties.get(METRICS_COLUMN_PREFIX + f.name)
        out[f.field_id] = parse_metrics_mode(override) if override else default
    return out


def _file_stats_fn(schema_json: str, extra_names_json: Optional[str] = None, modes_json: Optional[str] = None):
    """Returns a picklable per-file footer reader for use in an RDD map.

    ``extra_names_json``: optional {file_column_name: field_id} from a
    name mapping — lets ID-less foreign parquet with aliased column
    names resolve to schema fields (reference io/pyarrow.py:2887
    parquet_file_to_data_file + name mapping).
    ``modes_json``: {field_id: [kind, width]} per-column metrics modes
    (reference io/pyarrow.py:2305-2338)."""
    import json as _json

    def read_one(path: str) -> Tuple[str, Dict[str, Any]]:
        from ..expressions import to_internal as _to_internal
        from ..schema import Schema as _Schema
        from .fileio import executor_footer_and_size as _footer

        schema = _Schema.from_dict(_json.loads(schema_json))
        modes = {int(k): tuple(v) for k, v in (_json.loads(modes_json) or {}).items()} if modes_json else {}
        pf, file_size = _footer(path)
        md = pf.metadata
        n = md.num_rows
        name_to_field = {f.name: f for f in schema.fields}
        for fname, fid in (_json.loads(extra_names_json) if extra_names_json else {}).items():
            try:
                name_to_field.setdefault(fname, schema.find_field(int(fid)))
            except ValueError:
                pass
        value_counts: Dict[int, int] = {}
        null_counts: Dict[int, int] = {}
        lowers: Dict[int, Any] = {}
        uppers: Dict[int, Any] = {}
        have_stats: Dict[int, bool] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema.split(".")[0]
                field = name_to_field.get(name)
                if field is None or not field.field_type.is_primitive:
                    continue
                fid = field.field_id
                kind = modes.get(fid, ("truncate", BOUND_TRUNCATE))[0]
                if kind == "none":
                    continue
                value_counts[fid] = value_counts.get(fid, 0) + g.num_rows
                st = col.statistics
                if st is None:
                    have_stats[fid] = False
                    continue
                if st.null_count is not None:
                    null_counts[fid] = null_counts.get(fid, 0) + st.null_count
                if kind == "counts":
                    continue
                if st.has_min_max:
                    lo = _to_internal(st.min, field.field_type)
                    hi = _to_internal(st.max, field.field_type)
                    if fid not in lowers or lo < lowers[fid]:
                        lowers[fid] = lo
                    if fid not in uppers or hi > uppers[fid]:
                        uppers[fid] = hi
                else:
                    have_stats[fid] = False
        # drop bounds for any field that had a statless row group
        for fid, ok in have_stats.items():
            if not ok:
                lowers.pop(fid, None)
                uppers.pop(fid, None)
        for fid in list(lowers.keys()):
            f = schema.find_field(fid)
            kind, width = modes.get(fid, ("truncate", BOUND_TRUNCATE))
            if kind == "full":
                continue
            lowers[fid], uppers[fid] = _truncate_bounds(
                lowers[fid], uppers[fid], f.field_type, width or BOUND_TRUNCATE
            )
        return path, {
            "record_count": n,
            "file_size_in_bytes": file_size,
            "value_counts": value_counts,
            "null_value_counts": null_counts,
            "nan_value_counts": {},  # parquet footers don't track NaN; evaluators treat missing as unknown
            "lower_bounds": lowers,
            "upper_bounds": uppers,
        }

    return read_one


def collect_file_stats(
    spark: SparkSession,
    paths: List[str],
    schema: Schema,
    extra_names: Optional[Dict[str, int]] = None,
    properties: Optional[Dict[str, str]] = None,
) -> Dict[str, Dict[str, Any]]:
    """Footer-only stats for each file, read on executors (an RDD is
    justified here: per-file imperative metadata reads, no row data)."""
    import json as _json

    modes = metrics_modes_for_schema(schema, properties) if properties else None
    fn = _file_stats_fn(
        _json.dumps(schema.to_dict()),
        _json.dumps(extra_names) if extra_names else None,
        _json.dumps({str(k): list(v) for k, v in modes.items()}) if modes else None,
    )
    if len(paths) <= 4:  # not worth a job
        return dict(fn(p) for p in paths)
    sc = spark.sparkContext
    n_slices = min(len(paths), 64)
    return dict(sc.parallelize(paths, n_slices).map(fn).collect())


def spark_stats_for_files(
    spark: SparkSession,
    paths: List[str],
    schema: Schema,
    fmt: str = "ORC",
    properties: Optional[Dict[str, str]] = None,
) -> Dict[str, Dict[str, Any]]:
    """Per-file stats via a Spark agg job grouped by each row's file —
    for formats whose footers the driver-side reader doesn't parse (ORC).
    O(rows) of the given files, still fully distributed."""
    from pyspark.sql import functions as F

    from ..table import _read_files

    modes = metrics_modes_for_schema(schema, properties)
    df = _read_files(spark, schema.to_spark(), fmt, paths, lineage=True)
    prim = [
        f for f in schema.fields
        if f.field_type.is_primitive and modes[f.field_id][0] != "none"
    ]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for f in prim:
        aggs.append(F.sum(F.when(F.col(f.name).isNull(), 1).otherwise(0)).alias(f"_null_{f.field_id}"))
        if modes[f.field_id][0] != "counts":
            aggs += [
                F.min(f.name).alias(f"_min_{f.field_id}"),
                F.max(f.name).alias(f"_max_{f.field_id}"),
            ]
    rows = df.groupBy(F.col("_ips_file").alias("_fp")).agg(*aggs).collect()
    from ..expressions import to_internal

    # _ips_file is a URI (file:/...); map back to the given
    # paths by scheme-normalized FULL path — partitioned writes reuse
    # one task's part-file basename across partition dirs, so a
    # basename-keyed map would silently collapse distinct files
    from .fileio import path_only

    by_path = {path_only(p).lstrip("/"): p for p in paths}
    out: Dict[str, Dict[str, Any]] = {}
    for r in rows:
        p = by_path.get(path_only(r["_fp"]).lstrip("/"), r["_fp"])
        lowers, uppers, nulls, counts = {}, {}, {}, {}
        for f in prim:
            kind, width = modes[f.field_id]
            counts[f.field_id] = r["_n"]
            nulls[f.field_id] = r[f"_null_{f.field_id}"] or 0
            if kind == "counts":
                continue
            lo, hi = r[f"_min_{f.field_id}"], r[f"_max_{f.field_id}"]
            if lo is not None:
                lo_i, hi_i = to_internal(lo, f.field_type), to_internal(hi, f.field_type)
                if kind == "full":
                    lowers[f.field_id], uppers[f.field_id] = lo_i, hi_i
                else:
                    lowers[f.field_id], uppers[f.field_id] = _truncate_bounds(
                        lo_i, hi_i, f.field_type, width or BOUND_TRUNCATE
                    )
        from .fileio import exists as _exists, file_size as _fsize

        out[p] = {
            "record_count": r["_n"],
            "file_size_in_bytes": _fsize(p, spark) if _exists(p, spark) else 0,
            "value_counts": counts,
            "null_value_counts": nulls,
            "nan_value_counts": {},
            "lower_bounds": lowers,
            "upper_bounds": uppers,
        }
    return out
