"""The process-wide manifest decode cache (``table/manifests.py``).

Manifests and manifest lists are immutable, so each is decoded once per
process: a repeat plan of an unchanged snapshot reads no metadata file,
a new commit decodes only what it added, callers cannot corrupt the
cached decode by mutating what they are handed, and the cache key
follows schema evolution."""

import copy
import threading

import pandas as pd
import pytest

from iceberg_python_spark.table import manifests as M
from iceberg_python_spark.table.avro_manifests import read_avro_manifest, read_avro_manifest_list
from iceberg_python_spark.types import StringType

#: rows per append: (id, name, q); q ranges are disjoint per append, so
#: a q filter prunes whole files by their stats
BATCHES = [[(i, f"n{i}", 10 * b + i % 10) for i in range(10 * b, 10 * b + 10)] for b in range(4)]
ROWS = [r for b in BATCHES for r in b]


@pytest.fixture(autouse=True)
def cold_cache():
    M.clear_decode_cache()
    yield
    M.clear_decode_cache()


@pytest.fixture()
def parquet_reads(monkeypatch):
    """Counts metadata parquet reads (manifests and manifest lists)."""
    calls = []
    orig = M._read_parquet

    def counting(path):
        calls.append(path)
        return orig(path)

    monkeypatch.setattr(M, "_read_parquet", counting)
    return calls


def _table(catalog, spark, name="db.cached", fmt="parquet"):
    t = catalog.create_table(
        name,
        spark.createDataFrame(BATCHES[0], "id long, name string, q long").schema,
        properties={"write.metadata.format": fmt},
    )
    for b in BATCHES:
        t.append(spark.createDataFrame(b, "id long, name string, q long").coalesce(1))
    return catalog.load_table(name)


@pytest.fixture(scope="module")
def shared(spark, tmp_path_factory):
    """(catalog, table) over BATCHES that no test commits to."""
    from iceberg_python_spark import SqliteCatalog

    cat = SqliteCatalog("shared", str(tmp_path_factory.mktemp("wh")), spark)
    return cat, _table(cat, spark)


def _task_set(tasks):
    return sorted((t.file_path, repr(t.residual), t.delete_files) for t in tasks)


def _manifests(t):
    meta = t.metadata
    schema = meta.schema()
    ml = M.read_manifest_list(t.current_snapshot().manifest_list, meta.spec_by_id, schema)
    return meta, schema, ml


def test_repeat_plan_reads_no_metadata_file(shared, parquet_reads):
    catalog, t = shared
    parquet_reads.clear()
    first = t.scan(row_filter="q >= 15").plan_files()
    assert len(parquet_reads) == 1 + len(BATCHES)  # the list and every data manifest
    parquet_reads.clear()
    # a fresh load builds new metadata, schema and spec objects
    second = catalog.load_table("db.cached").scan(row_filter="q >= 15").plan_files()
    assert parquet_reads == []
    assert _task_set(first) == _task_set(second)


def test_new_commit_decodes_only_its_new_manifests(catalog, spark, parquet_reads):
    t = _table(catalog, spark)
    t.scan().plan_files()
    t.append(spark.createDataFrame([(100, "n100", 100)], "id long, name string, q long"))
    parquet_reads.clear()
    tasks = catalog.load_table("db.cached").scan().plan_files()
    new_list = catalog.load_table("db.cached").current_snapshot().manifest_list
    assert len(parquet_reads) == 2 and parquet_reads[0] == new_list, parquet_reads
    assert sum(tk.data_file["record_count"] for tk in tasks) == len(ROWS) + 1


def test_mutating_returned_entries_does_not_change_the_next_read(shared):
    _, t = shared
    meta, schema, ml = _manifests(t)
    m = ml[0]
    spec = meta.spec_by_id(m["spec_id"])
    entries = M.read_manifest(m["manifest_path"], schema, spec, manifest=m)
    before = copy.deepcopy(entries)
    for e in entries:
        # what commit carry-forward and manifest merging do, and worse
        e["status"] = M.STATUS_DELETED
        e["data_file"]["file_path"] = "elsewhere.parquet"
        e["data_file"]["record_count"] = -1
        e["data_file"] = {}
    assert M.read_manifest(m["manifest_path"], schema, spec, manifest=m) == before

    listed = copy.deepcopy(ml)
    for row in ml:
        row["added_files_count"] = -1
        row["partition_summaries"] = None
    assert _manifests(t)[2] == listed


@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_cached_decode_equals_uncached_decode(catalog, spark, fmt):
    t = _table(catalog, spark, name=f"db.twin_{fmt}", fmt=fmt)
    # a two-file manifest that loses one file to a copy-on-write delete is
    # rewritten with the other as EXISTING; the rest carry forward
    t.append(spark.createDataFrame([(i, f"m{i}", 50 + i) for i in range(10)], "id long, name string, q long").repartitionByRange(2, "q"))
    t.delete("q = 53")
    t = catalog.load_table(f"db.twin_{fmt}")
    meta, schema = t.metadata, t.metadata.schema()
    list_path = t.current_snapshot().manifest_list
    assert list_path.endswith(f".{fmt}")
    if fmt == "avro":
        direct_list = read_avro_manifest_list(list_path, meta.spec_by_id, schema)
    else:
        direct_list = M._decode_parquet_manifest_list(list_path, meta.spec_by_id, schema)
    cold = M.read_manifest_list(list_path, meta.spec_by_id, schema)
    warm = M.read_manifest_list(list_path, meta.spec_by_id, schema)
    assert cold == warm == direct_list
    statuses = set()
    for m in cold:
        spec = meta.spec_by_id(m["spec_id"])
        if fmt == "avro":
            direct = read_avro_manifest(m["manifest_path"], schema, spec, manifest=m)
        else:
            direct = M._decode_parquet_manifest(m["manifest_path"], schema, spec)
        first = M.read_manifest(m["manifest_path"], schema, spec, manifest=m)
        again = M.read_manifest(m["manifest_path"], schema, spec, manifest=m)
        assert first == again == direct
        statuses |= {e["status"] for e in first}
    assert statuses == {M.STATUS_ADDED, M.STATUS_EXISTING}


def test_schema_evolution_keeps_pruning_and_reads_exact(catalog, spark):
    t = _table(catalog, spark)
    before = t.scan(row_filter="q >= 25").plan_files()
    t.update_schema().rename_column("q", "qty").commit()
    t.update_schema().add_column("note", StringType()).commit()
    t = catalog.load_table("db.cached")
    t.append(spark.createDataFrame([(100, "n100", 100, "x")], "id long, name string, qty long, note string"))
    t = catalog.load_table("db.cached")

    oracle = pd.DataFrame(ROWS + [(100, "n100", 100)], columns=["id", "name", "qty"])
    oracle["note"] = [None] * len(ROWS) + ["x"]
    want = oracle[oracle.qty >= 25]
    scan = t.scan(row_filter="qty >= 25")
    tasks = scan.plan_files()
    # stats pruning still applies to the renamed column: batches 0 and 1
    # (max q 9 and 19) drop, the new file is planned
    assert len(tasks) == len(before) + 1
    assert {tk.file_path for tk in before} < {tk.file_path for tk in tasks}
    got = scan.to_df().toPandas().sort_values("id").reset_index(drop=True)
    assert list(got.columns) == ["id", "name", "qty", "note"]
    exp = want.sort_values("id").reset_index(drop=True)
    assert got[["id", "name", "qty"]].values.tolist() == exp[["id", "name", "qty"]].values.tolist()
    assert got.note.tolist() == exp.note.tolist()


def test_concurrent_plans_return_identical_task_sets(shared):
    catalog, t = shared
    want = _task_set(t.scan(row_filter="q >= 15").plan_files())
    M.clear_decode_cache()
    results, errors = [], []

    def plan(k):
        try:
            for i in range(5):
                tbl = catalog.load_table("db.cached")
                results.append(_task_set(tbl.scan(row_filter="q >= 15").plan_files()))
                if (k + i) % 3 == 0:
                    M.clear_decode_cache()  # evictions race the other planners
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=plan, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert len(results) == 20 and all(r == want for r in results)


def _wide_manifest(path, ncols, kind, n_entries, fmt="parquet", str_len=16):
    """A manifest of ``n_entries`` files with full stats on ``ncols``
    columns of ``kind``; returns (schema, descriptor)."""
    from iceberg_python_spark.partitioning import UNPARTITIONED
    from iceberg_python_spark.schema import Schema
    from iceberg_python_spark.types import DoubleType, LongType, NestedField

    ftype = {"long": LongType(), "double": DoubleType(), "string": StringType()}[kind]
    fields = [NestedField(j + 1, f"c{j}", ftype) for j in range(ncols)]

    def bound(i, j):
        if kind == "string":
            return f"{i:08d}-{j:08d}".ljust(str_len, "x")
        return i * 1000 + j + (0.5 if kind == "double" else 0)

    entries = []
    for i in range(n_entries):
        ids = [f.field_id for f in fields]
        data_file = {
            "file_path": f"s3://bucket/warehouse/db/wide/data/{i:05d}-0-4f6e1c2a-9b1d-4c1e-8f00-abcdef012345.parquet",
            "partition": {},
            "record_count": 1000 + i,
            "file_size_in_bytes": 100_000 + i,
            "value_counts": {fid: 1000 + i for fid in ids},
            "null_value_counts": {fid: i for fid in ids},
            "nan_value_counts": {fid: i for fid in ids} if kind == "double" else {},
            "lower_bounds": {fid: bound(i, j) for j, fid in enumerate(ids)},
            "upper_bounds": {fid: bound(i + 1, j) for j, fid in enumerate(ids)},
        }
        entries.append({"status": M.STATUS_ADDED, "snapshot_id": 1, "sequence_number": 1, "data_file": data_file})
    schema = Schema(*fields)
    return schema, M.write_manifest(str(path), entries, schema, UNPARTITIONED, fmt=fmt)


def _heap_held(build):
    """Bytes of Python heap still held after ``build()`` returns, with
    an empty decode cache before it (tracemalloc, after a warm-up call)."""
    import gc
    import tracemalloc

    build()
    M.clear_decode_cache()
    gc.collect()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        held = build()
        gc.collect()
        return held, tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()


@pytest.mark.parametrize(
    "ncols,kind,str_len,fmt",
    [
        (1, "long", 16, "parquet"),
        (7, "double", 16, "parquet"),
        (150, "long", 16, "parquet"),
        (150, "double", 16, "avro"),
        (150, "string", 16, "parquet"),
        (40, "string", 300, "avro"),
    ],
)
def test_decode_cost_is_at_least_the_measured_heap(tmp_path, ncols, kind, str_len, fmt):
    """The byte bound only holds if ``_decode_cost`` never under-counts:
    narrow and wide tables, short and long string bounds, both formats."""
    from iceberg_python_spark.partitioning import UNPARTITIONED

    path = tmp_path / f"m.{fmt}"
    schema, desc = _wide_manifest(path, ncols, kind, 50, fmt=fmt, str_len=str_len)
    if fmt == "avro":
        decode = lambda: read_avro_manifest(str(path), schema, UNPARTITIONED, manifest=desc)  # noqa: E731
    else:
        decode = lambda: M._decode_parquet_manifest(str(path), schema, UNPARTITIONED)  # noqa: E731
    entries, measured = _heap_held(decode)
    assert len(entries) == 50
    assert M._decode_cost(entries) >= measured > 0


def test_wide_table_decodes_stay_within_the_byte_bound(tmp_path, monkeypatch):
    """A wide schema fills the cache by bytes, not entries: the cache
    evicts down to its bound, and the heap it actually holds (measured)
    stays within that bound."""
    import shutil

    from iceberg_python_spark.partitioning import UNPARTITIONED

    bound = 2 << 20
    monkeypatch.setattr(M, "_DECODE_CACHE_MAX_BYTES", bound)
    schema, _ = _wide_manifest(tmp_path / "m0.parquet", 150, "long", 12)
    for i in range(1, 8):
        shutil.copy(tmp_path / "m0.parquet", tmp_path / f"m{i}.parquet")
    one = M._decode_cost(M._decode_parquet_manifest(str(tmp_path / "m0.parquet"), schema, UNPARTITIONED))
    assert 2 * one < bound < 8 * one  # so some, not all, of 8 manifests fit

    def fill():
        for i in range(8):
            assert len(M.read_manifest(str(tmp_path / f"m{i}.parquet"), schema, UNPARTITIONED)) == 12
        return len(M._DECODE_CACHE)

    held, measured = _heap_held(fill)
    assert 2 <= held < 8
    assert M._decode_cache_bytes == sum(c for c, _ in M._DECODE_CACHE.values()) <= bound
    assert measured <= bound
    # LRU: the most recent reads are the ones kept
    assert ("manifest", str(tmp_path / "m7.parquet"), schema.fields, UNPARTITIONED.fields) in M._DECODE_CACHE

    # a decode larger than the whole bound is not cached and evicts nothing
    monkeypatch.setattr(M, "_DECODE_CACHE_MAX_BYTES", one - 1)
    M.clear_decode_cache()
    M.read_manifest(str(tmp_path / "m0.parquet"), schema, UNPARTITIONED)
    assert not M._DECODE_CACHE and M._decode_cache_bytes == 0
