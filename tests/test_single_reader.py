"""Guards: one reader per concern, pinned on the package's source.

- ``_read_tasks`` is the library's only reader of data files for scan
  tasks. A second reader calling ``_read_data`` directly would skip
  field-ID resolution, name maps or deletes.
- ``_read_files`` is the only reader of a known file list. It hands
  Spark each list in chunks no larger than the listing threshold, so a
  read that bypassed it (a direct ``spark.read.parquet(*paths)``) would
  bring back Spark's parallel file-listing job; and it captures the
  ``_metadata`` pseudo-column per chunk, which a reference elsewhere
  would try to resolve through the chunks' union.
- The table layer never reads through the package's Python DataSource
  (``register_data_source`` or ``.format("iceberg_python_spark")``):
  every scan reads its planned tasks through ``_read_tasks``, and
  registering the source would set a session-wide conf on the caller's
  session.
- The Python DataSource (``spark_datasource.py``) plans through the
  library's planners (``DataScan``, ``IncrementalAppendScan``) and
  never walks manifests itself (``read_manifest``,
  ``read_manifest_list``): a private walk is a second planner that
  drifts from the first."""

import ast
import pathlib

import iceberg_python_spark

#: reader function -> the functions allowed to call it
ALLOWED_CALLERS = {
    "_read_data": {"_read_tasks"},
    "_read_paths": {"_read_files"},
}
#: DataFrameReader methods that take a path list
LIST_READERS = {"parquet", "orc"}
#: the one function that may pass them a path list
LIST_READ_OWNER = "_read_paths"
#: the one function that may reference the _metadata pseudo-column
METADATA_OWNER = "_read_files"
#: the package's Python DataSource format name
DATASOURCE_FORMAT = "iceberg_python_spark"
#: manifest readers only the library's planners call
PLANNING_CALLS = {"read_manifest", "read_manifest_list"}
#: modules that must plan through the library's planners
NO_PRIVATE_PLANNING = {"spark_datasource.py"}


def _receiver_names(node: ast.AST):
    """Attribute and variable names along a call's receiver chain
    (``spark.read.schema(s).parquet`` -> parquet, schema, read, spark)."""
    while True:
        if isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Name):
            yield node.id
            return
        else:
            return


def _is_path_list(call: ast.Call) -> bool:
    """Whether a reader call's arguments spell more than one path."""
    if len(call.args) > 1 or any(isinstance(a, ast.Starred) for a in call.args):
        return True
    for a in call.args:
        if isinstance(a, (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)):
            return True
        if isinstance(a, ast.Call) and isinstance(a.func, ast.Name) and a.func.id in ("list", "sorted", "tuple"):
            return True
    return False


def _findings(tree: ast.AST):
    """(kind, enclosing function, detail, line) for every reader call,
    path-list read, ``_metadata`` reference and DataSource use in a
    module."""

    def walk(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Expr) and isinstance(child.value, ast.Constant):
                continue  # docstring
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
                if name in ALLOWED_CALLERS:
                    yield "call", fn, name, child.lineno
                if name in PLANNING_CALLS:
                    yield "planning", fn, name, child.lineno
                if name == "register_data_source" or (
                    name == "format"
                    and child.args
                    and isinstance(child.args[0], ast.Constant)
                    and child.args[0].value == DATASOURCE_FORMAT
                ):
                    yield "datasource", fn, name, child.lineno
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr in LIST_READERS
                    and not {"write", "writeStream"} & set(_receiver_names(f.value))
                    and _is_path_list(child)
                ):
                    yield "list_read", fn, f.attr, child.lineno
            if (
                isinstance(child, ast.Constant)
                and isinstance(child.value, str)
                and (child.value == "_metadata" or child.value.startswith("_metadata."))
            ):
                yield "metadata", fn, child.value, child.lineno
            yield from walk(child, fn)

    yield from walk(tree, "<module>")


def _scan_package(root: pathlib.Path):
    """All findings over every module under ``root``, with the module's
    path relative to it."""
    for path in sorted(root.rglob("*.py")):
        for kind, fn, detail, line in _findings(ast.parse(path.read_text(), str(path))):
            yield kind, f"{path.relative_to(root)}:{line}", fn, detail


def _offenders(root: pathlib.Path):
    """({kind: offending findings}, {kind: findings seen}). Every
    DataSource use offends: the guard runs it over the table layer."""
    offenders = {"call": [], "list_read": [], "metadata": [], "datasource": [], "planning": []}
    seen = dict.fromkeys(offenders, 0)
    for kind, where, fn, detail in _scan_package(root):
        seen[kind] += 1
        if kind == "call" and fn not in ALLOWED_CALLERS[detail]:
            offenders[kind].append(f"{where} {fn}() calls {detail}")
        elif kind == "list_read" and fn != LIST_READ_OWNER:
            offenders[kind].append(f"{where} {fn}() reads a path list with .{detail}()")
        elif kind == "metadata" and fn != METADATA_OWNER:
            offenders[kind].append(f"{where} {fn}() references {detail}")
        elif kind == "datasource":
            offenders[kind].append(f"{where} {fn}() reads through the DataSource with {detail}()")
        elif kind == "planning" and where.split(":")[0] in NO_PRIVATE_PLANNING:
            offenders[kind].append(f"{where} {fn}() walks manifests with {detail}()")
    return offenders, seen


PACKAGE = pathlib.Path(iceberg_python_spark.__file__).parent


def test_only_read_tasks_reads_data_files():
    offenders, seen = _offenders(PACKAGE)
    assert seen["call"], "no reader call found; the guard no longer sees the read layer"
    assert not offenders["call"], offenders["call"]


def test_only_read_files_reads_path_lists():
    """Every DataFrameReader path-list read and every ``_metadata``
    reference sits in the one chunking reader."""
    offenders, seen = _offenders(PACKAGE)
    assert seen["list_read"] and seen["metadata"], "the guard no longer sees the chunking reader"
    assert not offenders["list_read"] + offenders["metadata"], offenders


def test_guard_flags_a_direct_path_list_read(tmp_path):
    """The guard catches the shapes it exists for: a splatted or listed
    parquet/orc read and a ``_metadata`` column outside the helper,
    while single-path reads and writes pass."""
    (tmp_path / "mod.py").write_text(
        "def scan(spark, paths, d):\n"
        "    spark.read.parquet(d)\n"
        "    df.write.mode('append').parquet(d)\n"
        "    a = spark.read.parquet(*paths)\n"
        "    b = spark.read.schema(s).orc(list(paths))\n"
        "    return a.withColumn('f', F.col('_metadata.file_path'))\n"
    )
    offenders, _ = _offenders(tmp_path)
    assert {k: [o.split(" ", 1)[1] for o in v] for k, v in offenders.items()} == {
        "call": [],
        "list_read": ["scan() reads a path list with .parquet()", "scan() reads a path list with .orc()"],
        "metadata": ["scan() references _metadata.file_path"],
        "datasource": [],
        "planning": [],
    }


def test_table_layer_never_reads_through_the_datasource():
    offenders, _ = _offenders(PACKAGE / "table")
    assert not offenders["datasource"], offenders["datasource"]


def test_guard_flags_a_datasource_read(tmp_path):
    """Registering the source or naming its format is caught; another
    format name is not."""
    (tmp_path / "mod.py").write_text(
        "from iceberg_python_spark.spark_datasource import register_data_source\n"
        "def to_df(spark, d):\n"
        "    register_data_source(spark)\n"
        "    spark.read.format('noop').load()\n"
        "    return spark.read.format('iceberg_python_spark').option('table_location', d).load()\n"
    )
    offenders, _ = _offenders(tmp_path)
    assert [o.split(" ", 1)[1] for o in offenders["datasource"]] == [
        "to_df() reads through the DataSource with register_data_source()",
        "to_df() reads through the DataSource with format()",
    ]


def test_datasource_plans_through_the_library():
    offenders, seen = _offenders(PACKAGE)
    assert seen["planning"], "no manifest read found; the guard no longer sees the planners"
    assert not offenders["planning"], offenders["planning"]


def test_guard_flags_a_private_manifest_walk(tmp_path):
    """A manifest walk in the DataSource module is caught, by either
    reader and either call shape; the same walk elsewhere is not."""
    walk = (
        "from iceberg_python_spark.table import manifests\n"
        "from iceberg_python_spark.table.manifests import read_manifest\n"
        "def live(meta, snap):\n"
        "    for m in manifests.read_manifest_list(snap.manifest_list, meta.spec_by_id, meta.schema()):\n"
        "        yield from read_manifest(m['manifest_path'], meta.schema(), None, manifest=m)\n"
    )
    (tmp_path / "spark_datasource.py").write_text(walk)
    (tmp_path / "planner.py").write_text(walk)
    offenders, seen = _offenders(tmp_path)
    assert seen["planning"] == 4
    assert [o.split(" ", 1)[1] for o in offenders["planning"]] == [
        "live() walks manifests with read_manifest_list()",
        "live() walks manifests with read_manifest()",
    ]
