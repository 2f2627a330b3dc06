"""Guards: operators run in the caller's session, and shuffle width has
one conf-scoped mechanism, pinned on the source.

- No library code clones a session (``newSession``) or hands frames
  across sessions through global temp views: a clone starts from
  context defaults, drops the caller's runtime confs (time zone, AQE,
  Parquet flags) and is never released.
- ``spark.sql.shuffle.partitions`` is set only by
  ``_local.scaled_shuffle`` (the locked, restoring section streaming
  state stores use) and, in ``__spark_entry__.py``, by the warehouse
  bootstrap ``_wh`` that configures the driver's session once.
  Anything else would rewrite a session-global conf under sibling
  overlapped builds.
- No registry builder (``_q_*`` in ``__spark_entry__.py``) registers
  the package's Python DataSource: registering sets
  ``spark.sql.python.filterPushdown.enabled`` on the driver's session,
  so every row built after it would plan under another conf. The
  bootstrap ``_wh`` registers it once."""

import ast
import pathlib
import re

import iceberg_python_spark

SHUFFLE_KEY = "spark.sql.shuffle.partitions"
#: DataFrame / catalog methods that create or drop a global temp view
GLOBAL_VIEW_CALLS = {"createGlobalTempView", "createOrReplaceGlobalTempView", "dropGlobalTempView"}
#: SQL that creates a global temp view, or sets the shuffle width
GLOBAL_VIEW_SQL = re.compile(r"\bglobal\s+temp(orary)?\s+view\b", re.I)
SET_SHUFFLE_SQL = re.compile(r"\bset\s+" + re.escape(SHUFFLE_KEY) + r"\b", re.I)
#: (module, function) pairs allowed to set the shuffle width
SHUFFLE_OWNERS = {
    ("iceberg_python_spark/operators/_local.py", "scaled_shuffle"),
    ("__spark_entry__.py", "_wh"),
}


def _findings(tree: ast.AST):
    """(kind, enclosing function, detail, line) for every session clone,
    global temp view and shuffle-width write in a module."""

    def walk(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Expr) and isinstance(child.value, ast.Constant):
                continue  # docstring
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                name = child.func.attr
                if name == "newSession":
                    yield "new_session", fn, name, child.lineno
                elif name in GLOBAL_VIEW_CALLS:
                    yield "global_view", fn, name, child.lineno
                elif (
                    name in ("set", "config")
                    and child.args
                    and isinstance(child.args[0], ast.Constant)
                    and child.args[0].value == SHUFFLE_KEY
                ):
                    yield "shuffle_width", fn, name, child.lineno
            if isinstance(child, ast.Constant) and isinstance(child.value, str):
                if GLOBAL_VIEW_SQL.search(child.value):
                    yield "global_view", fn, "SQL", child.lineno
                if SET_SHUFFLE_SQL.search(child.value):
                    yield "shuffle_width", fn, "SQL", child.lineno
            yield from walk(child, fn)

    yield from walk(tree, "<module>")


def _offenders(root: pathlib.Path, paths):
    """({kind: offending findings}, {kind: findings seen}) over ``paths``,
    named relative to ``root``."""
    offenders = {"new_session": [], "global_view": [], "shuffle_width": []}
    seen = dict.fromkeys(offenders, 0)
    for path in paths:
        rel = path.relative_to(root).as_posix()
        for kind, fn, detail, line in _findings(ast.parse(path.read_text(), str(path))):
            seen[kind] += 1
            if kind == "shuffle_width" and (rel, fn) in SHUFFLE_OWNERS:
                continue
            offenders[kind].append(f"{rel}:{line} {fn}() {detail}")
    return offenders, seen


PACKAGE = pathlib.Path(iceberg_python_spark.__file__).parent
ROOT = PACKAGE.parent


def _repo_sources():
    return sorted(PACKAGE.rglob("*.py")) + [ROOT / "__spark_entry__.py"]


def test_no_session_clones_or_global_temp_views():
    offenders, _ = _offenders(ROOT, _repo_sources())
    assert not offenders["new_session"] + offenders["global_view"], offenders


def test_shuffle_width_set_only_by_scaled_shuffle():
    """Outside ``scaled_shuffle`` and the entry's session bootstrap, no
    code sets the shuffle width."""
    offenders, seen = _offenders(ROOT, _repo_sources())
    # both owners are seen, so the guard still reads the conf writes
    assert seen["shuffle_width"] >= len(SHUFFLE_OWNERS), seen
    assert not offenders["shuffle_width"], offenders["shuffle_width"]


def test_guard_flags_each_forbidden_shape(tmp_path):
    """The guard catches a session clone, global temp views created or
    dropped through the API or SQL, and shuffle-width writes through
    the conf, the builder or SQL; reads and other confs pass."""
    (tmp_path / "mod.py").write_text(
        "def loop(spark, df):\n"
        "    sess = spark.newSession()\n"
        "    df.createOrReplaceGlobalTempView('v')\n"
        "    df.createGlobalTempView('w')\n"
        "    spark.catalog.dropGlobalTempView('v')\n"
        "    spark.sql('CREATE GLOBAL TEMPORARY VIEW x AS SELECT 1')\n"
        "    spark.conf.set('spark.sql.shuffle.partitions', '2')\n"
        "    spark.sql('SET spark.sql.shuffle.partitions=2')\n"
        "    spark.conf.get('spark.sql.shuffle.partitions')\n"
        "    spark.conf.set('spark.sql.session.timeZone', 'UTC')\n"
        "    df.createOrReplaceTempView('local_view')\n"
        "    return SparkSession.builder.config('spark.sql.shuffle.partitions', '4')\n"
    )
    offenders, _ = _offenders(tmp_path, [tmp_path / "mod.py"])
    assert {k: [o.split(" ", 1)[1] for o in v] for k, v in offenders.items()} == {
        "new_session": ["loop() newSession"],
        "global_view": [
            "loop() createOrReplaceGlobalTempView",
            "loop() createGlobalTempView",
            "loop() dropGlobalTempView",
            "loop() SQL",
        ],
        "shuffle_width": ["loop() set", "loop() SQL", "loop() config"],
    }


def _builders_calling(tree: ast.AST, callee: str):
    """Top-level ``_q_*`` functions whose body calls ``callee``."""
    for fn in tree.body:
        if not (isinstance(fn, ast.FunctionDef) and fn.name.startswith("_q_")):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                f = node.func
                if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == callee:
                    yield fn.name
                    break


def test_registry_builders_never_register_the_datasource():
    entry = ast.parse((ROOT / "__spark_entry__.py").read_text())
    wh = next(fn for fn in entry.body if isinstance(fn, ast.FunctionDef) and fn.name == "_wh")
    assert not list(_builders_calling(entry, "register_data_source"))
    assert any(
        isinstance(n, ast.Call) and getattr(n.func, "id", None) == "register_data_source" for n in ast.walk(wh)
    ), "the bootstrap no longer registers the DataSource"
    # the guard sees a builder that registers it, by name or attribute
    snippet = ast.parse(
        "def _q_a(spark, env):\n"
        "    register_data_source(spark)\n"
        "def _q_b(spark, env):\n"
        "    sd.register_data_source(spark)\n"
        "def _q_c(spark, env):\n"
        "    return spark.read.format('iceberg_python_spark').load()\n"
    )
    assert list(_builders_calling(snippet, "register_data_source")) == ["_q_a", "_q_b"]
