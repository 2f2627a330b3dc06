"""Guard: ``_read_tasks`` is the library's only reader of data files for
scan tasks. A second reader calling ``_read_data``/``_read_paths``
directly would skip field-ID resolution, name maps or deletes."""

import ast
import pathlib

import iceberg_python_spark

READERS = {"_read_data", "_read_paths"}
#: the functions allowed to call them: the shared reader and the
#: format/v3-type layer under it
ALLOWED_CALLERS = {"_read_tasks", "_read_data"}


def _calls(tree: ast.AST):
    """(enclosing function name, called name) for every reader call."""

    def walk(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
                if name in READERS:
                    yield fn, name, child.lineno
            yield from walk(child, fn)

    yield from walk(tree, "<module>")


def test_only_read_tasks_reads_data_files():
    root = pathlib.Path(iceberg_python_spark.__file__).parent
    offenders = []
    seen = 0
    for path in sorted(root.rglob("*.py")):
        for fn, name, line in _calls(ast.parse(path.read_text(), str(path))):
            seen += 1
            if fn not in ALLOWED_CALLERS:
                offenders.append(f"{path.relative_to(root)}:{line} {fn}() calls {name}")
    assert seen, "no reader call found; the guard no longer sees the read layer"
    assert not offenders, offenders
