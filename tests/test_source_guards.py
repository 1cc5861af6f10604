"""Static guards over the repository's own Python sources."""

import ast
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
_REDEFINABLE = ("setter", "deleter", "overload")


def _redefinitions(tree: ast.AST):
    """(name, first line, second line) for every def or class statement
    that rebinds a name a def or class of the same body already bound —
    the second silently shadows the first (a shadowed test class is
    never collected)."""
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if not isinstance(body, list):
            continue
        seen: dict[str, int] = {}
        for st in body:
            if not isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if any(
                ast.unparse(d).endswith(_REDEFINABLE)
                for d in st.decorator_list
            ):
                continue
            if st.name in seen:
                yield st.name, seen[st.name], st.lineno
            seen[st.name] = st.lineno


def test_redefinitions_found():
    src = "class A:\n    pass\n\n\nclass A:\n    def f(self):\n        pass\n"
    assert list(_redefinitions(ast.parse(src))) == [("A", 1, 5)]


def test_no_name_defined_twice_in_one_scope():
    hits = [
        f"{path.relative_to(ROOT)}:{second}: {name} shadows line {first}"
        for pkg in ("tests", "osm2mp_spark", "tools")
        for path in sorted((ROOT / pkg).rglob("*.py"))
        for name, first, second in _redefinitions(
            ast.parse(path.read_text(), str(path))
        )
    ]
    assert hits == []


def _create_dataframe_calls(tree: ast.AST):
    """(enclosing def name or None, line) of every `*.createDataFrame(...)`
    call in `tree`."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                yield scope, child.lineno
            yield from walk(child, scope)

    yield from walk(tree, None)


def test_create_dataframe_calls_found():
    src = (
        "x = spark.createDataFrame([])\n"
        "def f(s):\n    def g():\n        return s.createDataFrame(t, u)\n"
    )
    assert list(_create_dataframe_calls(ast.parse(src))) == [
        (None, 1), ("g", 4),
    ]


def test_streaming_frames_are_built_by_local_frame():
    """A streaming driver-side frame goes through store.local_frame, which
    plans a JVM-only LocalTableScan; createDataFrame over a Python list
    plans a Python RDD scan that costs a worker task per evaluation."""
    pkg = ROOT / "osm2mp_spark" / "streaming"
    hits = [
        f"{path.relative_to(ROOT)}:{line} (in {scope})"
        for path in sorted(pkg.rglob("*.py"))
        for scope, line in _create_dataframe_calls(
            ast.parse(path.read_text(), str(path))
        )
        if (path.name, scope) != ("store.py", "local_frame")
    ]
    assert hits == []


# SQL the oracles share: the DuckDB popcount of XORed signature words and
# the recursive min-label components CTE
_SHARED_SQL = {
    "popcount": re.compile(r"bit_count\((CAST\()?\s*xor\("),
    "min-label CTE": re.compile(r"SELECT u\.b, c\.lab FROM comp c JOIN und u"),
}


@pytest.mark.parametrize("what", sorted(_SHARED_SQL))
def test_shared_oracle_sql_is_written_once(what):
    """Each shared oracle fragment is built by one module
    (queries/oracle_sql.py); a second spelling drifts from the first."""
    hits = sorted(
        str(path.relative_to(ROOT))
        for pkg in ("osm2mp_spark", "tools")
        for path in (ROOT / pkg).rglob("*.py")
        if _SHARED_SQL[what].search(path.read_text())
    )
    assert hits == ["osm2mp_spark/queries/oracle_sql.py"]
