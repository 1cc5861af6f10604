"""Static guards over the repository's own Python sources."""

import ast
import pathlib

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
