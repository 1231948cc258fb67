"""Every import in the package binds a name its scope uses.

A stdlib-`ast` check (no linter dependency): an import inside a
function must be used in that function (or a closure of it), a
module-level import anywhere in the module or in its ``__all__``.
Names inside string annotations count as uses. An import that exists
only for its side effect (query registration, a mapInPandas
dependency) carries ``# noqa: F401`` on one of its lines."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "dbbspark")

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _bound_names(node: ast.Import | ast.ImportFrom) -> list[str]:
    names = []
    for a in node.names:
        if a.name == "*":
            continue
        names.append(a.asname or a.name.split(".")[0])
    return names


def _annotation_names(tree: ast.AST) -> set[str]:
    """Names referenced from string annotations (``"pd.DataFrame"``)."""
    out: set[str] = set()
    annots = []
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annots.append(n.returns)
            a = n.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
                if arg is not None:
                    annots.append(arg.annotation)
        elif isinstance(n, ast.AnnAssign):
            annots.append(n.annotation)
    for ann in annots:
        for sub in ast.walk(ann) if ann is not None else ():
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                try:
                    expr = ast.parse(sub.value, mode="eval")
                except SyntaxError:
                    continue
                out |= {x.id for x in ast.walk(expr) if isinstance(x, ast.Name)}
    return out


def _local_bindings(fn: ast.AST) -> set[str]:
    """Names a nested function binds itself (so its loads of them do
    not reach the enclosing scope): parameters, imports and stores in
    its own body, less ``global``/``nonlocal`` declarations."""
    a = fn.args
    out = {
        arg.arg
        for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
        if arg is not None
    }
    free: set[str] = set()
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        n = stack.pop()
        if isinstance(n, _FUNCS + (ast.ClassDef,)):
            continue
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            out |= set(_bound_names(n))
        elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, (ast.Global, ast.Nonlocal)):
            free |= set(n.names)
        stack.extend(ast.iter_child_nodes(n))
    return out - free


def _uses(scope: ast.AST, name: str) -> bool:
    for n in ast.iter_child_nodes(scope):
        if isinstance(n, ast.Name) and n.id == name and not isinstance(n.ctx, ast.Store):
            return True
        if isinstance(n, _FUNCS) and name in _local_bindings(n):
            continue  # shadowed: the nested function's loads are its own
        if _uses(n, name):
            return True
    return False


def _dunder_all(tree: ast.Module) -> set[str]:
    for n in tree.body:
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            return {e.value for e in n.value.elts if isinstance(e, ast.Constant)}
    return set()


def _unused_imports(path: str) -> list[str]:
    with open(path) as f:
        src = f.read()
    lines = src.splitlines()
    tree = ast.parse(src)
    # string annotations resolve against module globals only
    exported = _dunder_all(tree) | _annotation_names(tree)
    out = []

    def visit(scope: ast.AST, body: list[ast.stmt]) -> None:
        stack = list(body)
        while stack:
            n = stack.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(n, n.body)
                continue
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                    continue
                span = lines[n.lineno - 1 : n.end_lineno]
                if any("noqa: F401" in ln for ln in span):
                    continue
                for name in _bound_names(n):
                    if scope is tree and name in exported:
                        continue
                    if not _uses(scope, name):
                        out.append((n.lineno, name))
                continue
            stack.extend(ast.iter_child_nodes(n))

    visit(tree, tree.body)
    rel = os.path.relpath(path, ROOT)
    return [f"{rel}:{line} {name}" for line, name in sorted(out)]


def test_no_unused_imports_in_package():
    unused = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                unused += _unused_imports(os.path.join(root, f))
    assert not unused, (
        "imports whose name is never used (delete them, or mark a "
        f"side-effect import `# noqa: F401`): {sorted(unused)}"
    )


def test_guard_flags_a_dead_local_import(tmp_path):
    """The checker itself: a function-local import used only by a
    sibling function, or only under a nested function's own import of
    the same name, is dead; a closure use and a noqa mark are not."""
    p = tmp_path / "m.py"
    p.write_text(
        "import os\n"
        "def a():\n"
        "    import json\n"
        "    return 1\n"
        "def b():\n"
        "    import json\n"
        "    def inner():\n"
        "        return json.dumps(os.sep)\n"
        "    return inner\n"
        "def c():\n"
        "    import re  # noqa: F401\n"
        "    import csv\n"
        "    def inner():\n"
        "        import csv\n"
        "        return csv.reader\n"
        "    return inner\n"
    )
    found = _unused_imports(str(p))
    assert [u.rsplit(":", 1)[1] for u in found] == ["3 json", "12 csv"]
