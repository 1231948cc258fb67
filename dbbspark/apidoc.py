"""Public-API reference generator (VERDICT r6 item 8): the 55+ closure
operators live across 40+ modules and were discoverable only via
SURVEY.md; this renders one markdown page — module → symbol →
signature → first docstring line — straight from the source of truth
(the docstrings), so it can never drift silently: a pytest regenerates
the page and fails when docs/API.md is stale or a public operator is
missing from it.

Run: ``python -m dbbspark.apidoc`` (writes docs/API.md).
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil

# Subpackages/modules that form the public surface, in page order.
PUBLIC_PACKAGES = ["operators", "sources", "streaming", "plans", "queries"]
PUBLIC_MODULES = [
    "catalog",
    "commit",
    "domain",
    "functions",
    "jdbc_sink",
    "maintenance",
    "monitor",
    "session",
    "tables",
    "cli",
]


def _first_line(doc: str | None) -> str:
    if not doc:
        return ""
    for line in doc.strip().splitlines():
        s = line.strip()
        if s:
            return s
    return ""


def _doc_of(name: str, obj) -> str:
    """A symbol's one-liner: its docstring, else (for `@query`-decorated
    builders) the `doc=` string registered in the catalog — the
    declared queries document themselves there, next to their oracle."""
    line = _first_line(getattr(obj, "__doc__", None))
    if line:
        return line
    from .catalog import load_all

    spec = load_all().get(name)
    return _first_line(spec.doc) if spec else ""


def _signature(obj) -> str:
    import re

    try:
        sig = str(inspect.signature(obj))
    except (TypeError, ValueError):
        return "(...)"
    # function-object defaults repr with a memory address — render as
    # the bare function name (deterministic across processes)
    return re.sub(r"<function (\w+) at 0x[0-9a-f]+>", r"\1", sig)


def public_symbols(module) -> list[tuple[str, object]]:
    """Module-level public functions/classes DEFINED in ``module``
    (re-exports excluded), source order."""
    out = []
    for name, obj in vars(module).items():
        if name.startswith("_"):
            continue
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        if getattr(obj, "__module__", None) != module.__name__:
            continue
        try:
            line = inspect.getsourcelines(obj)[1]
        except (OSError, TypeError):
            line = 0
        out.append((line, name, obj))
    return [(n, o) for _l, n, o in sorted(out)]


def iter_modules() -> list[str]:
    names = []
    for pkg in PUBLIC_PACKAGES:
        sub = importlib.import_module(f"dbbspark.{pkg}")
        for m in sorted(
            mi.name for mi in pkgutil.iter_modules(sub.__path__)
        ):
            names.append(f"dbbspark.{pkg}.{m}")
    names += [f"dbbspark.{m}" for m in PUBLIC_MODULES]
    return names


def render() -> str:
    lines = [
        "# dbbspark — public API reference",
        "",
        "Generated by `python -m dbbspark.apidoc` from docstrings; "
        "`tests/test_apidoc.py` fails when this page is stale. "
        "SURVEY.md §2 maps each operator to its reference-parity row and "
        "correctness evidence; this page is the call-surface index.",
        "",
    ]
    for modname in iter_modules():
        module = importlib.import_module(modname)
        syms = public_symbols(module)
        if not syms:
            continue
        lines.append(f"## `{modname}`")
        head = _first_line(module.__doc__)
        if head:
            lines.append(f"*{head}*")
        lines.append("")
        for name, obj in syms:
            kind = "class" if inspect.isclass(obj) else "def"
            lines.append(f"- **`{name}{_signature(obj)}`** ({kind}) — "
                         f"{_doc_of(name, obj) or '(undocumented)'}")
        lines.append("")
    return "\n".join(lines) + "\n"


def main() -> None:
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(here, "docs", "API.md")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        fh.write(render())
    print(out)


if __name__ == "__main__":
    main()
