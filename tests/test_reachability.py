"""Every module under suggest_spark/ is reached from a product entry point.

Imports are walked by AST (no import runs, no Spark) from the job scripts,
the driver entry, the benchmark and the bench scripts.  A module only tests
import is code the product never runs; it fails this test until it is wired
into an entry point or deleted.
"""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRY_GLOBS = ["jobs/*.py", "__spark_entry__.py", "perfbench/*.py", "bench*.py"]

#: Settled SURVEY operators that no entry point wires in (wiring them into a
#: job would be new surface).  Paths are relative to suggest_spark/.
UNREACHED_ALLOWED = {
    # SURVEY P8: stop-word + snowball stemmer filter, unwired in the reference too
    "functions/stemmer.py",
    # SURVEY S10: HTTP query source as a Structured Streaming micro-batch source
    "streaming/__init__.py",
    "streaming/serve.py",
}


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imported_names(path: str) -> set[str]:
    """Dotted names ``path`` imports, relative imports resolved; for
    ``from m import x`` both ``m`` and ``m.x`` (x may be a submodule)."""
    name = _module_name(path)
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read(), path)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                anchor = ".".join(parts[: len(parts) - node.level + 1])
                mod = f"{anchor}.{node.module}" if node.module else anchor
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def reached_files(entries: list[str]) -> set[str]:
    """Repository .py files reached from ``entries``, parent packages'
    ``__init__.py`` included (importing a.b runs a/__init__.py)."""
    seen, todo = set(), list(entries)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f is not None and f not in seen:
                    todo.append(f)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    entries = sorted(p for g in ENTRY_GLOBS for p in glob.glob(os.path.join(ROOT, g)))
    assert entries
    pkg = os.path.join(ROOT, "suggest_spark")
    modules = set(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
    unreached = {os.path.relpath(p, pkg) for p in modules - reached_files(entries)}
    assert unreached == UNREACHED_ALLOWED, (
        f"only tests reach {sorted(unreached - UNREACHED_ALLOWED)}; "
        f"allowed but now reached: {sorted(UNREACHED_ALLOWED - unreached)}"
    )
