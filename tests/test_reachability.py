"""Every library module must be reachable from an entry point.

Walks the static import graph (module-level and function-local imports)
from the driver contract (``__spark_entry__.py``), the job CLI
(``submit_job.py``), the benchmark (``perfbench/*.py``) and the news
refresh loop (``search_engine_spark.news.pipeline``). A module under
``search_engine_spark/`` that none of them reach is dead code: only its own
tests would keep it alive.

``KNOWN_UNREACHABLE`` names the modules that are dead today but still
tested; each leaves the list when it is deleted together with its tests.
The set of unreachable modules must equal that list exactly, so new dead
code fails the test and so does a stale entry.
"""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "search_engine_spark"

KNOWN_UNREACHABLE = {
    f"{PKG}.streaming.stateful",
    f"{PKG}.streaming.windowed",
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _library_modules() -> dict[str, str]:
    return {
        _module_name(p): p
        for p in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)
    }


def _imports(path: str, name: str) -> set[str]:
    """Absolute names of every module (and each parent package) that the
    file at ``path`` imports, plus ``from X import y`` candidates X.y."""
    is_pkg = path.endswith("__init__.py")
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    found: set[str] = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                prefix = base[: len(base) - node.level + 1]
                mod = ".".join(prefix + ([node.module] if node.module else []))
            else:
                mod = node.module
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            found.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return found


def test_every_library_module_is_reachable_from_an_entry_point():
    modules = _library_modules()
    roots = [
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, "submit_job.py"),
        *sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py"))),
    ]
    news = f"{PKG}.news.pipeline"
    todo = [(p, _module_name(p)) for p in roots] + [(modules[news], news)]
    seen = {news}
    while todo:
        path, name = todo.pop()
        for dep in _imports(path, name):
            if dep in modules and dep not in seen:
                seen.add(dep)
                todo.append((modules[dep], dep))
    unreachable = set(modules) - seen
    assert not unreachable - KNOWN_UNREACHABLE, (
        "library modules no entry point imports (delete them or wire them "
        f"in): {sorted(unreachable - KNOWN_UNREACHABLE)}"
    )
    assert not KNOWN_UNREACHABLE - unreachable, (
        "reachable or deleted, drop them from KNOWN_UNREACHABLE: "
        f"{sorted(KNOWN_UNREACHABLE - unreachable)}"
    )
