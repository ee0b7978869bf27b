"""Every module under dle/ is reached from an entry point.

Walks imports transitively (AST only, no Spark, no execution) from the
driver entry, the bench CLI, the jobs, the benchmark harness and the
tools, counting imports inside functions too. A dle module that no
entry point reaches is code that only its own tests run.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("jobs", "perfbench", "tools"):
        files += sorted((ROOT / d).glob("*.py"))
    return files


def _module_file(name: str, search: list[Path]) -> Path | None:
    """The file a dotted module name loads from, or None if it is not
    a module in this repo (third-party, stdlib or a plain attribute)."""
    rel = Path(*name.split("."))
    for base in search:
        for cand in (base / rel.with_suffix(".py"),
                     base / rel / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _imported_names(path: Path) -> set[str]:
    """Dotted names `path` imports: each module, each `from` target,
    and each `from X import y` as X.y (kept only if y is a module)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                # the importing file's package, then one up per dot
                pkg = path.relative_to(ROOT).parent.parts
                pkg = pkg[:len(pkg) - (node.level - 1)]
                base = ".".join(p for p in [*pkg, base] if p)
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    expanded = set()
    for n in names:
        parts = n.split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ too
        expanded.update(".".join(parts[:i + 1]) for i in range(len(parts)))
    return expanded


def _reached() -> set[Path]:
    seen: set[Path] = set()
    todo = _entry_files()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        # a script's own directory is on sys.path; a package's is not
        search = ([ROOT] if ROOT / "dle" in path.parents
                  else [path.parent, ROOT])
        for name in _imported_names(path):
            f = _module_file(name, search)
            if f is not None:
                todo.append(f)
    return seen


def test_every_dle_module_is_reached_from_an_entry_point():
    reached = _reached()
    modules = sorted((ROOT / "dle").rglob("*.py"))
    assert modules
    missing = [str(m.relative_to(ROOT)) for m in modules
               if m not in reached]
    assert not missing, f"dle modules no entry point imports: {missing}"
