"""Every module, function and class under dle/ is reached from an
entry point.

Walks imports transitively (AST only, no Spark, no execution) from the
driver entry, the bench CLI, the jobs, the benchmark harness and the
tools, counting imports inside functions too. A dle module that no
entry point reaches is code that only its own tests run. The same holds
for each top-level `def` and `class` of a reached module, matched by
name: one is reached when reached code names it (a `Name`, an
`Attribute` or an import alias; docstrings do not count), and its body
then is reached code too.
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


# Top-level names no entry point reaches, kept on purpose.
UNREACHED_OK = {
    # called from tests only, as references for an engine path
    "dle/cells.py": {"cell_xy", "point_cell"},
    "dle/datagen.py": {"boundary_land"},
    "dle/geom/kernel.py": {"union_all_area"},
    "dle/operators/overlay.py": {"insert_difference", "_aggregate_multi"},
    "dle/queries_text.py": {"_simhash_py"},
    # ROADMAP #10: open items (skew salting, raster and GeoPackage export)
    "dle/operators/skew.py": {"dissolve_salted", "dissolve_auto"},
    "dle/operators/raster.py": {"rat", "rat_aux_xml", "write_raster",
                                "mosaic"},
    "dle/sources/geotiff.py": {"gdal_metadata_xml", "write_geotiff",
                               "read_geotiff"},
    "dle/sources/io.py": {"export_gpkg", "read_gpkg"},
}


def _refs(nodes, strings: bool = False) -> set[str]:
    """Identifiers the code under `nodes` names; with `strings`, also
    each string constant spelling one, docstrings aside (the benchmark
    harness times kernel functions by name)."""
    out: set[str] = set()
    for top in nodes:
        docs = {id(n.value) for n in ast.walk(top)
                if isinstance(n, ast.Expr)}
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
            elif (strings and isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and node.value.isidentifier() and id(node) not in docs):
                out.add(node.value)
    return out


def _unreached_names() -> dict[str, set[str]]:
    """Per reached dle module, its top-level def/class names that no
    reached code names."""
    defs = {}      # (module, name) -> the def's node
    refs = set()   # identifiers reached code names
    for path in _reached():
        tree = ast.parse(path.read_text(), str(path))
        if ROOT / "dle" not in path.parents:
            refs |= _refs([tree], strings=True)
            continue
        rel = str(path.relative_to(ROOT))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[(rel, node.name)] = node
            else:
                refs |= _refs([node])
    todo = True
    while todo:
        todo = [k for k in defs if k[1] in refs]
        for k in todo:
            refs |= _refs([defs.pop(k)])
    out: dict[str, set[str]] = {}
    for rel, name in defs:
        out.setdefault(rel, set()).add(name)
    return out


def test_every_dle_name_is_reached_from_an_entry_point():
    unreached = _unreached_names()
    extra = {m: sorted(n - UNREACHED_OK.get(m, set()))
             for m, n in unreached.items()}
    extra = {m: n for m, n in extra.items() if n}
    assert not extra, f"dle names no entry point reaches: {extra}"
    # the allowlist holds only names that exist and stay unreached
    stale = {m: sorted(n - unreached.get(m, set()))
             for m, n in UNREACHED_OK.items()}
    stale = {m: n for m, n in stale.items() if n}
    assert not stale, f"allowlisted names reached or gone: {stale}"
