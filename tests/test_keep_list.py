"""The crawl plane's import closure is exactly the README keep-list: a
crawl-plane module that starts importing a registry-only module fails
here. The query registry carries no orphaned helper: deleting a pair
without the helpers only it reached fails here too."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "biothings_crawler_spark"

KEEP_LIST = {
    "catalog", "hashing", "session", "urlnorm",
    "fixtures/corpus", "functions/docmap", "functions/fxp",
    "functions/json_canon",
    *(f"operators/{m}" for m in (
        "extract", "frontier", "politeness", "recrawl", "sampling", "seen",
        "sketch", "snapshot", "text")),
    "oracle/bfs", "oracle/geo_table", "oracle/jsonld", "oracle/links",
    "plans/crawl", "plans/upload",
}


def _package_imports(path: Path) -> set[str]:
    """Package modules imported anywhere in ``path`` (relative and lazy
    imports too), as 'dir/name'."""
    here = path.relative_to(ROOT).parts[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level + 1] if node.level else ()
            mod = ".".join([*base, *filter(None, [node.module])])
            names = [mod] + [f"{mod}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        else:
            continue
        for name in names:
            rel = name.removeprefix(PKG + ".").replace(".", "/")
            if name.startswith(PKG + ".") and (ROOT / PKG / f"{rel}.py").exists():
                out.add(rel)
    return out


def test_crawl_plane_closure_is_the_keep_list():
    roots = [ROOT / PKG / "plans/crawl.py", ROOT / PKG / "plans/upload.py",
             *sorted((ROOT / "jobs").glob("*.py")),
             *sorted((ROOT / "perfbench").glob("*.py"))]
    closure, todo = {"plans/crawl", "plans/upload"}, roots
    while todo:
        for mod in _package_imports(todo.pop()) - closure - {"plans/driver_queries"}:
            closure.add(mod)
            todo.append(ROOT / PKG / f"{mod}.py")
    assert closure == KEEP_LIST, (
        f"added {sorted(closure - KEEP_LIST)}, dropped {sorted(KEEP_LIST - closure)}")


REGISTRY = ROOT / PKG / "plans/driver_queries.py"
REGISTRY_ROOTS = {"QUERIES", "ORACLES", "TABLES", "_GATE_FIRST"}


def _bound(node: ast.stmt) -> list[str]:
    """Top-level names a statement defines (``__future__`` imports and
    bare expressions define none)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    if isinstance(node, ast.Import) or (
            isinstance(node, ast.ImportFrom) and node.module != "__future__"):
        return [(a.asname or a.name).split(".")[0] for a in node.names]
    return []


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _imported_from_registry() -> set[str]:
    """Registry names other files use: ``from ...driver_queries import X``
    and ``dq.X`` where ``dq`` is the module imported under an alias."""
    out = set()
    for path in ROOT.rglob("*.py"):
        if path == REGISTRY or ".git" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                if node.module.endswith("plans.driver_queries"):
                    out |= {a.name for a in node.names}
                elif node.module.endswith("plans"):
                    aliases |= {a.asname or a.name for a in node.names
                                if a.name == "driver_queries"}
        out |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name) and n.value.id in aliases}
    return out


def test_registry_has_no_orphaned_definitions():
    defs: dict[str, set[str]] = {}
    roots = _imported_from_registry()
    for node in ast.parse(REGISTRY.read_text()).body:
        names = _bound(node)
        if not names or set(names) & REGISTRY_ROOTS:
            roots |= _names(node)  # module-level statements and the registry
        for name in names:
            defs.setdefault(name, set()).update(_names(node) - {name})
    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in defs and name not in reached:
            reached.add(name)
            todo.extend(defs[name])
    orphans = sorted(set(defs) - reached - REGISTRY_ROOTS)
    assert REGISTRY_ROOTS <= set(defs) and orphans == [], f"unreached: {orphans}"
