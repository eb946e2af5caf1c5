"""The crawl plane's import closure is exactly the README keep-list: a
crawl-plane module that starts importing a registry-only module fails
here."""

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
