"""The engine's operator surface stays the size of its users.

A Spark-free reachability scan over ``memorious_spark/``: every
top-level function and class must be reachable from a non-test entry
point — the driver contract (``__spark_entry__.py``), the frozen
``bench.py``, the crawl benchmark (``crawlbench/``), ``tools/``, the
CLI, or an engine module's own top-level statements other than
imports. The only
exceptions are the pinned memorious-parity surface and the reference
implementations ``tests/test_urls.py`` compares against. Adding engine
code that only a test calls fails here instead of growing the surface
silently.

A "use" is a name, an attribute, an import alias or an identifier-like
string constant (YAML ``method:`` names resolve through strings).
``__all__`` lists are not uses. Matching is by bare name, so the scan
over-approximates reachability: it can miss dead code but never flags
live code.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENGINE = ROOT / "memorious_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# memorious-parity operators (SURVEY §2) that no entry point calls, and
# the pure-Python references tests/test_urls.py checks the kernels against
UNREACHED_BY_DESIGN = {
    # functions/checks.py — memorious ContextCheck
    "assert_valid", "is_numeric", "match_date",
    # functions/scraper_utils.py, functions/htmlkit.py
    "convert_snakecase", "search_results_last_url", "search_results_total",
    "soviet_checksum", "view_form_fields",
    # functions/urls.py — reference implementations
    "py_canon", "py_registrable_domain",
    # operators/rest_sink.py — aleph / REST emit
    "TransientApiError", "aleph_emit_documents", "aleph_emit_entities",
    "aleph_folders", "rest_emit", "rest_emit_waves",
    # operators/sinks.py
    "ftm_store",
    # plans/catalog.py — Iceberg / Delta catalog seam
    "DeltaStackIO", "IcebergIO", "iceberg_available", "merge_into_sql",
    "resolve_catalog",
    # sources/listing_source.py, sources/rest_source.py
    "listing_source", "retrieve_files", "mark_processed", "paginated_source",
    "skip_processed",
}


def _is_all(node: ast.AST) -> bool:
    targets = (
        node.targets if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign))
        else []
    )
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _uses(node: ast.AST) -> set[str]:
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if _is_all(n):
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and _IDENT.match(n.value)
        ):
            out.add(n.value)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def unreached_definitions() -> set[str]:
    entry_files = [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ENGINE / "cli.py",
        ENGINE / "__main__.py",
        *sorted((ROOT / "crawlbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    roots: set[str] = set()
    for path in entry_files:
        roots |= _uses(_parse(path))

    defs: dict[str, list[ast.AST]] = {}
    for path in sorted(ENGINE.rglob("*.py")):
        if path in entry_files:
            continue
        for stmt in _parse(path).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # an import alone does not use a name; its uses do
                roots |= _uses(stmt)

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for d in defs.get(name, ()):
            todo.extend(_uses(d) - reached)
    return set(defs) - reached


def test_only_pinned_definitions_are_unreached():
    unreached = unreached_definitions()
    assert unreached - UNREACHED_BY_DESIGN == set(), (
        "engine definitions no entry point reaches; delete them or call "
        "them from the contract"
    )
    assert UNREACHED_BY_DESIGN - unreached == set(), (
        "pinned definitions now reached or gone; unpin them"
    )
