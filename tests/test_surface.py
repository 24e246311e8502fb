"""The engine's operator surface stays the size of its users.

A Spark-free reachability scan over ``memorious_spark/``: every
top-level function and class must be reachable from a non-test entry
point — the driver contract (``__spark_entry__.py``), the frozen
``bench.py``, the crawl benchmark (``crawlbench/``), ``tools/``, the
CLI, or an engine module's own top-level statements other than
imports. There are no exceptions: engine code that only a test calls
fails here instead of growing the surface silently, and a reference
implementation only tests use lives in the test that uses it.

A "use" is a name, an attribute, an import alias or an identifier-like
string constant (YAML ``method:`` names resolve through strings).
``__all__`` lists are not uses. Matching is by bare name, so the scan
over-approximates reachability: it can miss dead code but never flags
live code.

The same holds one level down, for parameters: a defaulted parameter
of a reached function or method that only calls under ``tests/`` ever
pass is a mode nothing else selects. The pinned ``TEST_ONLY_PARAMS``
are the threshold hooks, stat sinks and fixture shapes tests need;
any other test-only parameter fails the scan. A parameter that every
call — entry files, engine and tests together — binds to the same
literal (an omitted one binds its default) is a constant spelled as an
option, unless an entry-file call binds it as a contract argument;
only the hooks in ``ONE_VALUE_BY_DESIGN`` may stay. A function whose
name appears as a value outside the tests (``route=_bloom_shard``) is
called through a parameter the scan cannot follow, so it counts as
called with unknown arguments in both parameter scans.

And for statements and expressions: the same run of consecutive
statements spanning 6 or more lines, or the same expression spanning 4
or more lines, may not appear twice in the engine; a copied block is
one helper that every site calls.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENGINE = ROOT / "memorious_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# (function or Class.method, parameter) pairs only tests pass
TEST_ONLY_PARAMS = {
    # thresholds and partition counts lowered so a toy input takes the
    # at-scale path
    ("RunStore.upsert_shared", "compact_after"),
    ("flag_contaminated", "broadcast_max"),
    ("strip_boilerplate_lines", "broadcast_max"),
    ("pack_token_shards", "num_partitions"),
    # oversampling margins cut to force the counted exact-fill fallback
    ("quota_sample", "safety"),
    ("temperature_mix", "safety"),
    # caller-supplied dicts that receive an operator's counters
    ("flag_contaminated", "stats"),
    ("ngram_jaccard_pairs", "stats"),
    ("quota_sample", "stats"),
    ("strip_boilerplate_lines", "stats"),
    ("temperature_mix", "stats"),
    # fixture generators: hot-host corpora for the skew tests
    ("build_corpus", "hot_mod"),
    ("seed_urls", "hot_mod"),
    # a fixed input for hand-derived expectations, and an oversized
    # unit that trips pagerank's fixed-point overflow check
    ("temperature_mix", "total"),
    ("pagerank", "unit"),
    # operator variants a test checks beside the contract's default
    ("knn_lsh", "multiprobe"),
    ("ngram_jaccard_pairs", "max_df"),
    # CLI argv (the console entry point reads sys.argv)
    ("main", "argv"),
}

# (function or Class.method, parameter) pairs every call binds to one
# value
ONE_VALUE_BY_DESIGN = {
    # deployment path: production swaps in the full PSL file
    ("load_psl", "path"),
    # memorious parse_date/iso_date helper surface (SURVEY.md)
    ("py_iso_date", "format_hint"),
    # crawlbench's TracingStore overrides it with this signature
    ("RunStore.write_round_local", "table"),
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


def _entry_files() -> list[Path]:
    return [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ENGINE / "cli.py",
        ENGINE / "__main__.py",
        *sorted((ROOT / "crawlbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]


def unreached_definitions() -> set[str]:
    entry_files = _entry_files()
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
    assert unreached_definitions() == set(), (
        "engine definitions no entry point reaches; delete them or call "
        "them from the contract"
    )


def _callees() -> dict[str, list[tuple[str, ast.AST, bool, bool]]]:
    """Called name → ``(label, def, skips_first_param, method_only)``
    for every reached top-level function, method and constructor."""
    out: dict[str, list] = {}
    for path in sorted(ENGINE.rglob("*.py")):
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.setdefault(stmt.name, []).append(
                    (stmt.name, stmt, False, False)
                )
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in m.decorator_list
                    )
                    label = f"{stmt.name}.{m.name}"
                    out.setdefault(m.name, []).append(
                        (label, m, not static, True)
                    )
                    if m.name == "__init__":
                        out.setdefault(stmt.name, []).append(
                            (label, m, True, False)
                        )
    return out


def _signature(fn: ast.AST) -> dict[str, ast.AST | None]:
    """Parameter name → its default expression (None when required)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    return {
        **{p.arg: d for p, d in zip(pos, defaults)},
        **{p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)},
    }


def _defaulted(fn: ast.AST) -> list[str]:
    return [p for p, d in _signature(fn).items() if d is not None]


def _bindings(call: ast.Call, fn: ast.AST, skip: bool, star_passes_all: bool):
    """Parameter → the argument ``call`` binds it to, by position or
    keyword. A ``*args``/``**kwargs`` splat binds every parameter it
    could reach to None when ``star_passes_all`` and none otherwise."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args][int(skip):]
    out: dict[str, ast.AST | None] = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            if star_passes_all:
                out |= dict.fromkeys(pos[i:])
            break
        if i < len(pos):
            out[pos[i]] = arg
    for kw in call.keywords:
        if kw.arg is not None:
            out[kw.arg] = kw.value
        elif star_passes_all:
            out |= dict.fromkeys(pos + [p.arg for p in a.kwonlyargs])
    return out


# how a function passed as a value (``route=_bloom_shard``) is later
# called through the parameter that received it: with any arguments
_UNKNOWN_ARGS = ast.parse("f(*args, **kwargs)", mode="eval").body


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls(paths, callees):
    """``(path, call, callee)`` for every call in ``paths`` whose name
    matches a reached engine function, method or constructor. A
    top-level function whose name appears as a value outside
    ``tests/`` — anything but the callee of a call, e.g. a call
    argument — yields ``_UNKNOWN_ARGS`` (a test that keeps a reference
    to restore a monkeypatch calls nothing)."""
    for path in paths:
        tree = _parse(path)
        called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        in_tests = ROOT / "tests" in path.parents
        for n in ast.walk(tree):
            name = _name(n)
            if name is not None and id(n) not in called and not in_tests:
                for callee in callees.get(name, ()):
                    if callee[0] == name:  # not Class.method / __init__
                        yield path, _UNKNOWN_ARGS, callee
            if not isinstance(n, ast.Call):
                continue
            name = _name(n.func)
            for callee in callees.get(name, ()):
                if isinstance(n.func, ast.Attribute) or not callee[3]:
                    yield path, n, callee


def _params_passed(paths, callees, star_passes_all: bool) -> set[tuple]:
    return {
        (label, p)
        for _, call, (label, fn, skip, _) in _calls(paths, callees)
        for p in _bindings(call, fn, skip, star_passes_all)
    }


def _all_defaulted(callees) -> set[tuple[str, str]]:
    return {
        (label, p)
        for defs in callees.values()
        for label, fn, _, _ in defs
        for p in _defaulted(fn)
    }


def params_only_tests_pass() -> set[tuple[str, str]]:
    callees = _callees()
    defaulted = _all_defaulted(callees)
    live = _params_passed(
        {*_entry_files(), *ENGINE.rglob("*.py")}, callees, True
    )
    tests = _params_passed(
        sorted((ROOT / "tests").rglob("*.py")), callees, False
    )
    return (tests - live) & defaulted


def test_no_unpinned_test_only_parameters():
    found = params_only_tests_pass()
    assert found - TEST_ONLY_PARAMS == set(), (
        "defaulted parameters only tests pass; delete the mode or pass "
        "it from the contract"
    )
    assert TEST_ONLY_PARAMS - found == set(), (
        "pinned parameters now passed outside tests or gone; unpin them"
    )


def _literal(node: ast.AST) -> str | None:
    """Source text of a literal argument, None for anything else."""
    try:
        ast.literal_eval(node)
    except ValueError:
        return None
    return ast.unparse(node)


def params_bound_to_one_value() -> set[tuple[str, str]]:
    """Parameters of reached engine functions and methods that every
    call (entry files, engine and tests together) binds to the same
    literal. A call that leaves a parameter unset binds its default; a
    defaulted parameter no call reaches is bound to its default; any
    argument other than a literal, or a splat, binds None (a value
    that varies). A binding in an entry file is a contract argument
    and exempts the parameter."""
    callees = _callees()
    entry_files = set(_entry_files())
    values: dict[tuple[str, str], set[str | None]] = {}
    contract: set[tuple[str, str]] = set()
    paths = {*entry_files, *ENGINE.rglob("*.py"), *(ROOT / "tests").rglob("*.py")}
    for path, call, (label, fn, skip, _) in _calls(paths, callees):
        bound = _bindings(call, fn, skip, True)
        if path in entry_files:
            contract |= {(label, p) for p in bound}
        for p, default in _signature(fn).items():
            if p in bound or default is not None:
                arg = bound.get(p, default)
                values.setdefault((label, p), set()).add(arg and _literal(arg))
    for pair in _all_defaulted(callees):
        values.setdefault(pair, {"default"})
    return {
        pair for pair, vals in values.items()
        if len(vals) == 1 and None not in vals and pair not in contract
    }


def test_no_unpinned_one_value_parameters():
    found = params_bound_to_one_value()
    assert found - ONE_VALUE_BY_DESIGN == set(), (
        "parameters every call binds to one value; write the value in "
        "where it is used and delete the parameter"
    )
    assert ONE_VALUE_BY_DESIGN - found == set(), (
        "pinned parameters now take several values or are gone; unpin them"
    )


def _statement_lists(tree: ast.AST):
    for n in ast.walk(tree):
        for field in ("body", "orelse", "finalbody"):
            stmts = getattr(n, field, None)
            if isinstance(stmts, list) and stmts and isinstance(
                stmts[0], ast.stmt
            ):
                yield stmts


def _engine_trees():
    for path in sorted(ENGINE.rglob("*.py")):
        yield path.relative_to(ENGINE).as_posix(), _parse(path)


def _repeats(seen: dict) -> set[tuple[str, str]]:
    """Pairs of distinct ``file:line`` places that share a key."""
    return {
        (a, b)
        for where in seen.values()
        for k, a in enumerate(where)
        for b in where[k + 1:]
        if a != b
    }


def repeated_statement_blocks() -> set[tuple[str, str]]:
    """Pairs of ``file:line`` where the same run of consecutive
    statements (compared by ``ast.unparse``) spanning 6 or more source
    lines starts twice in ``memorious_spark/``."""
    seen: dict[tuple[str, ...], list[str]] = {}
    for rel, tree in _engine_trees():
        for stmts in _statement_lists(tree):
            src = [ast.unparse(s) for s in stmts]
            for i, first in enumerate(stmts):
                for j in range(i, len(stmts)):
                    if stmts[j].end_lineno - first.lineno >= 5:
                        seen.setdefault(tuple(src[i:j + 1]), []).append(
                            f"{rel}:{first.lineno}"
                        )
    return _repeats(seen)


def test_no_repeated_statement_blocks():
    assert repeated_statement_blocks() == set(), (
        "the same statements appear twice; fold them into one helper"
    )


def repeated_expressions() -> set[tuple[str, str]]:
    """Pairs of ``file:line`` where the same expression (compared by
    ``ast.unparse``) spanning 4 or more source lines appears twice in
    ``memorious_spark/`` — the copies a statement scan misses because
    the statements around them differ."""
    seen: dict[str, list[str]] = {}
    for rel, tree in _engine_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.expr) and n.end_lineno - n.lineno >= 3:
                seen.setdefault(ast.unparse(n), []).append(f"{rel}:{n.lineno}")
    return _repeats(seen)


def test_no_repeated_expressions():
    assert repeated_expressions() == set(), (
        "the same expression appears twice; fold it into one helper"
    )
