"""Every ``address_parser_spark`` name the entry points import must exist.

The scripts, the job, the benchmark harnesses, the driver entry and the test
modules import library names lazily (inside functions, or inside child
programs they embed as strings), so deleting a library function can strand
a caller that no other test ever imports — and a test module that fails to
import only drops out of a ``--continue-on-collection-errors`` run. This
walks their ASTs — nested imports included — and resolves each imported
name, then checks that every package function they call still accepts
each call shape they use. Pure Python: no SparkSession, no JVM.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "address_parser_spark"
CALLERS = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("jobs/*.py"), *ROOT.glob("perfbench/*.py"),
     *ROOT.glob("tests/*.py"), ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)
# single-line ``from address_parser_spark... import a, b`` inside string
# literals: the child programs the scaling scripts launch
_EMBEDDED = re.compile(rf"^\s*from ({PACKAGE}(?:\.\w+)*) import \(?([\w, ]+)\)?\s*$", re.M)


def _string_parts(node: ast.AST, hole: str = "") -> str | None:
    """The text of a string literal; an f-string's replacement fields
    become ``hole``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(v.value if isinstance(v, ast.Constant) else hole for v in node.values)
    return None


def _imports(path: Path) -> set[tuple[str, str | None]]:
    """(module, name) for each ``from pkg... import name`` and (module, None)
    for each plain ``import pkg...`` anywhere in the file."""
    found: set[tuple[str, str | None]] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == PACKAGE:
                found |= {(node.module, a.name) for a in node.names}
        elif isinstance(node, ast.Import):
            found |= {(a.name, None) for a in node.names if a.name.split(".")[0] == PACKAGE}
        elif (text := _string_parts(node)) is not None:
            for module, names in _EMBEDDED.findall(text):
                found |= {(module, n.strip()) for n in names.split(",") if n.strip()}
    return found


def test_walker_sees_nested_and_embedded_imports():
    """Non-vacuous: the walk reaches imports inside functions and inside the
    child-program strings, not only module-level ones."""
    seen = {(m, n) for p in CALLERS for m, n in _imports(p)}
    assert (f"{PACKAGE}.plans.pipeline", "run_pipeline") in seen  # perfbench/job.py, in a function
    assert (f"{PACKAGE}.operators.cluster", "connected_components") in seen  # embedded program
    assert len(seen) > 40


@pytest.mark.parametrize("path", CALLERS, ids=lambda p: str(p.relative_to(ROOT)))
def test_caller_imports_resolve(path):
    missing = []
    for module, name in sorted(_imports(path), key=lambda t: (t[0], t[1] or "")):
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            missing.append(f"{module}: {exc}")
            continue
        if name is not None and not hasattr(mod, name):
            try:  # ``from pkg import submodule``
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{path.relative_to(ROOT)} imports names that do not exist: {missing}"


def _call_shapes(path: Path) -> list[tuple[str, str, int, tuple[str, ...], int]]:
    """(module, name, positional count, keyword names, line) for each call of
    a name the file imports ``from`` the package. Calls spreading ``*args``
    or ``**kwargs`` have no static shape and are left out."""
    tree = ast.parse(path.read_text(), str(path))
    imported = {
        a.asname or a.name: (node.module, a.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module
        and node.module.split(".")[0] == PACKAGE
        for a in node.names
    }
    return [
        (*imported[node.func.id], len(node.args),
         tuple(sorted(k.arg for k in node.keywords)), node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
        and node.func.id in imported
        and not any(isinstance(a, ast.Starred) for a in node.args)
        and all(k.arg is not None for k in node.keywords)
    ]


def test_every_caller_call_shape_binds():
    """A signature edit must not strand a caller: for every package callable
    a caller (or the library itself) imports, bind each call site's
    positional count and keyword names to its signature — among them the
    benchmark's ``build_repair_state(gaz, nodes)``,
    ``extract_normalize(pages, registries)``, ``resolve_mentions``' four
    positionals plus ``nodes=`` and ``repair_state=``,
    ``with_blocking_keys(x)``, ``equality_edges``/``dropped_blocks(keyed,
    max_block=)`` and ``labeled_pairs(x)``."""
    shapes: dict[tuple, set[str]] = {}
    for path in [*CALLERS, *ROOT.glob(f"{PACKAGE}/**/*.py")]:
        for module, name, n_args, kwargs, line in _call_shapes(path):
            where = f"{path.relative_to(ROOT)}:{line}"
            shapes.setdefault((module, name, n_args, kwargs), set()).add(where)
    bench = {(m.rsplit(".", 1)[-1], n, a, k) for (m, n, a, k), w in shapes.items()
             if any(x.startswith("perfbench/") for x in w)}
    assert {("nodes", "build_repair_state", 2, ()), ("parse", "extract_normalize", 2, ()),
            ("parse", "resolve_mentions", 4, ("nodes", "repair_state")),
            ("pairs", "with_blocking_keys", 1, ()), ("pairs", "equality_edges", 1, ("max_block",)),
            ("pairs", "dropped_blocks", 1, ("max_block",)), ("eval", "labeled_pairs", 1, ())} <= bench
    failures, checked = [], 0
    for (module, name, n_args, kwargs), where in sorted(shapes.items()):
        obj = getattr(importlib.import_module(module), name, None)
        if not callable(obj):  # ``from pkg import submodule``
            continue
        sig = inspect.signature(obj)
        checked += 1
        try:
            sig.bind(*([None] * n_args), **dict.fromkeys(kwargs))
        except TypeError as exc:
            failures.append(f"{module}.{name}{sig} rejects the call at {sorted(where)}: {exc}")
    assert checked > 100
    assert not failures, "\n".join(failures)


# --------------------------------------------------------------------------
# Reachability: no library def or class that only tests reach
# --------------------------------------------------------------------------

ROOTS = [p for p in CALLERS if "tests" not in p.relative_to(ROOT).parts]


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant) and isinstance(node.body[0].value.value, str)
    }


def _refs(node: ast.AST) -> set[str]:
    """Names a subtree refers to: ``Name`` ids, ``Attribute`` attrs and
    import aliases. String contents (docstrings included) are not code."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out |= {n.name.rsplit(".", 1)[-1], n.asname} - {None}
    return out


def _template_holes(text: str) -> str:
    """A ``str.format`` template with each replacement field as ``0`` and
    doubled braces as single ones."""
    text = text.replace("{{", "\0").replace("}}", "\1")
    return re.sub(r"\{[^{}]*\}", "0", text).replace("\0", "{").replace("\1", "}")


def _root_refs(source: str) -> set[str]:
    """Names a caller refers to, its embedded child programs included: every
    non-docstring string or f-string naming the package is parsed as Python
    (as written, then as a ``str.format`` template); one that parses neither
    way still contributes the names its ``from ... import`` lines bind."""
    tree = ast.parse(source)
    out, docs = _refs(tree), _docstrings(tree)
    for node in ast.walk(tree):
        text = None if id(node) in docs else _string_parts(node, hole="0")
        if text is None or PACKAGE not in text:
            continue
        for candidate in (text, _template_holes(text)):
            try:
                out |= _refs(ast.parse(candidate))
                break
            except SyntaxError:
                continue
        else:
            out |= {n.strip() for _, names in _EMBEDDED.findall(text) for n in names.split(",")}
    return out


def _orphans(roots: dict[str, str], library: dict[str, str]) -> list[str]:
    """``path:line name`` of each top-level def/class in ``library`` (path →
    source) that no root (path → source) reaches through name references,
    transitively. Module-level statements other than imports run on import,
    so their references count as roots too. Matching is by bare name, so a
    def shares reachability with any same-named def or attribute."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    reached: set[str] = set().union(*(_root_refs(src) for src in roots.values()))
    for path, src in library.items():
        for stmt in ast.parse(src).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((path, stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= _refs(stmt)
    todo, seen = [n for n in reached if n in defs], set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [r for _, node in defs[name] for r in _refs(node) if r in defs]
    return sorted(f"{path}:{node.lineno} {name}"
                  for name, found in defs.items() if name not in seen for path, node in found)


def test_reachability_walker_is_not_vacuous():
    """The guard flags a def nothing calls and one only a docstring names;
    it follows references through other defs and into an f-string child
    program."""
    library = {"lib.py": '''
def via_child(): pass
def helper(): pass
def used(): return helper()
def orphan(): pass
def named_in_docstring(): pass
def documenter():
    """Calls named_in_docstring() -- prose, not a reference."""
'''}
    roots = {"script.py": '''
from lib import used, documenter
n = 3
CHILD = f"""
import {PACKAGE}.lib as m
x = {n}
m.via_child(x)
"""
'''.replace("{PACKAGE}", PACKAGE)}
    assert sorted(o.split()[1] for o in _orphans(roots, library)) == [
        "named_in_docstring", "orphan"]


def test_every_library_def_is_reachable_from_a_non_test_caller():
    """Every top-level def and class under the package is reached from the
    scripts, the job, the benchmark harnesses, ``bench.py`` or the driver
    entry (their embedded child programs included), directly or through
    other defs. A def only tests reach is dead library surface: delete it,
    or fold it into the test that uses it."""
    roots = {str(p.relative_to(ROOT)): p.read_text() for p in ROOTS}
    library = {str(p.relative_to(ROOT)): p.read_text()
               for p in sorted(ROOT.glob(f"{PACKAGE}/**/*.py"))}
    assert "perfbench/job.py" in roots and not any(r.startswith("tests/") for r in roots)
    orphans = _orphans(roots, library)
    assert not orphans, "library defs no non-test caller reaches:\n" + "\n".join(orphans)
