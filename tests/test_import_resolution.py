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


def _string_parts(node: ast.AST) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(v.value for v in node.values if isinstance(v, ast.Constant))
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
    benchmark job's ``build_repair_state(gaz, nodes)``,
    ``extract_normalize(pages, registries)`` and ``resolve_mentions``' four
    positionals plus ``nodes=`` and ``repair_state=``."""
    shapes: dict[tuple, set[str]] = {}
    for path in [*CALLERS, *ROOT.glob(f"{PACKAGE}/**/*.py")]:
        for module, name, n_args, kwargs, line in _call_shapes(path):
            where = f"{path.relative_to(ROOT)}:{line}"
            shapes.setdefault((module, name, n_args, kwargs), set()).add(where)
    job = {(m.rsplit(".", 1)[-1], n, a, k) for (m, n, a, k), w in shapes.items()
           if any(x.startswith("perfbench/job.py:") for x in w)}
    assert {("nodes", "build_repair_state", 2, ()), ("parse", "extract_normalize", 2, ()),
            ("parse", "resolve_mentions", 4, ("nodes", "repair_state"))} <= job
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
