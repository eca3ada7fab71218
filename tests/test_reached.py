"""Every top-level package def and class is reached from a root.

The walk is ``rotation.reach``, the closure step the check-rotation
fingerprints use, iterated from every root:

- what importing a package module runs: its non-def statements, the
  decorators and defaults of each def, and the decorators, bases and
  body statements of each class (this is what reaches the
  ``@register(oracle=…)`` arguments and the oracle generators);
- every registered query's builder;
- the entry points and scripts (``__spark_entry__.py``, ``bench.py``,
  ``tools/*.py``, ``perfbench/*.py``) and the package's own entry
  modules (``__main__``, ``serving``, ``serving_http``), read whole with
  ``ast``; importing a script would run its ``main``.

A reached class reaches its methods and the types its annotations
name (a dataclass field's type). Nothing under ``tests/`` is a root: a
def that only tests call is dead code with a test.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os
import pkgutil
import sys

import nyc_traffic_insight_spark as pkg
from nyc_traffic_insight_spark.queries import load_all, rotation

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_MODULES = {f"{pkg.__name__}.{m}" for m in ("__main__", "serving", "serving_http")}
SCRIPTS = ["__spark_entry__.py", "bench.py", "tools/*.py", "perfbench/*.py"]

# Defs that stay although no root reaches them, each dated with its reason.
UNREACHED_OK = {
    # 2026-10: the pairwise reference that
    # test_tdigest_merge_commutative_and_weight_preserving checks the
    # digest's merge laws against; no query merges two digests yet.
    ("nyc_traffic_insight_spark.functions.tdigest", "merge"),
}


def _import_time(body: list[ast.stmt]) -> list[ast.stmt]:
    """The parts of ``body`` that run when it executes: everything but
    the bodies of its defs."""
    out = []
    for st in body:
        if isinstance(st, ast.FunctionDef):
            a = st.args
            exprs = st.decorator_list + a.defaults + [d for d in a.kw_defaults if d]
        elif isinstance(st, ast.ClassDef):
            exprs = st.decorator_list + st.bases + [k.value for k in st.keywords]
            out += _import_time(st.body)
        else:
            out.append(st)
            continue
        out += [ast.Expr(e) for e in exprs]
    return out


def _compile(tree: ast.Module, path: str):
    return compile(ast.fix_missing_locations(tree), path, "exec")


def _unreached() -> set[tuple[str, str]]:
    registry = load_all()
    modules = [importlib.import_module(m.name) for m in pkgutil.walk_packages(
        pkg.__path__, pkg.__name__ + ".")]
    defs, todo = set(), []  # todo: (code, module whose globals it reads)
    for mod in modules:
        path = inspect.getsourcefile(mod)
        with open(path) as f:
            body = ast.parse(f.read()).body
        if mod.__name__ not in ENTRY_MODULES:
            defs |= {(mod.__name__, st.name) for st in body
                     if isinstance(st, (ast.FunctionDef, ast.ClassDef))}
            body = _import_time(body)
        todo.append((_compile(ast.Module(body, []), path), mod.__name__))
    for path in [p for g in SCRIPTS for p in sorted(glob.glob(os.path.join(ROOT, g)))]:
        with open(path) as f:
            todo.append((_compile(ast.parse(f.read()), path), ""))

    reached, seen = set(), set()

    def visit(v) -> None:
        """Queue the code of a reached function, property or class."""
        if isinstance(v, property):
            for f in (v.fget, v.fset, v.fdel):
                visit(f)
        elif (inspect.isfunction(v) or inspect.isclass(v)) and v.__module__.startswith(
                pkg.__name__):
            reached.add((v.__module__, v.__qualname__))
            if inspect.isfunction(v):
                todo.append((v.__code__, v.__module__))
            elif v not in seen:
                seen.add(v)
                for member in vars(v).values():
                    visit(member)
                for ann in inspect.get_annotations(v).values():  # field types, as text
                    todo.append((compile(ann, "<annotation>", "eval"), v.__module__))

    for spec in registry.values():
        visit(spec.builder)
    while todo:
        code, mod = todo.pop()
        if (code, mod) in seen:
            continue
        seen.add((code, mod))
        deps, bound = rotation.reach(code, mod, registry)
        for f in deps:
            visit(f)
        for m, n in bound:
            visit(vars(sys.modules[m])[n])
    return defs - reached


def test_every_package_def_is_reached():
    unreached = _unreached()
    assert unreached == UNREACHED_OK, (
        "no root reaches these package defs; delete them, move a test "
        f"seam to tests/, or add a dated exception: {sorted(unreached - UNREACHED_OK)}; "
        f"exceptions that are reached or gone: {sorted(UNREACHED_OK - unreached)}"
    )
