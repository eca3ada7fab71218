"""The check rotation, derived instead of hand-listed.

The sf0.01 correctness gate walks REGISTRY front-to-back with a
~50-query budget, so ``load_all()`` orders the registry by ``order()``:
queries whose code changed since their last PASS first.
``rotation.json`` maps each query to ``[round, fingerprint]`` of its
latest PASS row in a round's ``CORRECTNESS_rNN.json``;
``tools/rotation.py record CORRECTNESS_rNN.json`` refreshes it when a
round's correctness file lands.
"""

import ast
import dis
import hashlib
import importlib.util
import inspect
import json
import os
import sys
import textwrap

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rotation.json")
_PKG = __name__.split(".")[0]
CURRENT: dict[str, str] = {}  # the loaded registry's fingerprints, once per process


def order(registry: dict) -> list[str]:
    """Query names in rotation order. Entries whose fingerprint differs
    from the manifest, or that have no manifest entry, come first, then
    the unchanged ones; each group by recorded round ascending, ties in
    registry order (``sorted`` is stable)."""
    if not CURRENT:
        CURRENT.update(fingerprints(registry))
    with open(MANIFEST) as f:
        passed = json.load(f)
    same = {n for n, (_, fp) in passed.items() if CURRENT.get(n) == fp}
    return sorted(registry, key=lambda n: (n in same, passed.get(n, [0])[0]))


def fingerprints(registry: dict) -> dict[str, str]:
    """Hash each query's package-source closure and rendered oracle text.

    The closure is the source of every package function and
    module-level binding the builder reaches, one ``reach`` step per
    function (``tests/test_reached.py`` walks the same steps from every
    root). A class counts by its own source. Source is compared as its
    ``ast.dump`` with def and class docstrings removed, so a comment,
    docstring or layout edit leaves the fingerprint as it was; the
    oracle text enters raw. Parts are keyed by qualified name
    and sorted, so neither the hash seed nor the checkout path enters
    the hash. Source, not optimized plans: a plan needs a session, data
    and the builders' eager jobs, and embeds session identity (RDD ids,
    PID-scoped paths, MLlib UIDs)."""
    defs: dict[str, dict] = {}  # module -> {name: source | (module, name)}
    memo: dict[int, tuple[set[str], list]] = {}  # id(function) -> (parts, deps)

    def source(mod: str, name: str) -> str | None:
        """Normalized source of the module-level statements that bind ``name``."""
        if mod not in defs:
            d = defs.setdefault(mod, {})
            for st in ast.parse(inspect.getsource(sys.modules[mod])).body:
                if isinstance(st, ast.ImportFrom) and str(st.module).startswith(_PKG):
                    d.update({a.asname or a.name: (st.module, a.name) for a in st.names})
                stored = (x for x in ast.walk(st) if isinstance(x, ast.Name))
                bound = [st.name] if hasattr(st, "name") else [  # def or class
                    x.id for x in stored if isinstance(x.ctx, ast.Store)]
                text = _dump(st) if bound else ""  # the tree is not kept
                for n in bound:
                    prior = d[n] if isinstance(d.get(n), str) else ""
                    d[n] = prior + text + "\n"
        s = defs[mod].get(name)
        return source(*s) if isinstance(s, tuple) else s

    def node(fn) -> tuple[set[str], list]:
        """One function's own parts and the package functions it reaches."""
        if id(fn) not in memo:
            mod, qual = fn.__module__, fn.__qualname__
            text = source(mod, qual) or _dump(
                ast.parse(textwrap.dedent(inspect.getsource(fn))))
            deps, bound = reach(fn.__code__, mod, registry)
            parts = {f"{mod}.{qual}\n{text}"} | {
                f"{m}.{n}\n{t}" for m, n in bound if (t := source(m, n)) is not None}
            memo[id(fn)] = parts, deps
        return memo[id(fn)]

    out = {}
    for name, spec in registry.items():
        seen, todo, parts = set(), [spec.builder], {str(spec.oracle)}
        while todo:
            fn = todo.pop()
            if id(fn) not in seen:
                seen.add(id(fn))
                p, d = node(fn)
                parts |= p
                todo += d
        out[name] = hashlib.sha256("\0".join(sorted(parts)).encode()).hexdigest()[:16]
    return out


def reach(code, mod: str, registry: dict) -> tuple[list, list[tuple[str, str]]]:
    """One closure step: the package functions ``code`` (nested code
    included) reaches, and the ``(module, name)`` of every other package
    binding it reads. Names resolve through module ``mod``'s globals
    (``""`` for a script outside the package) and through the package
    modules the code imports; a string constant that names a registered
    query reaches its builder. A module-valued attribute is followed
    only when an import statement binds it, in the code or at the top
    level of the module that holds it: importing a submodule also sets
    it on its parent package, so following any module attribute would
    make the closure depend on what the process happened to import."""
    codes = [code]
    for co in codes:  # grows by each nested code object
        codes += [c for c in co.co_consts if inspect.iscode(c)]
    names = {n for co in codes for n in co.co_names}
    strs = {c for co in codes for c in co.co_consts if isinstance(c, str)}
    deps = [registry[c].builder for c in strs & registry.keys()]
    bound = []
    mods, last = [sys.modules[mod]] if mod.startswith(_PKG) else [], None
    for co in codes:  # the package modules the code imports, as running it would
        for i in dis.get_instructions(co):
            if i.opname == "IMPORT_NAME":
                last = importlib.import_module(i.argval) if i.argval.startswith(_PKG) else None
                mods += [last] if last else []
            elif i.opname == "IMPORT_FROM" and hasattr(last, "__path__"):
                sub = f"{last.__name__}.{i.argval}"  # ``from package import submodule``
                if importlib.util.find_spec(sub):
                    mods.append(importlib.import_module(sub))
    for m in mods:  # grows by each package module a name binds
        for n in names & vars(m).keys():
            v = vars(m)[n]
            if inspect.ismodule(v):
                if (v.__name__.startswith(_PKG) and v not in mods
                        and n in _imports(m.__name__)):
                    mods.append(v)
            elif inspect.isfunction(v):
                if str(v.__module__).startswith(_PKG):
                    deps.append(v)
            else:
                bound.append((m.__name__, n))
    return deps, bound


def _imports(mod: str) -> set[str]:
    """The names that module ``mod``'s top-level import statements bind."""
    todo, out = list(ast.parse(inspect.getsource(sys.modules[mod])).body), set()
    for st in todo:  # grows by the bodies of if/try blocks
        if isinstance(st, ast.Import):
            out |= {a.asname or a.name.split(".")[0] for a in st.names}
        elif isinstance(st, ast.ImportFrom):
            out |= {a.asname or a.name for a in st.names}
        elif not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for f in ("body", "orelse", "finalbody", "handlers"):
                todo += getattr(st, f, ())
    return out


def _dump(tree: ast.AST) -> str:
    """``ast.dump`` of ``tree`` with the leading docstring of every def
    and class body removed (comments never reach the tree)."""
    todo = [tree]
    for x in todo:  # grows by each statement; a def is always a statement
        if isinstance(x, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if ast.get_docstring(x, clean=False) is not None:
                x.body = x.body[1:]
        for f in ("body", "orelse", "finalbody", "handlers", "cases"):
            todo += getattr(x, f, ())
    return ast.dump(tree)
