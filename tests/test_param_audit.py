"""No unused options: every defaulted parameter of a package function is set
by some call in the repo's Python (the package, the contract module,
``bench.py``, ``tools/``, ``enginebench/`` and the tests). A parameter no
caller sets only ever takes its default, so it is a constant written as an
option; this test keeps such options from growing back.

The scan is static and matches callees by name. A parameter counts as set
when a call passes it by keyword or by position, when the call spreads
``*args`` or ``**kw``, or when it reaches the function through
``Ctx.call(name, fn, ...)`` or ``submit(fn, ...)``. A function referenced
other than by being called (handed to ``applyInPandas``, kept in a table,
wrapped) may be called with any arguments, so it is skipped.

Run ``python tests/test_param_audit.py`` to list the findings."""

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "wavelet_decomposition_spark")
SKIP_DIRS = {".git", ".claude", "__pycache__", ".enginebench", ".pytest_cache"}

# deployment paths: set by whoever deploys the engine, not by the repo
EXEMPT_PARAMS = {"root", "scratch_dir"}
# test oracles kept with their options
EXEMPT_FUNCS = {"calc_epn", "dictionary_width", "scale_sizes", "column_floats"}
EXEMPT_MODULES = {os.path.join("io", "reference_data.py")}

# (callee attribute, index of the function argument) of the call indirections
INDIRECT = {"call": 1, "submit": 0}


def _py_files(top):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in SKIP_DIRS)
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _defaulted(fn):
    """(name, position or None) of each parameter that has a default; the
    position counts from the first argument a caller passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    out = [(p.arg, i - skip) for i, p in enumerate(pos)
           if i >= len(pos) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def package_functions():
    """Every function and method in the package with a defaulted parameter:
    (module path relative to the package, name, [(param, position)])."""
    found = []
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, PACKAGE)
        for node in ast.walk(_parse(path)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                params = _defaulted(node)
                if params:
                    found.append((rel, node.name, params))
    return found


def _calls_and_refs():
    """callee name -> list of (n positional args, keywords, spread), and the
    set of names used other than as a callee."""
    calls, refs = {}, set()
    for path in _py_files(ROOT):
        tree = _parse(path)
        callee_nodes = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                # the object an attribute is read from is a module or an
                # instance, not a function handed around
                callee_nodes.add(id(node.value))
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            target = _name(func)
            callee_nodes.add(id(func))
            at = INDIRECT.get(target)
            if at is not None and len(args) > at and _name(args[at]):
                callee_nodes.add(id(args[at]))
                target, args = _name(args[at]), args[at + 1:]
            spread = (any(isinstance(x, ast.Starred) for x in args)
                      or any(k.arg is None for k in node.keywords))
            calls.setdefault(target, []).append(
                (len(args), {k.arg for k in node.keywords}, spread))
        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in callee_nodes:
                if isinstance(node.ctx, ast.Load):
                    refs.add(_name(node))
    return calls, refs


def findings():
    calls, refs = _calls_and_refs()
    out = []
    for rel, fname, params in package_functions():
        if fname in refs or fname in EXEMPT_FUNCS or rel in EXEMPT_MODULES:
            continue
        sites = calls.get(fname, [])
        for pname, pos in params:
            if pname in EXEMPT_PARAMS:
                continue
            if not any(spread or pname in kws or (pos is not None and n > pos)
                       for n, kws, spread in sites):
                out.append(f"{rel}::{fname}({pname})")
    return out


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = findings()
    assert not unset, (f"{len(unset)} defaulted parameters no call sets; make "
                       "each the constant it always is:\n" + "\n".join(unset))


if __name__ == "__main__":
    fns = package_functions()
    print(f"{sum(len(p) for _, _, p in fns)} defaulted parameters in {len(fns)} functions")
    unset = findings()
    print("\n".join(unset))
    print(f"{len(unset)} set by no call", file=sys.stderr)
    sys.exit(1 if unset else 0)
