"""Two rules against unused code in the package, one against copied
code in its query layer, and one against cached query plans.

No single-valued options: every parameter of a package function, with or
without a default, takes at least two different values over the calls in
the repo's Python (the package, the contract module, ``bench.py``,
``tools/``, ``enginebench/`` and the tests). A parameter every call gives
the same value is a constant written as an option; this test keeps such
options from growing back.

The scan is static and matches callees by name. A call gives a parameter
the literal it passes by keyword or by position; a call that omits it gives
its default; a column reference ``F.col(<literal>)`` gives its literal. Any
other non-literal argument, or a call that spreads ``*args`` or ``**kw``,
counts as a second value. Calls reach a function directly or
through ``Ctx.call(name, fn, ...)`` and ``submit(fn, ...)``. A call counts
only for the package function it reaches: a module that defines a function
or method of the callee's name calls its own, not the package's. Tests
count as callers. A function no call reaches keeps only its defaults, so
its defaulted parameters are flagged; its required ones are not (dunder
methods and the ``@query`` bodies are reached through the language or a
registry). A function that non-test code references other than by calling
it (a kernel handed to Spark, a table entry) may be called with any
arguments, so it is skipped; a test's reference skips nothing. A reference
is a name bound to the package function (imported from the package, or a
function of the package module itself) that no parameter or assignment of
the enclosing function shadows, or an attribute read from a package module
or from ``self``/``cls``.

No unreached code: every module-level function or class of the package is
reached from the program or named in ``ORACLES``. The program's roots are
every module outside the package and the tests (``__spark_entry__.py``,
``bench.py``, ``tools/``, ``enginebench/``), the package's module-level
statements, every ``@query`` body (the registry imports the family
modules by a computed name, which a static scan cannot follow) and every
function of ``EXEMPT_MODULES``. A reached
function or class reaches every package function or class its body
references, called or not, by the reference rule above; reach is
transitive, and a test reaches nothing. A named oracle is kept code, so
what it references is reached too, but each must be read by some test.
A reference resolves to the function it names where the scan can tell:
``mod.f`` read from a package module is that module's ``f``, a name
imported ``from pkg.x import f`` is ``x``'s ``f``, and a bare name of the
module's own is its own. Any other reference (a method, an attribute of
a class, a name whose module has no such function) resolves by name: it
reaches every module-level function or class of that name. An ``ORACLES``
entry is a name, or ``module::name`` for one module's function.

No copied query code: no two function bodies under ``queries/`` share a
run of ``RUN`` consecutive lines. A body's lines are its non-blank,
non-comment source lines, stripped, without its docstring; the lines of a
nested function belong to that function alone. A derived series or column
set two queries need is built once, in a helper both call.

No cached plans: no package code calls ``.cache()`` or ``.persist()``. A
cached frame registers its plan with Spark's CacheManager, and any later
query that builds the same plan silently reads it: a memo across queries
and repeats. A check that reads a frame the rows also read is a window
aggregate over the one lineage instead; what must be materialized once
inside a query is a ``localCheckpoint``, which no plan matches. A
decorator such as ``@functools.cache`` is not a call and is not flagged.

Run ``python tests/test_param_audit.py`` to list the findings of all four
rules."""

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "wavelet_decomposition_spark"
TESTS = "tests"
SKIP_DIRS = {".git", ".claude", "__pycache__", ".enginebench", ".pytest_cache"}

# deployment paths: set by whoever deploys the engine, not by the repo
EXEMPT_PARAMS = {"root", "scratch_dir"}
# test oracles kept with their options
EXEMPT_FUNCS = {"calc_epn", "dictionary_width", "scale_sizes", "column_floats",
                "bpe_train_reference", "transcripts_pandas"}
EXEMPT_MODULES = {os.path.join("io", "reference_data.py")}
# test oracles: package code only tests call, kept as the reference a test
# checks the program's code against (``module::name`` where the name is
# defined in more than one module)
ORACLES = {"calc_epn", "dictionary_width", "dwt", "full_dtw_numpy",
           "gapfill_zero", "idwt", "imodwt", "iwpt_batch",
           "kernel/deltadelta.py::decode", "kernel/deltadelta.py::encode",
           "kernel/gorilla.py::decode", "kernel/gorilla.py::encode", "modwt",
           "scale_sizes", "transcripts_pandas"}

# (callee attribute, index of the function argument) of the call indirections
INDIRECT = {"call": 1, "submit": 0}
# the shortest run of lines two query-layer bodies may not share; the
# 6-line per-(type, hour) groupBy prefix of two hourly bases stays below it
RUN = 7


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


def _functions(tree):
    return [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _own(tree, from_package):
    """The names of the module's own functions and classes: a call or
    reference to one of these by bare name or through ``self``/``cls``
    reaches the module's own, not the package's."""
    return {n.name for n in ast.walk(tree) if isinstance(
        n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))} - from_package


def _literal(node):
    """The literal ``node`` spells, as a comparable key, or None. A column
    reference ``F.col(<literal>)`` spells its literal: a caller passing
    ``F.col("text")`` and one passing ``"text"`` give one value."""
    if (isinstance(node, ast.Call) and _name(node.func) == "col"
            and len(node.args) == 1 and not node.keywords):
        node = node.args[0]
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return None


def _params(fn):
    """(name, position or None, default node or None) of each parameter a
    caller fills; the position counts from the first argument a caller
    passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    first_default = len(pos) - len(a.defaults)
    out = [(p.arg, i - skip, a.defaults[i - first_default] if i >= first_default else None)
           for i, p in enumerate(pos) if i >= skip]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return out


def package_functions(root):
    """Every function and method in the package that takes a parameter:
    (module path relative to the package, name, params)."""
    found = []
    for path in _py_files(os.path.join(root, PACKAGE)):
        rel = os.path.relpath(path, os.path.join(root, PACKAGE))
        for node in _functions(_parse(path)):
            params = _params(node)
            if params:
                found.append((rel, node.name, params))
    return found


def _imports(tree):
    """The names a module binds by import: local name -> imported name, and
    the local names bound from the package (its functions and modules)."""
    names, from_package = {}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                names[a.asname or a.name] = a.name
                if (node.module or "").startswith(PACKAGE) or node.level:
                    from_package.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE:
                    from_package.add(a.asname or PACKAGE)
    return names, from_package


def _targets(tree, pkg, here):
    """Where each name the module binds from the package points: local name
    -> (module, None) for a package module, (module, name) for a name read
    from one, or (None, name) where that module is not in the package
    directory ``pkg``. Modules are paths relative to ``pkg``; ``here`` is
    the importing module's directory there, or None outside the package."""

    def module(parts):
        path = os.path.join("", *parts)
        for cand in (path + ".py", os.path.join(path, "__init__.py")):
            if os.path.isfile(os.path.join(pkg, cand)):
                return cand
        return None

    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            named = node.module.split(".") if node.module else []
            if node.level and here is not None:
                base = here.split(os.sep) if here else []
                parts = base[:len(base) - node.level + 1] + named
            elif not node.level and named[:1] == [PACKAGE]:
                parts = named[1:]
            else:
                continue
            for a in node.names:
                sub, mod = module(parts + [a.name]), module(parts)
                out[a.asname or a.name] = (sub, None) if sub else (mod, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                parts = a.name.split(".")
                if parts[0] == PACKAGE:
                    out[a.asname or PACKAGE] = (module(parts[1:] if a.asname else []), None)
    return out


def _refs(tree, names, package_names, own, callee_nodes, targets=None, here=None):
    """The package functions ``tree`` uses other than as a callee, as
    (module or None, name): a bare name bound from the package or to a
    function of the module's own (unless a parameter or assignment of the
    enclosing function shadows it), or an attribute read from a package
    module or from ``self``/``cls``. The module is the one ``targets`` (see
    :func:`_targets`) or ``here`` (the module's own path) resolves the
    reference to, None where it does not; a package module named bare is
    no function and is left out."""
    targets = targets or {}
    found = set()

    def visit(node, shadowed):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            bound = a.posonlyargs + a.args + a.kwonlyargs + [p for p in (a.vararg, a.kwarg) if p]
            shadowed = shadowed | {p.arg for p in bound} | {
                n.id for n in ast.walk(node)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
        elif id(node) not in callee_nodes and isinstance(getattr(node, "ctx", None), ast.Load):
            if isinstance(node, ast.Name):
                if node.id not in shadowed and node.id in package_names:
                    mod, name = targets.get(node.id, (None, names.get(node.id, node.id)))
                    if name is not None:
                        found.add((mod, name))
                elif node.id not in shadowed and node.id in own:
                    found.add((here, node.id))
            elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                mod, name = targets.get(node.value.id, (None, None))
                if node.value.id in package_names:
                    found.add((mod if name is None else None, node.attr))
                elif node.value.id in ("self", "cls") and node.attr in own:
                    found.add((None, node.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, shadowed)

    visit(tree, frozenset())
    return found


def _calls_and_refs(root):
    """callee name -> list of (calling module, positional args, keyword
    args, spread, whether the call reaches a function of the calling module
    that has the callee's name); and the package functions non-test code
    references other than as a callee."""
    calls, refs = {}, set()
    for path in _py_files(root):
        rel = os.path.relpath(path, root)
        is_test = rel.split(os.sep)[0] == TESTS
        tree = _parse(path)
        names, from_package = _imports(tree)
        own = _own(tree, from_package)
        callee_nodes = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                # the object an attribute is read from is a module or an
                # instance, not a function handed around
                callee_nodes.add(id(node.value))
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            callee_nodes.add(id(func))
            at = INDIRECT.get(_name(func))
            if at is not None and len(args) > at and _name(args[at]):
                func, args = args[at], args[at + 1:]
                callee_nodes.add(id(func))
            target = _name(func)
            local = target in own and (isinstance(func, ast.Name) or (
                isinstance(func.value, ast.Name) and func.value.id in ("self", "cls")))
            if isinstance(func, ast.Name):
                target = names.get(target, target)
            spread = (any(isinstance(x, ast.Starred) for x in args)
                      or any(k.arg is None for k in node.keywords))
            calls.setdefault(target, []).append(
                (rel, args, {k.arg: k.value for k in node.keywords if k.arg}, spread, local))
        if not is_test:
            in_package = rel.split(os.sep)[0] == PACKAGE
            refs |= {name for _mod, name in _refs(
                tree, names, from_package, own if in_package else set(), callee_nodes)}
    return calls, refs


def _single_valued(pname, pos, default, sites):
    """True when every call site gives the parameter one and the same
    literal value (an omitted argument gives the default); a defaulted
    parameter no call reaches only ever takes its default."""
    if not sites:
        return default is not None
    values = set()
    for args, kws, spread in sites:
        if spread:
            return False
        if pname in kws:
            arg = kws[pname]
        elif pos is not None and pos < len(args):
            arg = args[pos]
        elif default is not None:
            arg = default
        else:
            continue  # not a call this function can bind
        value = _literal(arg)
        if value is None and arg is not default:
            return False
        values.add(value if value is not None else ast.dump(arg))
        if len(values) > 1:
            return False
    return len(values) == 1


def audit(root):
    """(number of parameters audited, the single-valued ones as
    ``module::function(parameter)``) for the repo at ``root``."""
    calls, refs = _calls_and_refs(root)
    audited, single = 0, []
    for rel, fname, params in package_functions(root):
        if fname in refs or fname in EXEMPT_FUNCS or rel in EXEMPT_MODULES:
            continue
        own = os.path.join(PACKAGE, rel)
        sites = [(args, kws, spread) for mod, args, kws, spread, local in calls.get(fname, [])
                 if mod == own or not local]
        for pname, pos, default in params:
            if pname in EXEMPT_PARAMS:
                continue
            audited += 1
            if _single_valued(pname, pos, default, sites):
                single.append(f"{rel}::{fname}({pname})")
    return audited, single


def findings(root=ROOT):
    return audit(root)[1]


def unreached(root=ROOT, oracles=ORACLES):
    """The package's module-level functions and classes that no program
    path reaches and ``oracles`` does not name, as ``module::name``; then
    each oracle no test reads, as ``oracle::name``."""
    pkg = os.path.join(root, PACKAGE)
    uses, by_name, roots, read_by_tests = {}, {}, set(), set()
    for path in _py_files(root):
        rel = os.path.relpath(path, root)
        top = rel.split(os.sep)[0]
        tree = _parse(path)
        names, from_package = _imports(tree)
        mod = os.path.relpath(path, pkg) if top == PACKAGE else None
        targets = _targets(tree, pkg, os.path.dirname(mod) if mod else None)
        own = _own(tree, from_package) if mod else set()
        # the object an attribute is read from is a module or an instance
        objects = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Attribute)}

        def refs(node):
            return _refs(node, names, from_package, own, objects, targets, mod)

        if mod is None:
            (read_by_tests if top == TESTS else roots).update(refs(tree))
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                roots |= refs(node)
                continue
            by_name.setdefault(node.name, []).append(mod)
            uses[mod, node.name] = refs(node)
            if mod in EXEMPT_MODULES or any(  # ``@query`` or ``@query(...)``
                    _name(getattr(d, "func", d)) == "query" for d in node.decorator_list):
                roots.add((mod, node.name))

    def resolve(ref):
        mod, name = ref
        if (mod, name) in uses:
            return [(mod, name)]
        return [(m, name) for m in by_name.get(name, ())]

    named = {o: tuple(o.split("::")) if "::" in o else (None, o) for o in oracles}
    reached, todo = set(), [r for ref in roots | set(named.values()) for r in resolve(ref)]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(r for ref in uses[key] for r in resolve(ref))
    read = {r for ref in read_by_tests for r in resolve(ref)}
    return (sorted(f"{mod}::{name}" for mod, name in uses if (mod, name) not in reached)
            + [f"oracle::{o}" for o in sorted(oracles) if not read & set(resolve(named[o]))])


def _body_lines(fn, lines):
    """The stripped non-blank, non-comment source lines of ``fn``'s body,
    without its docstring and the lines of the functions nested in it."""
    body = fn.body[1:] if ast.get_docstring(fn) is not None else fn.body
    if not body:
        return []
    nested = set()
    for n in _functions(fn):
        if n is not fn:
            start = min([d.lineno for d in n.decorator_list] + [n.lineno])
            nested.update(range(start, n.end_lineno + 1))
    return [text for i in range(body[0].lineno, fn.end_lineno + 1)
            if i not in nested and (text := lines[i - 1].strip())
            and not text.startswith("#")]


def duplicate_bodies(root=ROOT):
    """Each set of two or more function bodies under ``queries/`` that
    share a run of ``RUN`` consecutive lines, as their sorted
    ``module::function`` names joined by `` / ``."""
    top = os.path.join(root, PACKAGE, "queries")
    where = {}
    for path in _py_files(top):
        rel = os.path.relpath(path, top)
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        lines = src.splitlines()
        for fn in _functions(ast.parse(src, path)):
            body = _body_lines(fn, lines)
            for i in range(len(body) - RUN + 1):
                where.setdefault(tuple(body[i:i + RUN]), set()).add((rel, fn.lineno, fn.name))
    return sorted({" / ".join(sorted(f"{rel}::{name}" for rel, _, name in fns))
                   for fns in where.values() if len(fns) > 1})


def cached_plans(root=ROOT):
    """Each ``.cache()`` or ``.persist()`` call in the package, as
    ``module:line``."""
    top = os.path.join(root, PACKAGE)
    return [f"{os.path.relpath(path, top)}:{node.func.end_lineno}"
            for path in _py_files(top) for node in ast.walk(_parse(path))
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist")]


def test_every_parameter_takes_two_values():
    single = findings()
    assert not single, (f"{len(single)} parameters take one value at every call; "
                        "make each the constant it always is:\n" + "\n".join(single))


def test_package_code_is_reached_or_an_oracle():
    found = unreached()
    assert not found, (f"{len(found)} unreached or unread; delete the code no program "
                       "path reaches, or name the test oracle:\n" + "\n".join(found))


def test_query_bodies_share_no_run_of_lines():
    found = duplicate_bodies()
    assert not found, (f"{len(found)} sets of query-layer bodies share a run of {RUN} "
                       "lines; build the shared part once in a helper:\n" + "\n".join(found))


def test_package_caches_no_plan():
    found = cached_plans()
    assert not found, (f"{len(found)} .cache()/.persist() calls; compute the check "
                       "over the one lineage, or localCheckpoint:\n" + "\n".join(found))


def _plant(tmp_path, files, rule=findings):
    """Write ``{relative path: source}`` under ``tmp_path`` and run ``rule``
    on it."""
    for rel, src in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(src)
    return rule(str(tmp_path))


MOD = f"{PACKAGE}/mod.py"


def test_rule_required_parameter_with_one_literal_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def f(x, col):\n    return x\n",
        "tools/run.py": "f(1, 'a')\nf(2, 'a')\n",
    })
    assert got == ["mod.py::f(col)"]


def test_rule_column_reference_gives_its_literal(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("def f(x, col):\n    return x\n"
              "def g(x, col):\n    return x\n"),
        "tools/run.py": ("f(1, 'text')\nf(2, F.col('text'))\n"
                         "g(1, 'text')\ng(2, F.col('body'))\n"),
    })
    assert got == ["mod.py::f(col)"]


def test_rule_default_passed_only_its_own_value_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def g(x, n=5):\n    return x\n",
        "tools/run.py": "g(1, n=5)\ng(2)\n",
    })
    assert got == ["mod.py::g(n)"]


def test_rule_default_of_an_uncalled_function_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def f(x, n=5):\n    return x\n",
        "tools/run.py": "def f(x, n=5):\n    return x\nf(1, n=6)\nf(2)\n",
    })
    assert got == ["mod.py::f(n)"]


def test_rule_second_value_makes_an_option(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("def two(x, col):\n    return x\n"
              "def named(x, col):\n    return x\n"
              "def star(x, col):\n    return x\n"
              "def kw(x, col):\n    return x\n"),
        "tools/run.py": ("two(1, 'a')\ntwo(2, 'b')\n"
                         "named(1, 'a')\nnamed(2, name)\n"
                         "star(1, 'a')\nstar(*args)\n"
                         "kw(1, 'a')\nkw(2, **opts)\n"),
    })
    assert got == []


def test_rule_test_reference_does_not_hide_a_function(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def h(x, col='a'):\n    return x\n",
        f"{TESTS}/test_h.py": ("from wavelet_decomposition_spark.mod import h\n"
                               "for fn in (h,):\n    fn(1)\n"
                               "h(2)\nh(3)\n"),
    })
    assert got == ["mod.py::h(col)"]


def test_rule_only_a_reference_to_the_package_function_hides_it(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("def kept(x, col='a'):\n    return x\n"
              "def shadowed(x, col='a'):\n    return x\n"
              "def named(x, col='a'):\n    return x\n"),
        "tools/run.py": ("from wavelet_decomposition_spark.mod import kept, named, shadowed\n"
                         "TABLE = [kept]\n"
                         "def tally(shadowed):\n    return shadowed[0]\n"
                         "def count(rows):\n    named = len(rows)\n    return named\n"
                         "kept(1)\nshadowed(1)\nshadowed(2)\nnamed(1)\nnamed(2)\n"),
        "tools/other.py": "named = 3\nprint(named, rows.shadowed)\n",
    })
    assert sorted(got) == ["mod.py::named(col)", "mod.py::shadowed(col)"]


def test_rule_calling_module_own_function_is_not_a_caller(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def k(x, mode='a'):\n    return x\nk(1)\nk(2)\n",
        "tools/run.py": ("def k(x, mode='a'):\n    return x\n"
                         "class Run:\n"
                         "    def k(self, mode):\n        return mode\n"
                         "    def go(self):\n        return self.k(mode='c')\n"
                         "k(1, mode='b')\n"),
    })
    assert got == ["mod.py::k(mode)"]


def _reach(oracles=("ref",)):
    return lambda root: unreached(root, oracles)


def test_reach_function_only_a_test_calls_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def f(x):\n    return x\n",
        "tools/run.py": "def f(x):\n    return x\nf(1)\n",
        f"{TESTS}/test_f.py": "from wavelet_decomposition_spark.mod import f\nf(1)\n",
    }, _reach(()))
    assert got == ["mod.py::f"]


def test_reach_function_tools_call_is_not_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("def f(x):\n    return g(x)\n"
              "def g(x):\n    return x\n"
              "class K:\n    pass\n"
              "def h(x):\n    return x\n"
              "TABLE = {'h': h}\n"),
        f"{PACKAGE}/kernel.py": "def k(x):\n    return x\n",
        "tools/run.py": ("from wavelet_decomposition_spark import kernel\n"
                         "from wavelet_decomposition_spark.mod import f, K\n"
                         "f(K)\nkernel.k(1)\n"),
    }, _reach(()))
    assert got == []


def test_reach_reference_resolves_to_its_module(tmp_path):
    got = _plant(tmp_path, {
        f"{PACKAGE}/a.py": "def g(x):\n    return x\ndef h(x):\n    return x\n",
        f"{PACKAGE}/b.py": "def g(x):\n    return x\ndef h(x):\n    return x\n",
        "tools/run.py": ("from wavelet_decomposition_spark import a\n"
                         "from wavelet_decomposition_spark.b import h\n"
                         "a.g(1)\nh(2)\n"),
    }, _reach(()))
    assert got == ["a.py::h", "b.py::g"]


def test_reach_module_qualified_oracle_names_one_function(tmp_path):
    got = _plant(tmp_path, {
        f"{PACKAGE}/a.py": "def g(x):\n    return x\n",
        f"{PACKAGE}/b.py": "def g(x):\n    return x\n",
        f"{TESTS}/test_g.py": ("from wavelet_decomposition_spark import a, b\n"
                               "assert a.g(1) == b.g(1)\n"),
    }, _reach(("a.py::g",)))
    assert got == ["b.py::g"]


def test_reach_function_only_an_unreached_function_calls_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("def dead(x):\n    return helper(x)\n"
              "def helper(x):\n    return x\n"
              "def live(x):\n    return x\n"),
        "tools/run.py": "from wavelet_decomposition_spark.mod import live\nlive(1)\n",
    }, _reach(()))
    assert got == ["mod.py::dead", "mod.py::helper"]


def test_reach_function_a_query_body_calls_is_not_flagged(tmp_path):
    got = _plant(tmp_path, {
        f"{PACKAGE}/queries/family.py": (
            "from . import query\n"
            "from ..mod import op\n"
            "@query\ndef _q_one(spark, sf_dir):\n    return op(spark)\n"
            "@query(kind='rows')\ndef _q_two(spark, sf_dir):\n    return _shared(spark)\n"
            "def _shared(spark):\n    return spark\n"),
        MOD: "def op(spark):\n    return spark\n",
    }, _reach(()))
    assert got == []


def test_reach_named_oracle_is_not_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("def ref(x):\n    return _step(x)\n"
              "def _step(x):\n    return x\n"),
        f"{TESTS}/test_ref.py": "from wavelet_decomposition_spark import mod\nassert mod.ref(1)\n",
    }, _reach())
    assert got == []


def test_reach_oracle_no_test_reads_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: "def ref(x):\n    return x\n",
        f"{TESTS}/test_ref.py": "def ref(x):\n    return x\nassert ref(1)\n",
    }, _reach(("ref", "gone")))
    assert got == ["oracle::gone", "oracle::ref"]


QMOD = f"{PACKAGE}/queries/a.py"
# a 7-line run: the copy two bodies may not share
COPY = "".join(f"    x{i} = {i}\n" for i in range(7))


def test_copy_seven_line_run_in_two_bodies_is_flagged(tmp_path):
    got = _plant(tmp_path, {
        QMOD: f"def f():\n    a = 1\n{COPY}    return a\n",
        f"{PACKAGE}/queries/b.py": f"def g():\n{COPY}    return 2\n",
    }, duplicate_bodies)
    assert got == ["a.py::f / b.py::g"]


def test_copy_six_line_run_and_docstring_are_not_flagged(tmp_path):
    doc = '    """One docstring\n    both bodies\n    carry."""\n'
    six = "".join(COPY.splitlines(True)[:6])
    got = _plant(tmp_path, {
        QMOD: (f"def f():\n{doc}{six}    return 1\n"
               f"def g():\n{doc}    # a comment\n\n{six}    return 2\n"),
    }, duplicate_bodies)
    assert got == []


def test_copy_nested_def_lines_count_only_in_the_nested_def(tmp_path):
    got = _plant(tmp_path, {
        QMOD: ("def outer():\n    a = 1\n    def inner():\n"
               + COPY.replace("    ", "        ") + "        return 0\n"
               "    return inner\n"
               f"def other():\n{COPY}    return 2\n"),
    }, duplicate_bodies)
    assert got == ["a.py::inner / a.py::other"]


def test_cache_and_persist_calls_are_flagged(tmp_path):
    got = _plant(tmp_path, {
        MOD: ("import functools\n"
              "@functools.cache\n"
              "def f(df):\n"
              "    # df.cache() in a comment\n"
              "    a = df.cache()\n"
              "    b = df.persist(level)\n"
              "    return df.localCheckpoint(eager=False), cache(a), b\n"),
    }, cached_plans)
    assert got == ["mod.py:5", "mod.py:6"]


if __name__ == "__main__":
    fns = package_functions(ROOT)
    n = sum(len(p) for _, _, p in fns)
    d = sum(1 for _, _, p in fns for _, _, default in p if default is not None)
    audited, single = audit(ROOT)
    print(f"{n} parameters ({d} defaulted) in {len(fns)} functions, {audited} audited")
    print("\n".join(single))
    print(f"{len(single)} take one value at every call", file=sys.stderr)
    found = unreached()
    print("\n".join(found))
    print(f"{len(found)} unreached or unread ({len(ORACLES)} oracles)", file=sys.stderr)
    copies = duplicate_bodies()
    print("\n".join(copies))
    print(f"{len(copies)} sets of query-layer bodies share a run of {RUN} lines",
          file=sys.stderr)
    cached = cached_plans()
    print("\n".join(cached))
    print(f"{len(cached)} .cache()/.persist() calls", file=sys.stderr)
    sys.exit(1 if single or found or copies or cached else 0)
