"""Documentation claims that must match the code: every test and
package function COVERAGE.md names exists, and every tool the docs name
exists. Below them, the reachability guards: every package module,
engine option and package function has a production user."""

import ast
import fnmatch
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEST_DIRS = ("tests", "cdcbench")

# a backticked span that is one test name (``*`` wildcards allowed) or one
# test file, optionally under a directory
_NAME = re.compile(r"test_[\w*]+")
_FILE = re.compile(r"(?:[\w.-]+/)*test_\w+\.py")


def _defined_tests() -> set[str]:
    names = set()
    for d in TEST_DIRS:
        for f in os.listdir(os.path.join(ROOT, d)):
            if not f.endswith(".py"):
                continue
            with open(os.path.join(ROOT, d, f)) as fh:
                tree = ast.parse(fh.read())
            names.update(n.name for n in ast.walk(tree)
                         if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                         and n.name.startswith("test_"))
    return names


def _file_exists(name: str) -> bool:
    return any(os.path.isfile(os.path.join(ROOT, *base, name))
               for base in ((), *((d,) for d in TEST_DIRS)))


def test_coverage_names_only_existing_tests():
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        spans = re.findall(r"`([^`\n]+)`", f.read())
    defined = _defined_tests()
    missing = []
    for span in spans:
        if _FILE.fullmatch(span):
            if not _file_exists(span):
                missing.append(span)
        elif _NAME.fullmatch(span):
            if not fnmatch.filter(defined, span):
                missing.append(span)
    assert not missing, f"COVERAGE.md names tests that do not exist: {missing}"


def _module_definitions(path: str) -> set[str]:
    """The names a module defines: every function and class (methods
    and nested functions included, also as ``Class.method``) and each
    top-level assignment."""
    with open(path) as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        if isinstance(node, ast.ClassDef):
            names |= {f"{node.name}.{m.name}" for m in node.body
                      if isinstance(m, ast.FunctionDef)}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def test_coverage_names_only_existing_functions():
    """Every backticked ``module.fn / fn / ...`` span in COVERAGE.md whose
    module is a package module (``diff``, ``analytics/text``,
    ``sinks.parquet_sink``) names only what that module defines."""
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        spans = re.findall(r"`([^`\n]+)`", f.read())
    pkg = os.path.join(ROOT, PKG)
    missing = []
    for span in spans:
        first, *rest = [p.strip() for p in span.split(" / ")]
        if first.endswith(".py"):
            continue
        m = re.fullmatch(r"([\w/]+(?:\.\w+)*?)\.(\w+(?:\.\w+)?)", first)
        if not m:
            continue
        path = _module_file(pkg, re.split(r"[/.]", m.group(1)))
        if path is None:
            continue
        defined = _module_definitions(path)
        missing += [f"{m.group(1)}.{name}"
                    for name in [m.group(2)] + rest
                    if re.fullmatch(r"\w+(?:\.\w+)?", name)
                    and name not in defined]
    assert not missing, f"COVERAGE.md names functions that do not exist: " \
        f"{missing}"


def test_docs_name_only_existing_tools():
    """Every backticked ``tools/….py`` in the docs that describe the repo as
    it is must exist (ROADMAP.md names planned tools, so it is left out)."""
    missing = []
    for doc in ("README.md", "COVERAGE.md",
                os.path.join(".claude", "skills", "verify", "SKILL.md")):
        with open(os.path.join(ROOT, doc)) as f:
            # fenced blocks and inline spans
            spans = re.findall(r"```.*?```|`[^`\n]+`", f.read(), re.S)
        missing += [(doc, path) for span in spans
                    for path in re.findall(r"(?<![\w/.-])tools/[\w/.-]+\.py",
                                           span)
                    if not os.path.isfile(os.path.join(ROOT, path))]
    assert not missing, f"docs name tools that do not exist: {missing}"


# -- reachability ------------------------------------------------------------

PKG = "cql_replicator_spark"
# what runs in production: the CLI, the Spark entry module, the bench, the
# tools, the loop benchmark and the end-to-end verify script
ENTRY_POINTS = ("bench.py", "__spark_entry__.py", os.path.join(PKG, "cli.py"),
                "tools", "cdcbench", os.path.join(".claude", "skills", "verify"))


def _module_file(base: str, parts: list[str]) -> str | None:
    path = os.path.join(base, *parts)
    for f in (path + ".py", os.path.join(path, "__init__.py")):
        if os.path.isfile(f):
            return f
    return None


def _imported_files(path: str) -> set[str]:
    """The repo files ``path`` imports, from every import statement in its
    AST (imports inside functions count): each module named, its parent
    packages, and for ``from m import n`` the submodule ``m.n`` if there
    is one. A script outside the package also imports from its own dir."""
    here = os.path.dirname(path)
    in_pkg = os.path.relpath(path, ROOT).startswith(PKG + os.sep)
    with open(path) as f:
        tree = ast.parse(f.read())
    wanted = []  # (base dir, dotted parts)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bases = (ROOT,) if in_pkg else (ROOT, here)
            wanted += [(b, a.name.split(".")) for b in bases for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here
                for _ in range(node.level - 1):
                    base = os.path.dirname(base)
                bases = (base,)
            else:
                bases = (ROOT,) if in_pkg else (ROOT, here)
            mod = node.module.split(".") if node.module else []
            wanted += [(b, mod + [a.name]) for b in bases for a in node.names]
            wanted += [(b, mod) for b in bases if mod]
    found = set()
    for base, parts in wanted:
        for i in range(1, len(parts) + 1):
            f = _module_file(base, parts[:i])
            if f:
                found.add(f)
    return found


def _entry_files() -> list[str]:
    """The production scripts and modules of ENTRY_POINTS (test files in
    those dirs left out)."""
    files = []
    for entry in ENTRY_POINTS:
        path = os.path.join(ROOT, entry)
        if os.path.isdir(path):
            files += [os.path.join(path, f) for f in os.listdir(path)
                      if f.endswith(".py") and not f.startswith("test_")]
        else:
            files.append(path)
    return files


def _reached_package_modules() -> set[str]:
    todo = _entry_files()
    seen = set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        todo += _imported_files(f)
        # a module inside a package runs its packages' __init__ first
        d = os.path.dirname(f)
        while os.path.isfile(os.path.join(d, "__init__.py")):
            todo.append(os.path.join(d, "__init__.py"))
            d = os.path.dirname(d)
    return {_dotted(f) for f in seen
            if os.path.relpath(f, ROOT).startswith(PKG + os.sep)}


def _dotted(path: str) -> str:
    rel = os.path.relpath(path, os.path.join(ROOT, PKG))[:-len(".py")]
    parts = rel.split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def test_every_package_module_has_a_production_importer():
    """Every package module is imported, directly or not, by code that
    runs in production; a module only tests import is deleted or wired
    in."""
    modules = set()
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        modules |= {_dotted(os.path.join(d, f)) for f in files
                    if f.endswith(".py")}
    assert sorted(modules - _reached_package_modules()) == []


def _is_sys_path(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "path"
            and getattr(node.value, "id", None) == "sys")


def test_no_production_root_imports_a_test_module():
    """No ENTRY_POINTS file imports a ``test_*`` module or puts
    ``tests/`` on ``sys.path``: a test helper that production code
    calls is production code, and belongs in the package."""
    found = []
    for path in _entry_files():
        with open(path) as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, ROOT)
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                mods = [a.name for a in node.names]
                if isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                found += [(rel, m) for m in mods
                          if any(p.startswith("test_") for p in m.split("."))]
            elif isinstance(node, ast.Call) and _is_sys_path(
                    getattr(node.func, "value", None)):
                found += [(rel, "sys.path += tests") for c in ast.walk(node)
                          if isinstance(c, ast.Constant)
                          and isinstance(c.value, str)
                          and "tests" in re.split(r"[/\\]", c.value)]
    assert not found, f"production files reach into the tests: {found}"


# -- options ------------------------------------------------------------------

# the replication engine and what the CLI reaches around it: their
# seams carry only what production passes
ENGINE = ("runner", "ledger", "snapshot", "diff", "staging",
          "sinks.parquet_sink", "reconcile", "config", "stats", "transform",
          "sinks.cql_sink", "sinks.datasource")


def _defaulted_params(fn: ast.FunctionDef, bound: bool):
    """(name, position) of each parameter of ``fn`` that has a default;
    the position counts the arguments a caller passes (``self`` is not
    one when ``bound``) and is None for a keyword-only parameter."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args][1 if bound else 0:]
    first = len(pos) - len(a.defaults)
    yield from ((p, i) for i, p in enumerate(pos) if i >= first)
    yield from ((k.arg, None) for k, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None)


def _engine_options():
    """(qualified name, called name, parameter, position) of each
    defaulted parameter of a public function or method of ENGINE. A
    class's ``__init__`` is called, and qualified, under the class
    name."""
    for mod in ENGINE:
        with open(_module_file(os.path.join(ROOT, PKG), mod.split("."))) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            fns = []
            if isinstance(node, ast.FunctionDef):
                fns.append((node.name, node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, ast.FunctionDef):
                        continue
                    bound = not any(getattr(d, "id", None) == "staticmethod"
                                    for d in m.decorator_list)
                    if m.name == "__init__":
                        fns.append((node.name, node.name, m, bound))
                    else:
                        fns.append((f"{node.name}.{m.name}", m.name, m,
                                    bound))
            for qual, called, fn, bound in fns:
                if any(part.startswith("_") for part in qual.split(".")):
                    continue
                for param, position in _defaulted_params(fn, bound):
                    yield f"{mod}.{qual}.{param}", called, param, position


def _production_files() -> list[str]:
    """The ENTRY_POINTS files and every package module."""
    files = _entry_files()
    for d, _, names in os.walk(os.path.join(ROOT, PKG)):
        files += [os.path.join(d, f) for f in names if f.endswith(".py")]
    return files


def _production_calls() -> dict[str, list[ast.Call]]:
    """Every call in the production files, by the name called."""
    calls: dict[str, list[ast.Call]] = {}
    for path in _production_files():
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = (getattr(node.func, "id", None)
                        or getattr(node.func, "attr", None))
                calls.setdefault(name, []).append(node)
    return calls


def _passes(call: ast.Call, param: str, position: int | None) -> bool:
    """Whether ``call`` may pass ``param``: by keyword, by ``**``, or, for
    a positional parameter, by position or ``*``."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    return position is not None and (
        len(call.args) > position
        or any(isinstance(a, ast.Starred) for a in call.args))


def test_engine_options_have_a_production_caller():
    """Each defaulted parameter of a public function or method of the
    replication engine is passed, by keyword or by position, at some
    production call site (the calls are matched by name); a value no
    production caller sets is a constant, not an option."""
    calls = _production_calls()
    unpassed = sorted(
        qual for qual, called, param, position in _engine_options()
        if not any(_passes(c, param, position) for c in calls.get(called, ())))
    assert unpassed == []


# -- functions ----------------------------------------------------------------


def _framework_classes(tree: ast.Module) -> set[str]:
    """Names of the classes in ``tree`` that subclass a class imported
    from ``pyspark.sql.datasource``: Spark calls their methods."""
    bases = {a.asname or a.name for node in ast.walk(tree)
             if isinstance(node, ast.ImportFrom)
             and node.module == "pyspark.sql.datasource"
             for a in node.names}
    return {node.name for node in ast.walk(tree)
            if isinstance(node, ast.ClassDef)
            and any(getattr(b, "id", None) in bases for b in node.bases)}


def _code_names(node: ast.AST) -> list[str]:
    """The names ``node`` uses in code: each ``Name``, ``Attribute`` and
    imported name (comments, strings and docstrings do not count)."""
    names = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.append(n.id)
        elif isinstance(n, ast.Attribute):
            names.append(n.attr)
        elif isinstance(n, ast.alias):
            names.append(n.name.split(".")[-1])
    return names


def _is_lane(fn: ast.FunctionDef) -> bool:
    """A ``@register(...)`` lane: the bench runs it from the registry."""
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", None)
               == "register" for d in fn.decorator_list)


def test_every_package_function_has_a_production_reference():
    """Every function and method of the package is named in code, outside
    its own body, by a production file (the ENTRY_POINTS files and the
    package); dunders, ``@register`` lanes and the methods Spark calls on
    a data source count as called. A function that only tests name is
    moved into the tests that use it, or deleted."""
    used = Counter()
    defined = []  # (qualified name, def node)
    for path in _production_files():
        with open(path) as f:
            tree = ast.parse(f.read())
        used.update(_code_names(tree))
        if not os.path.relpath(path, ROOT).startswith(PKG + os.sep):
            continue
        called = _framework_classes(tree)
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                defined += [(f"{_dotted(path)}.{node.name}.{m.name}", m)
                            for m in node.body
                            if isinstance(m, ast.FunctionDef)
                            and node.name not in called]
            elif isinstance(node, ast.FunctionDef) and not _is_lane(node):
                defined.append((f"{_dotted(path)}.{node.name}", node))
    unreferenced = []
    for qual, fn in defined:
        if fn.name.startswith("__") and fn.name.endswith("__"):
            continue
        if used[fn.name] <= _code_names(fn).count(fn.name):
            unreferenced.append(qual)
    assert not unreferenced, \
        f"package functions no production code names: {sorted(unreferenced)}"
