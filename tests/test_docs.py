"""Documentation claims that must match the code: every test COVERAGE.md
names in its "tested by" column exists, and every tool the docs name
exists."""

import ast
import fnmatch
import os
import re

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
# package modules that only tests import: the reference's Cassandra
# source, its OpenSearch target, the accumulator stats flush and the
# counter path, none of which the CLI runs
TEST_ONLY = ("counters", "sinks.opensearch_sink", "sinks.statsflush",
             "sources.cassandra")


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


def _reached_package_modules() -> set[str]:
    todo = []
    for entry in ENTRY_POINTS:
        path = os.path.join(ROOT, entry)
        if os.path.isdir(path):
            todo += [os.path.join(path, f) for f in os.listdir(path)
                     if f.endswith(".py") and not f.startswith("test_")]
        else:
            todo.append(path)
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
    in, or listed in TEST_ONLY. A listed module that gains a production
    importer leaves the list."""
    modules = set()
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        modules |= {_dotted(os.path.join(d, f)) for f in files
                    if f.endswith(".py")}
    reached = _reached_package_modules()
    assert sorted(modules - reached - set(TEST_ONLY)) == []
    assert sorted(set(TEST_ONLY) - (modules - reached)) == []
