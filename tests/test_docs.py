"""Documentation claims that must match the code: every test COVERAGE.md
names in its "tested by" column exists."""

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
