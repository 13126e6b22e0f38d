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
