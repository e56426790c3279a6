"""Every ``tests/<file>.py[::Name]`` citation in the program files
(the package and ``__spark_entry__.py``) names a test file that exists
and, when ``::Name`` is given, a class or function that file defines —
a comment that points at a missing test is a claim nothing checks."""

import ast
import re
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_CITE = re.compile(r"tests/(\w+\.py)(?:::(\w+))?")


def _program_files():
    yield ROOT / "__spark_entry__.py"
    yield from sorted((ROOT / "hive2es_offline_spark").rglob("*.py"))


def _citations():
    for path in _program_files():
        lines = path.read_text(encoding="utf-8").splitlines()
        for lineno, line in enumerate(lines, 1):
            for m in _CITE.finditer(line):
                yield f"{path.relative_to(ROOT)}:{lineno}", m.group(1), m.group(2)


@lru_cache(maxsize=None)
def _defined_names(test_file: str) -> frozenset:
    tree = ast.parse((ROOT / "tests" / test_file).read_text(encoding="utf-8"))
    return frozenset(
        node.name for node in ast.walk(tree)
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)))


def test_scanner_finds_citations():
    # guards the regex: a scan that matches nothing would pass vacuously
    assert len(list(_citations())) > 10


def test_citations_name_existing_tests():
    bad = []
    for where, test_file, name in _citations():
        if not (ROOT / "tests" / test_file).is_file():
            bad.append(f"{where}: tests/{test_file} does not exist")
        elif name and name not in _defined_names(test_file):
            bad.append(f"{where}: tests/{test_file} defines no {name}")
    assert not bad, "\n".join(bad)
