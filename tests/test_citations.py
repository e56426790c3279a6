"""Every ``tests/<file>.py[::Name]`` citation in the program files
(the package, ``__spark_entry__.py``, ``bench.py`` and ``tools/``)
names a test file that exists and, when ``::Name`` is given, a class or
function that file defines — a comment that points at a missing test
is a claim nothing checks.  Likewise every ``tools/<name>.py`` or bare
``probe_round<N>`` citation names a script that exists: a measured
number belongs in SCALE.md, not behind a pointer to a deleted probe."""

import ast
import re
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_CITE = re.compile(r"tests/(\w+\.py)(?:::(\w+))?")
_TOOL = re.compile(r"tools/(\w+\.py)|\b(probe_round\w+)")


def _program_files():
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "hive2es_offline_spark").rglob("*.py"))
    yield from sorted((ROOT / "tools").glob("*.py"))


def _matches(pattern):
    for path in _program_files():
        lines = path.read_text(encoding="utf-8").splitlines()
        for lineno, line in enumerate(lines, 1):
            for m in pattern.finditer(line):
                yield f"{path.relative_to(ROOT)}:{lineno}", m


def _citations():
    for where, m in _matches(_CITE):
        yield where, m.group(1), m.group(2)


def _tool_citations(matches):
    """(where, script file name) of each tools/ or probe_round citation."""
    for where, m in matches:
        yield where, m.group(1) or f"{m.group(2)}.py"


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


def test_tool_scanner_finds_citations():
    # guards the regex: both citation forms are found, and the scan
    # reaches the tools directory (gen_coverage_lists.py cites itself)
    line = "measured 14x (tools/probe_round11.py); ×2, probe_round13b"
    found = [f for _, f in _tool_citations(
        ("line", m) for m in _TOOL.finditer(line))]
    assert found == ["probe_round11.py", "probe_round13b.py"]
    assert any(f == "gen_coverage_lists.py"
               for _, f in _tool_citations(_matches(_TOOL)))


def test_tool_citations_name_existing_scripts():
    bad = [f"{where}: tools/{name} does not exist"
           for where, name in _tool_citations(_matches(_TOOL))
           if not (ROOT / "tools" / name).is_file()]
    assert not bad, "\n".join(bad)
