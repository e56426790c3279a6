"""Every ``tests/<file>.py[::Name]`` citation in the program files
(the package, ``__spark_entry__.py``, ``bench.py`` and ``tools/``)
names a test file that exists and, when ``::Name`` is given, a class or
function that file defines — a comment that points at a missing test
is a claim nothing checks.  Likewise every ``tools/<name>.py`` or bare
``probe_round<N>`` citation names a script that exists: a measured
number belongs in SCALE.md, not behind a pointer to a deleted probe.
And every code citation — ``plans/<mod>.py::<name>``,
``<pkg-dir>/<mod>.<name>`` or a double-backticked ````<mod>.<name>````
where ``<mod>`` is a package module — names a function, class or
assignment that module defines, so a deleted helper cannot stay cited."""

import ast
import re
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_CITE = re.compile(r"tests/(\w+\.py)(?:::(\w+))?")
_TOOL = re.compile(r"tools/(\w+\.py)|\b(probe_round\w+)")
PKG = ROOT / "hive2es_offline_spark"
#: ``<pkg-dir>/<mod>.py::<name>`` or ``<pkg-dir>/<mod>.<name>``, and a
#: double-backticked ``<mod>.<name>``.  A name is an identifier that is
#: neither ``py`` (a file name) nor ``_<digit>…`` (a search_as_you_type
#: field path such as ``text._2gram``); a dotted config key has more
#: than two parts, so the backticked form cannot match it
_NAME = r"(?!py\b|_\d)([A-Za-z_]\w*)"
_CODE_PATH = re.compile(r"\b(\w+)/(\w+)(?:\.py::|\.)" + _NAME)
_CODE_TICKS = re.compile(r"``(\w+)\." + _NAME + "``")


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


def _modules() -> dict:
    """Package module basename -> its files (a basename can repeat)."""
    out: dict = {}
    for path in PKG.rglob("*.py"):
        if path.stem != "__init__":
            out.setdefault(path.stem, []).append(path)
    return out


@lru_cache(maxsize=None)
def _module_names(path: Path) -> frozenset:
    """Functions, classes and assigned names anywhere in ``path``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for target in (node.targets if isinstance(node, ast.Assign)
                           else [node.target]):
                names.update(n.id for n in ast.walk(target)
                             if isinstance(n, ast.Name))
    return frozenset(names)


def _code_citations(matches):
    """(where, citation, candidate module files, name) of each code
    citation whose module part names a package module."""
    modules = _modules()
    for where, m in matches:
        if m.re is _CODE_PATH:
            pkg_dir, mod, name = m.groups()
            files = [f for f in modules.get(mod, [])
                     if f.parent == PKG / pkg_dir]
        else:
            mod, name = m.groups()
            files = modules.get(mod, [])
        if files:
            yield where, m.group(0), files, name


def _all_code_citations():
    return _code_citations([*_matches(_CODE_PATH), *_matches(_CODE_TICKS)])


def test_code_scanner_finds_citations():
    # guards the regexes: each form is found, config keys, file names
    # and subfield paths are not, and the scan is not vacuous
    line = ("plans/esql.py::_stage_where, operators/util.sql_let, "
            "``scoring.bm25_sum_sql``, ``spark.sql.shuffle.partitions``, "
            "``query_dsl.py``, ``text._2gram``, plans/analysis.py")
    found = [c for _, c, _, _ in _code_citations(
        [("line", m) for m in _CODE_PATH.finditer(line)]
        + [("line", m) for m in _CODE_TICKS.finditer(line)])]
    assert found == ["plans/esql.py::_stage_where", "operators/util.sql_let",
                     "``scoring.bm25_sum_sql``"]
    assert len(list(_all_code_citations())) > 50


def test_code_citations_name_existing_definitions():
    bad = [f"{where}: {cite} names nothing its module defines"
           for where, cite, files, name in _all_code_citations()
           if not any(name in _module_names(f) for f in files)]
    assert not bad, "\n".join(bad)
