"""Every top-level function of the package must have a caller.

A def that nothing references is dead weight: it is read, kept in
sync and reviewed, yet no query, test, script or benchmark runs it.
This scan (stdlib ``ast`` only, no Spark) walks the package, the
tests, the scripts, the benchmark harness, ``bench.py`` and
``__spark_entry__.py``, and counts as a reference any Name, any
Attribute and any string constant that is exactly an identifier
(names looked up through ``getattr`` or a registry key).  Imports do
not count: importing a name nobody calls is not a use."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "db_mapreduce_project_spark"
TREES = [PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench"]
FILES = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _sources():
    for tree in TREES:
        yield from sorted(tree.rglob("*.py"))
    yield from (f for f in FILES if f.exists())


def _referenced_names() -> set[str]:
    seen: set[str] = set()
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                seen.add(node.id)
            elif isinstance(node, ast.Attribute):
                seen.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(
                node.value, str
            ) and node.value.isidentifier():
                seen.add(node.value)
    return seen


def _top_level_defs():
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not (
                    node.name.startswith("__") and node.name.endswith("__")
                ):
                    yield path.relative_to(ROOT), node.name


def test_every_package_def_is_referenced():
    seen = _referenced_names()
    dead = [
        f"{path}:{name}"
        for path, name in _top_level_defs()
        if name not in seen
    ]
    assert not dead, "defs with no reference outside imports:\n" + "\n".join(
        dead
    )
