"""Repo hygiene guards (ROADMAP aims 2 and 3).

* No test may read outside the repo.  The upstream reference checkout is not
  part of the repo, so a test that names a path into it passes only on a
  machine that happens to have that checkout; its data belongs in
  tests/fixtures instead.
* No dead code: every top-level function and class of the program files is
  referred to by name from some ``.py`` file of the repo (tests and
  perfbench count).
* One per-key Python loop per kind of stage: the program's batch
  per-series stages run on ``operators/runs.map_runs``, so no grouped-map
  ``applyInPandas`` comes back, and its stateful streams run on
  ``streaming/keyed.carry_by_key``, the only ``applyInPandasWithState``."""
import ast
import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent
REPO = TESTS.parent
# an absolute path into a `reference` checkout: /<dir>/reference/...
REFERENCE_PATH = re.compile(r"(?<![\w.])/\w+/reference/")
PROGRAM = ["stl_decomp_4j_spark", "jobs", "tools", "__spark_entry__.py", "bench.py"]


def test_no_test_references_the_reference_checkout():
    hits = [
        f"{p.relative_to(TESTS)}:{n}"
        for p in sorted(TESTS.rglob("*"))
        if p.is_file() and "__pycache__" not in p.parts
        for n, line in enumerate(p.read_text(errors="replace").splitlines(), 1)
        if REFERENCE_PATH.search(line)
    ]
    assert hits == []


def _py_files(*roots):
    for root in roots:
        path = REPO / root
        yield from [path] if path.is_file() else sorted(path.rglob("*.py"))


def test_every_top_level_definition_is_referenced():
    """A def or class nothing names is dead: delete it rather than keep a
    second path alive.  References are AST ``Name``/``Attribute`` nodes and
    import aliases, so a mention in a comment or string does not count;
    ``main`` (the script entry point) is exempt."""
    used = set()
    for path in _py_files("."):
        if any(part.startswith(".") for part in path.relative_to(REPO).parts):
            continue  # .git, run state
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    dead = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.name}"
        for path in _py_files(*PROGRAM)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name != "main"
        and node.name not in used
    ]
    assert not dead, "\n".join(dead)


def test_no_grouped_map_apply_in_pandas():
    keyed = REPO / "stl_decomp_4j_spark" / "streaming" / "keyed.py"
    calls = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.func.attr}"
        for path in _py_files("__spark_entry__.py", "stl_decomp_4j_spark")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and (
            node.func.attr == "applyInPandas"
            or (node.func.attr == "applyInPandasWithState" and path != keyed)
        )
    ]
    assert calls == [], (
        "per-key Python stages go through operators/runs.map_runs (batch) "
        "or streaming/keyed.carry_by_key (stateful streams)"
    )
