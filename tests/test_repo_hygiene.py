"""Repo hygiene guards (ROADMAP aims 2 and 3).

* No test may read outside the repo.  The upstream reference checkout is not
  part of the repo, so a test that names a path into it passes only on a
  machine that happens to have that checkout; its data belongs in
  tests/fixtures instead.
* No dead code: every top-level function and class of the program files is
  referred to by name from some ``.py`` file of the repo (tests and
  perfbench count).
* No idle parameter: every defaulted parameter of a public function of the
  package (outside the reference-mirrored ``stl/`` builder API and the
  ``codec/``) is set by some call in the repo, else it is a constant.
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


# deployment settings no call in the repo sets: (function, parameter)
UNSET_BY_DESIGN = {("build_session", "warehouse")}


def test_every_defaulted_parameter_is_set():
    """A defaulted parameter nothing sets is one value in use: make it a
    constant.  A call sets a parameter by keyword or by a positional
    argument at its index (none after a ``*`` splat); a ``**`` splat sets
    every parameter.  Calls match by the called name (``f(...)`` or
    ``x.f(...)``)."""
    pkg = REPO / "stl_decomp_4j_spark"
    params = {}  # (function, parameter) -> (file, line, positional index or None)
    for path in _py_files("stl_decomp_4j_spark"):
        if path.relative_to(pkg).parts[0] in ("stl", "codec"):
            continue
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            args = node.args
            pos = args.posonlyargs + args.args
            first = len(pos) - len(args.defaults)
            where = (str(path.relative_to(REPO)), node.lineno)
            for i, a in enumerate(pos[first:], first):
                params[node.name, a.arg] = (*where, i)
            for a, d in zip(args.kwonlyargs, args.kw_defaults):
                if d is not None:
                    params[node.name, a.arg] = (*where, None)
    set_by_kw, n_positional, splat = set(), {}, set()
    for path in _py_files("."):
        if any(part.startswith(".") for part in path.relative_to(REPO).parts):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            for kw in node.keywords:
                if kw.arg is None:
                    splat.add(name)
                set_by_kw.add((name, kw.arg))
            n = next((i for i, a in enumerate(node.args) if isinstance(a, ast.Starred)), len(node.args))
            n_positional[name] = max(n_positional.get(name, 0), n)
    unset = [
        f"{file}:{line} {fn}({p})"
        for (fn, p), (file, line, i) in sorted(params.items(), key=lambda kv: kv[1][:2])
        if (fn, p) not in UNSET_BY_DESIGN
        and fn not in splat
        and (fn, p) not in set_by_kw
        and (i is None or n_positional.get(fn, 0) <= i)
    ]
    assert not unset, "\n".join(unset)


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
