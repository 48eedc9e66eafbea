"""Guard: no test may read outside the repo (ROADMAP aim 3).  The upstream
reference checkout is not part of the repo, so a test that names a path into
it passes only on a machine that happens to have that checkout; its data
belongs in tests/fixtures instead."""
import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent
# an absolute path into a `reference` checkout: /<dir>/reference/...
REFERENCE_PATH = re.compile(r"(?<![\w.])/\w+/reference/")


def test_no_test_references_the_reference_checkout():
    hits = [
        f"{p.relative_to(TESTS)}:{n}"
        for p in sorted(TESTS.rglob("*"))
        if p.is_file() and "__pycache__" not in p.parts
        for n, line in enumerate(p.read_text(errors="replace").splitlines(), 1)
        if REFERENCE_PATH.search(line)
    ]
    assert hits == []
