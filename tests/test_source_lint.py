"""Source-level checks that need no Spark session.

- No ``assert`` statement in the package: ``python -O`` strips them, so a
  builder self-check written as an assert silently disappears there.
- README's environment table lists exactly the ``SPARK_GRAFT_*`` names the
  package and bench.py read, so a new knob cannot ship undocumented and a
  removed one cannot linger in the docs.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sqldataintegrationfunctiontriggerapp_spark"
ENV_NAME = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _trees(paths):
    for path in paths:
        yield path, ast.parse(path.read_text(), filename=str(path))


def test_package_has_no_assert_statements():
    found = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path, tree in _trees(sorted(PACKAGE.rglob("*.py")))
        for node in ast.walk(tree)
        if isinstance(node, ast.Assert)
    ]
    assert not found, f"assert statements (stripped under -O): {found}"


def _env_names_read() -> set[str]:
    """String literals that are exactly a SPARK_GRAFT_* name: the keys
    passed to os.environ / os.environ.get (docstrings and comments that
    merely mention a name are not literals of the name alone)."""
    paths = sorted(PACKAGE.rglob("*.py")) + [ROOT / "bench.py"]
    return {
        node.value
        for _path, tree in _trees(paths)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and ENV_NAME.fullmatch(node.value)
    }


def _readme_env_rows() -> set[str]:
    rows = re.findall(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)` \|",
                      (ROOT / "README.md").read_text(), re.MULTILINE)
    assert len(rows) == len(set(rows)), "duplicate README env rows"
    return set(rows)


def test_readme_env_table_matches_env_vars_read():
    read, documented = _env_names_read(), _readme_env_rows()
    assert read, "found no SPARK_GRAFT_* reads at all"
    assert not read - documented, f"read but not in README: {read - documented}"
    assert not documented - read, f"in README but never read: {documented - read}"
