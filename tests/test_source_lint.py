"""Source-level checks that need no Spark session.

- No ``assert`` statement in the package: ``python -O`` strips them, so a
  builder self-check written as an assert silently disappears there.
- README's environment table lists exactly the ``SPARK_GRAFT_*`` names the
  package and bench.py read, so a new knob cannot ship undocumented and a
  removed one cannot linger in the docs.
- The streaming parity harness under ``plans/`` stays one copy: one
  availableNow runner, one staged-split writer, one loopback receiver and
  one delivered-envelope aggregator.
- Spark job measurement has one path, ``perfbench/trace.py``: no other
  file sets a job group, reads the Spark UI's REST API or subclasses
  ``StreamingQueryListener``. Per-query job facts come from ``bench.py``'s
  spans and event-log parse.
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


def _subclasses(node, base: str) -> bool:
    return isinstance(node, ast.ClassDef) and any(
        (b.attr if isinstance(b, ast.Attribute) else getattr(b, "id", None))
        == base
        for b in node.bases
    )


def _replay_harness_sites(node) -> str | None:
    """Which one-copy streaming-harness mechanism `node` is, if any."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "trigger" and any(
            k.arg == "availableNow" for k in node.keywords
        ):
            return "trigger(availableNow=True)"
        if node.func.attr == "utime":
            return "os.utime"
    if _subclasses(node, "BaseHTTPRequestHandler"):
        return "BaseHTTPRequestHandler subclass"
    if (isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant)
            and node.slice.value == "item"):
        return 'envelope ["item"] read'
    return None


def test_streaming_replay_harness_has_one_copy():
    sites: dict[str, list[str]] = {}
    for path, tree in _trees(sorted((PACKAGE / "plans").rglob("*.py"))):
        for node in ast.walk(tree):
            kind = _replay_harness_sites(node)
            if kind:
                sites.setdefault(kind, []).append(
                    f"{path.relative_to(ROOT)}:{node.lineno}")
    expected = {"trigger(availableNow=True)", "os.utime",
                "BaseHTTPRequestHandler subclass", 'envelope ["item"] read'}
    assert set(sites) == expected, f"mechanisms found: {sorted(sites)}"
    copies = {k: v for k, v in sites.items() if len(v) > 1}
    assert not copies, f"copied streaming-harness mechanisms: {copies}"


_UI_REST_PATH = "/api/v1/applications"


def _measurement_sites(node) -> str | None:
    """Which second-measurement-path mechanism `node` is, if any."""
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "setJobGroup"):
        return "setJobGroup call"
    if isinstance(node, ast.Attribute) and node.attr == "uiWebUrl":
        return "uiWebUrl"
    if (isinstance(node, ast.Constant) and isinstance(node.value, str)
            and _UI_REST_PATH in node.value):
        return _UI_REST_PATH
    if _subclasses(node, "StreamingQueryListener"):
        return "StreamingQueryListener subclass"
    return None


def test_spark_jobs_are_measured_only_through_perfbench_trace():
    paths = [
        p for p in sorted(ROOT.rglob("*.py"))
        if p != Path(__file__).resolve()
        and not any(part.startswith(".") or part == "perfbench"
                    for part in p.relative_to(ROOT).parts)
    ]
    found = [
        f"{path.relative_to(ROOT)}:{node.lineno} {kind}"
        for path, tree in _trees(paths)
        for node in ast.walk(tree)
        if (kind := _measurement_sites(node))
    ]
    assert not found, f"measurement outside perfbench/trace.py: {found}"
