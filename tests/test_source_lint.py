"""Source-level checks that need no Spark session.

- No ``assert`` statement in the package: ``python -O`` strips them, so a
  builder self-check written as an assert silently disappears there.
- README's environment table lists exactly the ``SPARK_GRAFT_*`` names the
  package and bench.py read, so a new knob cannot ship undocumented and a
  removed one cannot linger in the docs; and ``tools/`` names no other
  (a script setting a retired knob would silently do nothing).
- The streaming parity harness under ``plans/`` stays one copy: one
  availableNow runner, one staged-split writer, one loopback receiver and
  one delivered-envelope aggregator.
- Spark job measurement has one path, ``perfbench/trace.py``: no other
  file sets a job group, reads the Spark UI's REST API or subclasses
  ``StreamingQueryListener``. Per-query job facts come from ``bench.py``'s
  spans and event-log parse.
- ``operators/similarity.py`` states each exactness rule once: the exact
  ``np.add.accumulate`` re-score lives only in its helper, one top-k rank
  window, one candidate-margin literal, one decimal-exact mean aggregate.
- The dedup family's pair chains under ``plans/`` stay one copy each: the
  MinHash signature SQL, the Jaccard intersection join, the positional
  postings, the span island numbering, and the Spark near-dup filter at
  ``_NEAR_DUP_J``.
- The scripts outside the package (``tools/*.py``, ``bench.py``,
  ``__spark_entry__.py``) only reference package names that exist: no
  test runs them, so a rename would otherwise break them silently.
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


def test_tools_name_only_env_vars_read():
    read = _env_names_read()
    named = {
        f"{path.relative_to(ROOT)}: {name}"
        for path in sorted((ROOT / "tools").glob("*.py"))
        + sorted((ROOT / "tools").glob("*.sh"))
        for name in ENV_NAME.findall(path.read_text())
        if name not in read
    }
    assert not named, f"tools name env vars nothing reads: {sorted(named)}"


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


SIMILARITY = PACKAGE / "operators" / "similarity.py"
# the only functions that may run the exact left-to-right re-score fold
_RESCORE_HELPERS = {"_exact_dots"}


def _is_call_to(node, attr: str, *args) -> bool:
    """``<anything>.attr(*args, ...)`` with the given leading constants."""
    return (
        isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
        and [getattr(a, "value", None) for a in node.args[:len(args)]]
        == list(args)
    )


def _enclosing_functions(tree):
    """{id(node): name of the top-level function holding it}."""
    owner = {}
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            for node in ast.walk(top):
                owner[id(node)] = top.name
    return owner


def test_similarity_exactness_rules_have_one_copy():
    tree = ast.parse(SIMILARITY.read_text())
    owner = _enclosing_functions(tree)
    nodes = list(ast.walk(tree))
    accumulate = [
        f"{owner.get(id(n), '<module>')}:{n.lineno}" for n in nodes
        if isinstance(n, ast.Attribute) and n.attr == "accumulate"
        and isinstance(n.value, ast.Attribute) and n.value.attr == "add"
    ]
    topk_windows = [
        n.lineno for n in nodes
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "orderBy"
        and _is_call_to(n.func.value, "partitionBy", "query_id")
        and any(_is_call_to(a, "desc", "cos") for a in n.args)
    ]
    margins = [
        n.lineno for n in nodes
        if isinstance(n, ast.Constant) and n.value == 1e-6
    ]
    margin_assigns = [
        n.lineno for n in nodes
        if isinstance(n, ast.Assign) and isinstance(n.value, ast.Constant)
        and n.value.value == 1e-6
    ]
    means = [n.lineno for n in nodes if _is_call_to(n, "cast", "decimal(18,6)")]
    problems = []
    if not accumulate or any(a.split(":")[0] not in _RESCORE_HELPERS
                             for a in accumulate):
        problems.append(f"np.add.accumulate at {accumulate}")
    if len(topk_windows) != 1:
        problems.append(f"top-k rank windows at lines {topk_windows}")
    if len(margins) != 1 or margin_assigns != margins:
        problems.append(f"candidate margin 1e-6 at lines {margins}")
    if len(means) != 1:
        problems.append(f"decimal(18,6) mean aggregates at lines {means}")
    assert not problems, problems


# One marker per pair-chain fragment; f-string brace escapes are folded so
# a marker reads as the SQL it builds.
_PAIR_CHAIN_MARKERS = (
    "MIN(md5(CAST(band * 2 AS VARCHAR)",
    "eb.shingle = ea.shingle",
    "UNNEST([{'p': i",
    "pa - row_number() OVER",
    'F.col("jaccard") >= _NEAR_DUP_J',
)


def test_dedup_pair_chains_have_one_copy():
    sites: dict[str, list[str]] = {m: [] for m in _PAIR_CHAIN_MARKERS}
    for path in sorted((PACKAGE / "plans").rglob("*.py")):
        text = path.read_text().replace("{{", "{")
        for marker, found in sites.items():
            found += [str(path.relative_to(ROOT))] * text.count(marker)
    wrong = {m: found for m, found in sites.items() if len(found) != 1}
    assert not wrong, f"pair-chain fragments not written once: {wrong}"


PACKAGE_NAME = PACKAGE.name
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [
    ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _module_path(dotted: str) -> Path | None:
    """The source of a package module: ``x/y.py`` or ``x/y/__init__.py``."""
    base = ROOT.joinpath(*dotted.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _top_level_names(dotted: str) -> set[str]:
    """Names a module binds at top level (definitions, assignments,
    imports, also inside top-level if/try blocks), plus its submodules
    when it is a package."""
    path = _module_path(dotted)
    names: set[str] = set()

    def visit(body):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                names.update(n.id for t in targets for n in ast.walk(t)
                             if isinstance(n, ast.Name))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
            elif isinstance(node, (ast.If, ast.Try)):
                visit(node.body + node.orelse + getattr(node, "finalbody", []))
                for handler in getattr(node, "handlers", []):
                    visit(handler.body)

    visit(ast.parse(path.read_text()).body)
    if path.name == "__init__.py":
        names.update(p.stem for p in path.parent.glob("*.py"))
        names.update(p.parent.name for p in path.parent.glob("*/__init__.py"))
    return names


def _resolve(dotted: str, attrs: list[str]) -> str | None:
    """Walk ``attrs`` from module ``dotted``; the first name that does not
    exist, or None when the whole chain resolves (the walk stops at the
    first non-module name)."""
    for attr in attrs:
        if attr not in _top_level_names(dotted):
            return f"{dotted}.{attr}"
        if _module_path(f"{dotted}.{attr}") is None:
            return None
        dotted = f"{dotted}.{attr}"
    return None


def _attr_chain(node) -> tuple[str, list[str]] | None:
    """``Alias.a.b`` as ("Alias", ["a", "b"]) for the outermost Attribute."""
    attrs = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    return (node.id, attrs[::-1]) if isinstance(node, ast.Name) else None


def test_scripts_reference_only_existing_package_names():
    missing = []
    for path, tree in _trees(SCRIPTS):
        where = path.relative_to(ROOT)
        aliases: dict[str, str] = {}  # local name -> package module
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").split(
                    ".")[0] == PACKAGE_NAME:
                for a in node.names:
                    bad = _resolve(node.module, [a.name])
                    if bad:
                        missing.append(f"{where}:{node.lineno} {bad}")
                    elif _module_path(f"{node.module}.{a.name}"):
                        aliases[a.asname or a.name] = f"{node.module}.{a.name}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PACKAGE_NAME and a.asname:
                        aliases[a.asname] = a.name
        outer = {id(n.value) for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute) or id(node) in outer:
                continue
            chain = _attr_chain(node)
            if chain and chain[0] in aliases:
                bad = _resolve(aliases[chain[0]], chain[1])
                if bad:
                    missing.append(f"{where}:{node.lineno} {bad}")
    assert SCRIPTS and not missing, f"unresolved package names: {missing}"
