"""Guard: the engine defines its version order, its resolver and its
exactly-once protocol once.

Every latest-version pick in the lake and in the apply path, on reads
and writes alike, runs the one resolver ``latest_arrow``, which takes
its order fields from ``spark_cdc.lake.table.VERSION_ORDER``. The first
test fails when an Arrow sort (``sort_indices``, ``sort_by``) shows up
outside ``latest_arrow``, or a ``max_by`` or the old ``1900-01-01``
null-timestamp floor shows up anywhere, so a second spelling cannot
grow back; it also requires ``latest_arrow`` to take its order fields
from ``VERSION_ORDER`` rather than spell them. ``test_merge_property``
pins it to the reference dedup.

The second test holds the exactly-once protocol of derived tables to
one definition per half: the batch-id guard's ``"last_batch_id"``
property is spelled only in ``lake/table.py``, and a change-feed
consumer is polled only in ``lake/feed.py`` (the one poll → apply →
cursor-commit step). It scans all of ``spark_cdc/``.

``cdc/dedup.py`` is exempt from both: it is the independent reference
the engine is tested against. Docstrings and comments are not code and
are not scanned.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1] / "spark_cdc"
EXEMPT = {"cdc/dedup.py"}
SCANNED = sorted((ROOT / "lake").glob("*.py")) + [ROOT / "cdc" / "apply.py"]
# marker → the one (file, definition) allowed to hold it; None: nowhere
MARKERS = {
    "max_by": None,
    "1900-01-01": None,
    "sort_indices": ("lake/table.py", "latest_arrow"),
    "sort_by": ("lake/table.py", "latest_arrow"),
}
THE_DEFINITIONS = {("lake/table.py", "latest_arrow")}
ORDER_FIELDS = {"V_TS", "V_SEQ", "V_GEN"}


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def _code_nodes(path: pathlib.Path):
    """(top-level definition name, node) of each AST node of ``path``
    outside docstrings."""
    tree = ast.parse(path.read_text())
    skip = _docstrings(tree)
    for top in tree.body:
        for node in ast.walk(top):
            if id(node) not in skip:
                yield getattr(top, "name", None), node


def _marker_sites(path: pathlib.Path):
    """(marker, top-level definition name, line) of each code marker in
    ``path``."""
    for top, node in _code_nodes(path):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = node.value
        elif isinstance(node, ast.Attribute):
            text = node.attr
        elif isinstance(node, ast.Name):
            text = node.id
        else:
            continue
        for m in MARKERS:
            if m in text:
                yield m, top, node.lineno


def test_version_order_is_defined_once():
    sites: dict[tuple[str, str, str | None], list[int]] = {}
    for path in SCANNED:
        rel = path.relative_to(ROOT).as_posix()
        for marker, owner, line in _marker_sites(path):
            sites.setdefault((marker, rel, owner), []).append(line)
    stray = {k: v for k, v in sites.items() if MARKERS[k[0]] != k[1:]}
    assert not stray, stray
    assert {k[1:] for k in sites} == THE_DEFINITIONS, sites
    # the resolver reads its order from VERSION_ORDER, not spelled out
    for rel, owner in THE_DEFINITIONS:
        names = {
            node.id for top, node in _code_nodes(ROOT / rel)
            if top == owner and isinstance(node, ast.Name)
        }
        assert "VERSION_ORDER" in names and not names & ORDER_FIELDS, (owner, names)


def test_exactly_once_protocol_is_defined_once():
    found = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        if rel in EXEMPT:
            continue
        for _, node in _code_nodes(path):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "last_batch_id" in node.value
                and rel != "lake/table.py"
            ):
                found.add(("last_batch_id", rel, node.lineno))
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "poll"
                and rel != "lake/feed.py"
            ):
                found.add(("poll", rel, node.lineno))
    assert not found, sorted(found)
