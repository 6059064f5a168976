"""Guard: the engine defines its version order, its resolver and its
exactly-once protocol once.

Every latest-version pick in the lake (MoR read, feed diff, compaction,
merge) and in the apply path goes through
``spark_cdc.lake.table.latest_sql``. The first test fails when a
``max_by`` or the old ``1900-01-01`` null-timestamp floor shows up
anywhere else in that code, so the copies cannot grow back.

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
MARKERS = ("max_by", "1900-01-01")
THE_DEFINITION = {("lake/table.py", "latest_sql")}


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
    """(top-level definition name, line) of each code marker in ``path``."""
    for top, node in _code_nodes(path):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = node.value
        elif isinstance(node, ast.Attribute):
            text = node.attr
        elif isinstance(node, ast.Name):
            text = node.id
        else:
            continue
        if any(m in text for m in MARKERS):
            yield top, node.lineno


def test_version_order_is_defined_once():
    sites: dict[tuple[str, str | None], list[int]] = {}
    for path in SCANNED:
        rel = path.relative_to(ROOT).as_posix()
        for owner, line in _marker_sites(path):
            sites.setdefault((rel, owner), []).append(line)
    assert set(sites) == THE_DEFINITION, sites


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
