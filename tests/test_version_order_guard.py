"""Guard: the engine defines its version order and resolver once.

Every latest-version pick in the lake (MoR read, feed diff, compaction,
merge) and in the apply path goes through
``spark_cdc.lake.table.latest_sql``. This test fails when a ``max_by``
or the old ``1900-01-01`` null-timestamp floor shows up anywhere else
in that code, so the copies cannot grow back. ``cdc/dedup.py`` is
exempt: it is the independent reference the engine is tested against.
Docstrings and comments are not code and are not scanned.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1] / "spark_cdc"
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


def _marker_sites(path: pathlib.Path):
    """(top-level definition name, line) of each code marker in ``path``."""
    tree = ast.parse(path.read_text())
    skip = _docstrings(tree)
    for top in tree.body:
        for node in ast.walk(top):
            if id(node) in skip:
                continue
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = node.value
            elif isinstance(node, ast.Attribute):
                text = node.attr
            elif isinstance(node, ast.Name):
                text = node.id
            else:
                continue
            if any(m in text for m in MARKERS):
                yield getattr(top, "name", None), node.lineno


def test_version_order_is_defined_once():
    sites: dict[tuple[str, str | None], list[int]] = {}
    for path in SCANNED:
        rel = path.relative_to(ROOT).as_posix()
        for owner, line in _marker_sites(path):
            sites.setdefault((rel, owner), []).append(line)
    assert set(sites) == THE_DEFINITION, sites
