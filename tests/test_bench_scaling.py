"""``bench_scaling.py`` (the N→4N executor scaling run) stands alone:
its steal sampler works, and it imports no other bench script."""

from __future__ import annotations

import ast
import os
import time

import bench_scaling
from tests.conftest import REPO_ROOT


def test_steal_window_ratio_is_a_fraction():
    with bench_scaling.StealWindow() as sw:
        end = time.monotonic() + 0.3
        while time.monotonic() < end:
            pass
    assert 0.0 <= sw.steal_ratio <= 1.0


def test_imports_no_bench_module():
    with open(os.path.join(REPO_ROOT, "bench_scaling.py")) as f:
        nodes = list(ast.walk(ast.parse(f.read())))
    imported = {a.name for n in nodes if isinstance(n, ast.Import) for a in n.names}
    imported |= {n.module for n in nodes if isinstance(n, ast.ImportFrom) and n.module}
    assert not {m.split(".")[0] for m in imported} & {"bench", "bench_extra"}, imported
