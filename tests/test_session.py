"""Which checkout the tests import, and the package zip that
``get_spark`` ships to Python workers."""

from __future__ import annotations

import os
import tempfile
import zipfile

import spark_cdc
from spark_cdc.session import _package_zip
from tests.conftest import REPO_ROOT


def test_tests_import_this_checkouts_package():
    pkg = os.path.abspath(spark_cdc.__file__)
    assert os.path.commonpath([pkg, REPO_ROOT]) == REPO_ROOT, pkg


def _tree(root, table_src: str) -> str:
    (root / "spark_cdc" / "lake").mkdir(parents=True)
    (root / "spark_cdc" / "__init__.py").write_text("")
    (root / "spark_cdc" / "lake" / "table.py").write_text(table_src)
    return str(root / "spark_cdc")


def _table_src(zip_path: str) -> str:
    with zipfile.ZipFile(zip_path) as z:
        assert sorted(z.namelist()) == ["spark_cdc/__init__.py", "spark_cdc/lake/table.py"]
        return z.read("spark_cdc/lake/table.py").decode()


def test_package_zip_is_keyed_on_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a = _tree(tmp_path / "a", "X = 1\n")
    za, zb = _package_zip(a), _package_zip(_tree(tmp_path / "b", "X = 2\n"))
    assert za != zb and (_table_src(za), _table_src(zb)) == ("X = 1\n", "X = 2\n")
    assert _package_zip(_tree(tmp_path / "c", "X = 1\n")) == za

    # an edit whose mtime is older than the zip still gets its own zip
    table = os.path.join(a, "lake", "table.py")
    with open(table, "w") as f:
        f.write("X = 3\n")
    os.utime(table, (os.path.getmtime(za) - 3600,) * 2)
    za2 = _package_zip(a)
    assert za2 not in (za, zb) and _table_src(za2) == "X = 3\n"
    leftover = [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]
    assert not leftover and len({za, zb, za2}) == 3
