"""Shared pytest fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

# The checkout this conftest belongs to, so pytest in any copy of the
# repo imports that copy's own spark_cdc.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from spark_cdc.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="spark_cdc_tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_table_path(tmp_path):
    return str(tmp_path / "table")


def assert_df_equal(df1, df2, sort_cols):
    """Order-insensitive DataFrame equality on collected rows."""
    a = sorted([tuple(r) for r in df1.select(*sorted(df1.columns)).collect()])
    b = sorted([tuple(r) for r in df2.select(*sorted(df2.columns)).collect()])
    assert a == b, f"mismatch: {len(a)} vs {len(b)} rows\nfirst-left={a[:3]}\nfirst-right={b[:3]}"
