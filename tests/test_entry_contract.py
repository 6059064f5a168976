"""Mirror of the driver's correctness gate: run every ``queries()``
entry at sf0.001 and compare row-count + order-insensitive values
against its ``oracle_sql()`` DuckDB result."""

from __future__ import annotations

import datetime
import glob
import math
import os

import duckdb
import pytest

import __spark_entry__ as contract

SF_DIR = os.environ.get("CONTRACT_SF_DIR", "/root/testdata/sf0.001")


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def _duck(sql, sf_dir=SF_DIR):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _canon_rows(rows, idx):
    """Canonical rows in a fixed order (the sort never compares a null
    with a value)."""
    rows = (tuple(_canon(r[i]) for i in idx) for r in rows)
    return sorted(rows, key=lambda t: [(v is not None, v) for v in t])


def _assert_matches(name, df, ocols, orows):
    """Same column names, row count and order-insensitive values."""
    assert sorted(df.columns) == sorted(ocols), f"{name}: column names differ"
    key = sorted(df.columns)
    got = _canon_rows(df.collect(), key)
    want = _canon_rows(orows, [ocols.index(c) for c in key])
    assert len(got) == len(want), f"{name}: row count {len(got)} vs oracle {len(want)}"
    assert got == want, f"{name}: value mismatch; first diff: " + str(
        next(((g, w) for g, w in zip(got, want) if g != w), None)
    )


@pytest.mark.parametrize("name", sorted(contract.queries().keys()))
def test_query_contract(spark, name):
    fn = contract.queries()[name]
    df = fn(spark, SF_DIR)
    oracle = contract.oracle_sql().get(name)
    if oracle is None:
        assert len(df.collect()) >= 0  # no oracle: the entry only has to run
        return
    _assert_matches(name, df, *_duck(oracle))


def test_entry_smoke(spark):
    df = contract.entry(spark)
    assert df.count() > 0


# The KPI edge cases sf0.001 lacks, in the testdata column types: user
# 2 has views but no clicks, user 3 clicks but no views, user 4
# neither; view 8 and click 10 are redelivered (repeated event_id);
# days fall in two calendar months; BRAZIL has no customers, and
# customer 2 has no orders.
_KPI_EDGE_FIXTURE = """
CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR,
                     value DOUBLE, props VARCHAR);
INSERT INTO events VALUES
  (1, '2024-01-30 10:00:00', 1, 'view', 0, '{}'), (2, '2024-01-31 23:00:00', 1, 'view', 0, '{}'),
  (3, '2024-01-31 23:30:00', 1, 'click', 0, '{}'), (4, '2024-02-01 08:00:00', 1, 'view', 0, '{}'),
  (5, '2024-02-01 09:00:00', 1, 'click', 0, '{}'), (6, '2024-02-01 09:05:00', 1, 'purchase', 12.5, '{}'),
  (7, '2024-01-31 12:00:00', 2, 'view', 0, '{}'), (8, '2024-02-02 12:00:00', 2, 'view', 0, '{}'),
  (8, '2024-02-02 12:00:00', 2, 'view', 0, '{}'), (9, '2024-02-02 12:10:00', 2, 'purchase', 3, '{}'),
  (10, '2024-02-02 13:00:00', 3, 'click', 0, '{}'), (10, '2024-02-02 13:00:00', 3, 'click', 0, '{}'),
  (11, '2024-02-03 13:00:00', 3, 'click', 0, '{}'), (12, '2024-02-03 14:00:00', 4, 'purchase', 7, '{}');
CREATE TABLE nation (n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER);
INSERT INTO nation VALUES (0, 'ALGERIA', 0), (1, 'ARGENTINA', 1), (2, 'BRAZIL', 1);
CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, c_acctbal DOUBLE,
                       c_mktsegment VARCHAR);
INSERT INTO customer VALUES
  (1, 'c1', 0, 100.25, 'AUTOMOBILE'), (2, 'c2', 0, -5.5, 'BUILDING'), (3, 'c3', 1, 42, 'AUTOMOBILE');
CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR,
                     o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR);
INSERT INTO orders VALUES (1, 1, 'O', 100, '2024-01-05 00:00:00', '1-URGENT'),
  (2, 1, 'F', 50.5, '2024-02-06 00:00:00', '3-MEDIUM'), (3, 3, 'O', 7.25, '2024-02-07 00:00:00', '5-LOW');
"""


# The reference's own shape (kpi_views.sql:16-27): join both facts to
# the dimension, then rescue the row explosion with COUNT(DISTINCT).
_NAIVE_USER_CTR = """
SELECT u.user_id AS user_id,
       count(DISTINCT v.event_id) AS impressions,
       count(DISTINCT c.event_id) AS clicks,
       round(CASE WHEN count(DISTINCT v.event_id) = 0 THEN NULL
             ELSE count(DISTINCT c.event_id)::DOUBLE / count(DISTINCT v.event_id) END, 6) AS ctr
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN events v ON v.user_id = u.user_id AND v.event_type = 'view'
LEFT JOIN events c ON c.user_id = u.user_id AND c.event_type = 'click'
GROUP BY 1
"""


def test_kpi_entries_on_edge_cases(spark, tmp_path):
    """Each ``kpi_*`` entry equals its DuckDB oracle on the edge-case
    fixture, and the user CTR view equals the reference's naive
    join-then-COUNT(DISTINCT) form."""
    sf_dir = str(tmp_path)
    con = duckdb.connect()
    con.execute(_KPI_EDGE_FIXTURE)
    for name in ("events", "nation", "customer", "orders"):
        con.execute(f"COPY {name} TO '{os.path.join(sf_dir, name)}.parquet' (FORMAT parquet)")
    kpis = sorted(n for n in contract.queries() if n.startswith("kpi_"))
    assert len(kpis) == 4, kpis
    out = {}
    for name in kpis:
        df = contract.queries()[name](spark, sf_dir)
        _assert_matches(name, df, *_duck(contract.oracle_sql()[name], sf_dir))
        out[name] = df

    ctr = out["kpi_user_ctr_efficiency"]
    _assert_matches(
        "naive user ctr",
        ctr.select("user_id", "impressions", "clicks", "ctr"),
        *_duck(_NAIVE_USER_CTR, sf_dir),
    )
    by_user = {r["user_id"]: r for r in ctr.collect()}
    assert (by_user[1]["impressions"], by_user[1]["clicks"]) == (3, 2)
    # views, no clicks: NULLIF guard on cost per click
    assert (by_user[2]["impressions"], by_user[2]["clicks"]) == (2, 0)
    assert by_user[2]["spend"] == 3.0 and by_user[2]["cost_per_click"] is None
    # clicks, no views: the ctr division by zero is null
    assert (by_user[3]["impressions"], by_user[3]["clicks"]) == (0, 2)
    assert by_user[3]["ctr"] is None
    assert by_user[4]["impressions"] == 0 and by_user[4]["ctr"] is None

    daily = out["kpi_daily_performance"].collect()
    assert {r["event_date"].strftime("%Y-%m") for r in daily} == {"2024-01", "2024-02"}
    # per-day counts add up to the five distinct views, at both grains
    user_daily = out["kpi_user_daily_performance"].collect()
    assert sum(r["impressions"] for r in daily) == sum(r["impressions"] for r in user_daily) == 5

    nation = {r["nation"]: r for r in out["kpi_nation_performance"].collect()}
    assert (nation["BRAZIL"]["customer_count"], nation["BRAZIL"]["revenue"]) == (0, 0.0)
    assert (nation["ALGERIA"]["customer_count"], nation["ALGERIA"]["n_orders"]) == (2, 2)


def test_lake_entries_remove_their_tables_at_exit(tmp_path):
    """A lake-building entry keeps its table under the process's one
    ``spark_cdc_contract_*`` directory while the process lives, and the
    directory is gone once the process exits."""
    import subprocess
    import sys

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import glob, os, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from spark_cdc.session import get_spark\n"
        "from spark_cdc.plans import QUERIES\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=4)\n"
        f"assert QUERIES['cdc_point_lookup'](spark, {SF_DIR!r}).count() >= 0\n"
        f"assert glob.glob(os.path.join({str(tmp)!r}, 'spark_cdc_contract_*', 'lkp_*'))\n"
        "spark.stop()\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", code], env={**os.environ, "TMPDIR": str(tmp)},
        cwd=str(tmp_path), timeout=600, capture_output=True, text=True,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert not list(tmp.glob("spark_cdc_contract_*"))
