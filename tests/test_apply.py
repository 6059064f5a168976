"""CDC apply: incremental LakeTable merges == one-shot replay ==
DuckDB oracle; deletes applied; idempotent re-apply; no-op cycles.

This is the north-rule correctness gate: per-turn text equality under
stable turn ordering after full replay (BASELINE.json input_hint).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from spark_cdc.cdc.apply import apply_batch, replay_changes_df
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.lake.table import LakeTable
from spark_cdc.sources.changelog import generate_change_log

ORACLE_SQL = """
SELECT conv_id, turn_idx, role, text, tool, ts
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY ts DESC, op_seq DESC, lsn DESC) AS rn
  FROM log)
WHERE rn = 1 AND op <> 'd'
ORDER BY conv_id, turn_idx
"""


def _oracle_state(log_df):
    con = duckdb.connect()
    con.register("log", log_df.toPandas())
    return con.execute(ORACLE_SQL).fetch_df()


def _table_state_rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in df.collect()
    )


def _oracle_rows(pdf):
    out = []
    for r in pdf.itertuples(index=False):
        role = None if isinstance(r.role, float) else r.role
        text = None if isinstance(r.text, float) else r.text
        tool = None if isinstance(r.tool, float) else r.tool
        out.append((r.conv_id, int(r.turn_idx), role, text, tool))
    return sorted(out)


def test_incremental_merge_equals_replay_equals_oracle(spark, tmp_table_path):
    log = generate_change_log(spark, n_events=4000, n_convs=60, seed=5)
    table = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=8
    )
    # replay in 4 ordered micro-batches (split on lsn like offset ranges)
    bounds = [0, 1000, 2000, 3000, 4001]
    for i in range(4):
        batch = log.where(
            (F.col("lsn") >= bounds[i]) & (F.col("lsn") < bounds[i + 1])
        )
        res = apply_batch(table, batch, batch_id=i)
        assert not res.skipped

    final = table.read()
    replay = replay_changes_df(log, KEY_COLUMNS)
    assert _table_state_rows(final) == _table_state_rows(
        replay.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    # per-turn text equality vs the oracle (north-rule invariant)
    assert _table_state_rows(final) == _oracle_rows(_oracle_state(log))


def test_fast_path_no_stats_equals_default(spark, tmp_path):
    """collect_stats=False (bulk-replay single-job path) must produce
    the same final state as the default stats path."""
    log = generate_change_log(spark, n_events=1200, n_convs=30, seed=17)
    t1 = LakeTable.create(
        spark, str(tmp_path / "a"), PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4
    )
    t2 = LakeTable.create(
        spark, str(tmp_path / "b"), PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4
    )
    for i, (lo, hi) in enumerate([(0, 600), (600, 1201)]):
        batch = log.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        apply_batch(t1, batch, batch_id=i)
        apply_batch(t2, batch, batch_id=i, collect_lineage=False, collect_stats=False)
    assert _table_state_rows(t1.read()) == _table_state_rows(t2.read())


def test_merge_is_idempotent_reapply(spark, tmp_table_path):
    log = generate_change_log(spark, n_events=1000, n_convs=20, seed=9)
    table = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4
    )
    apply_batch(table, log, batch_id=0)
    state1 = _table_state_rows(table.read())
    # simulated crash after commit, before checkpoint: same batch_id
    # arrives again → skipped entirely
    res = apply_batch(table, log, batch_id=0)
    assert res.skipped
    # and even a forced re-merge (no batch id) converges to same state
    apply_batch(table, log)
    assert _table_state_rows(table.read()) == state1


def test_out_of_order_old_batch_never_regresses(spark, tmp_table_path):
    log = generate_change_log(spark, n_events=2000, n_convs=30, seed=13)
    table = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4
    )
    new_half = log.where(F.col("lsn") >= 1000)
    old_half = log.where(F.col("lsn") < 1000)
    apply_batch(table, new_half)
    state_after_new = _table_state_rows(table.read())
    apply_batch(table, old_half)  # late redelivery of older events
    final = _table_state_rows(table.read())
    # keys only touched by old events appear; keys in both keep new values
    oracle = _oracle_rows(_oracle_state(log))
    assert final == oracle
    # every row that existed after the new batch is unchanged or still newer
    keys_new = {(r[0], r[1]): r for r in state_after_new}
    for r in final:
        if (r[0], r[1]) in keys_new:
            assert keys_new[(r[0], r[1])] == r


def test_deletes_and_noop_cycle(spark, tmp_table_path):
    import datetime

    table = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=2
    )
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 1, "c", "a", 0, "user", "hi", None, t0),
        (2, 2, "c", "a", 1, "assistant", "yo", None, t0),
        (3, 3, "d", "a", 0, None, None, None, datetime.datetime(2024, 1, 2)),
    ]
    schema = "lsn long, op_seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    apply_batch(table, spark.createDataFrame(rows, schema), batch_id=0)
    got = _table_state_rows(table.read())
    assert got == [("a", 1, "assistant", "yo", None)]
    # delete-then-reinsert
    rows2 = [(4, 4, "c", "a", 0, "user", "hi again", None, datetime.datetime(2024, 1, 3))]
    apply_batch(table, spark.createDataFrame(rows2, schema), batch_id=1)
    assert ("a", 0, "user", "hi again", None) in _table_state_rows(table.read())
    # no-op cycle: empty batch applies zero rows, state unchanged
    # (mirrors reference tests/test_integration.py:95-106)
    before = table.snapshot_id
    res = apply_batch(table, spark.createDataFrame([], schema), batch_id=2)
    assert res.batch_rows == 0
    assert _table_state_rows(table.read())[0][0] == "a"
    assert table.properties["last_batch_id"]["default"] == 2
    assert table.snapshot_id >= before


# the batch stats pre-pass merge_changes once ran as its own job: per
# input partition, the rows and keys it contributes and their lsn range,
# each key counted in the first input partition that carries it
LINEAGE_ORACLE_SQL = """
SELECT __pid AS _pid, sum(__n) AS `rows`, count(1) AS `keys`,
       min(__lo) AS min_lsn, max(__hi) AS max_lsn
FROM (
  SELECT min(__pid) AS __pid, count(1) AS __n, min(lsn) AS __lo, max(lsn) AS __hi
  FROM (SELECT conv_id, turn_idx, {pid} AS __pid, lsn FROM {{src}})
  GROUP BY conv_id, turn_idx
)
GROUP BY __pid
"""


def test_lineage_metrics_recorded(spark, tmp_path):
    """Batch stats and per-input-partition lineage equal the stats
    pre-pass, in both modes, with lineage on and off, over 7 input
    partitions that split the versions and redeliveries of keys."""
    log = generate_change_log(spark, n_events=500, n_convs=10, seed=3)
    batch = log.repartition(5, "lsn").union(log.where("lsn % 7 = 0").repartition(2, "lsn"))
    assert batch.rdd.getNumPartitions() == 7
    spanning = (
        batch.withColumn("_p", F.spark_partition_id())
        .groupBy(*KEY_COLUMNS)
        .agg(F.countDistinct("_p").alias("n"))
        .where("n > 1")
    )
    assert spanning.count() > 0
    for mode in ("cow", "mor"):
        for lineage in (True, False):
            want = [
                r.asDict()
                for r in spark.sql(
                    LINEAGE_ORACLE_SQL.format(pid="spark_partition_id()" if lineage else "0"),
                    src=batch,
                ).collect()
            ]
            table = LakeTable.create(
                spark, str(tmp_path / f"{mode}{lineage}"), PAYLOAD_SCHEMA,
                key_columns=KEY_COLUMNS, num_buckets=4,
            )
            res = apply_batch(table, batch, batch_id=0, mode=mode, collect_lineage=lineage)
            got = sorted(res.partition_lineage, key=lambda p: p["_pid"])
            assert got == (sorted(want, key=lambda p: p["_pid"]) if lineage else []), (mode, lineage)
            if lineage:
                assert len(got) >= 5, got
            assert res.batch_rows == sum(r["rows"] for r in want) > 500  # redeliveries
            assert res.batch_keys == sum(r["keys"] for r in want)
            assert res.min_lsn == min(r["min_lsn"] for r in want) == 0
            assert res.max_lsn == max(r["max_lsn"] for r in want) == 499
            assert res.rows_written > 0 and res.files_written > 0
            summ = table.manifest["summary"]
            assert summ["operation"] == ("merge" if mode == "cow" else "merge_mor")
            assert summ["batch_id"] == 0 and summ["batch_rows"] == res.batch_rows
            assert summ["min_lsn"] == 0 and summ["max_lsn"] == 499
            assert sorted(summ["partition_lineage"], key=lambda p: p["_pid"]) == got


def test_zipf_changelog_replay_correct_under_skew(spark, tmp_table_path):
    """Zipf(α=1.1) change log: the hottest conversation carries ~10% of
    ALL events (a single merge group absorbing an outsized share), and
    a replay of it still resolves to the exact latest-version state —
    the map-side-combine claim exercised under real hot-key pressure."""
    from pyspark.sql import Window

    log = generate_change_log(
        spark, n_events=6000, n_convs=400, seed=21, zipf_alpha=1.1
    )
    counts = {r["conv_id"]: r["n"] for r in
              log.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    hot = counts.get("conv-0", 0)
    assert hot / total > 0.05, f"conv-0 share {hot/total:.3f} not hot"
    # deterministic across invocations
    again = generate_change_log(
        spark, n_events=6000, n_convs=400, seed=21, zipf_alpha=1.1
    )
    assert log.exceptAll(again).count() == 0

    table = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )
    for i, (lo, hi) in enumerate([(0, 3000), (3000, 6000)]):
        apply_batch(
            table, log.where((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
            batch_id=i, mode="mor", collect_lineage=False,
        )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.coalesce(F.col("ts"), F.lit("1900-01-01").cast("timestamp")).desc(),
        F.coalesce(F.col("op_seq"), F.lit(-1)).desc(), F.col("lsn").desc(),
    )
    want = (
        log.withColumn("_rn", F.row_number().over(w)).where("_rn = 1")
        .where(F.col("op") != "d")
    )
    got = table.read()
    want = want.select(*got.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_jdbc_incremental_options_pushdown_and_partitioning():
    """The JDBC extract layer (reference pipeline.py:17-51 analogue):
    watermark predicate pushed into the source subquery, horizon bounds
    the cycle and enables a partitioned parallel extract; odd
    identifiers fail loudly instead of being dialect-guessed."""
    import pytest as _pytest

    from spark_cdc.sources.jdbc import incremental_read_options

    opts = incremental_read_options("public.events", "lsn", 41, horizon=1000,
                                    num_partitions=4, fetchsize=500)
    assert opts["dbtable"] == (
        "(SELECT * FROM public.events WHERE lsn > 41 AND lsn <= 1041) src"
    )
    assert opts["partitionColumn"] == "lsn"
    assert opts["lowerBound"] == "42" and opts["upperBound"] == "1041"
    assert opts["numPartitions"] == "4" and opts["fetchsize"] == "500"
    # steady-state increment without a horizon: single partition, no
    # range options (nothing to split on)
    opts2 = incremental_read_options("events", "lsn", -1)
    assert "partitionColumn" not in opts2
    assert opts2["dbtable"] == "(SELECT * FROM events WHERE lsn > -1) src"
    with _pytest.raises(ValueError):
        incremental_read_options("events; DROP TABLE x", "lsn", 0)
    with _pytest.raises(ValueError):
        incremental_read_options("events", "lsn OR 1=1", 0)
