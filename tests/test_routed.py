"""Multi-table router: per-table quarantine lineage, unknown-table
routing, thread-pooled merges with partial-failure isolation.

Covers the round-2 advisory findings: a shared DeadLetterSink keyed on
(source_id, batch_id) silently dropped every table-after-the-first's
bad rows in the same batch, and rows routed to no configured table
vanished without a signal.
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from spark_cdc.cdc.apply import RoutedApplyError, apply_batch_routed
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.cdc.quarantine import DeadLetterSink
from spark_cdc.lake.table import LakeTable


def _mk_table(spark, tmp_path, name):
    return LakeTable.create(
        spark, str(tmp_path / name), PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op_seq long, op string, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp, _table string",
    ).withColumn("ts", F.coalesce("ts", F.lit("2024-03-05 10:00:00").cast("timestamp")))


def test_routed_per_table_quarantine_not_suppressed(spark, tmp_path):
    """Both tables' bad rows in the SAME batch land in quarantine —
    the table-qualified source id keeps each table's exactly-once
    bookkeeping independent (round-2 advisory: second table's rows
    were silently dropped)."""
    ta = _mk_table(spark, tmp_path, "a")
    tb = _mk_table(spark, tmp_path, "b")
    sink = DeadLetterSink(spark, str(tmp_path / "dlq"))
    rows = [
        (1, 1, "c", "conv-a", 0, "user", "good-a", None, None, "a"),
        (2, 2, "c", None, 0, "user", "bad-a", None, None, "a"),   # null key
        (3, 3, "c", "conv-b", 0, "user", "good-b", None, None, "b"),
        (4, 4, "c", None, 0, "user", "bad-b", None, None, "b"),   # null key
    ]
    apply_batch_routed(
        {"a": ta, "b": tb}, _changes(spark, rows),
        batch_id=0, source_id="stream", quarantine=sink,
    )
    dlq = sink.read().collect()
    assert {r["lsn"] for r in dlq} == {2, 4}, "one table's bad rows were suppressed"
    assert {r["source_id"] for r in dlq} == {"stream:a", "stream:b"}
    assert ta.read().count() == 1 and tb.read().count() == 1


def test_routed_unknown_table_goes_to_quarantine(spark, tmp_path):
    """A topic-mapping typo must be loud: rows whose _table matches no
    configured table are dead-lettered with reason unknown_table."""
    ta = _mk_table(spark, tmp_path, "a")
    sink = DeadLetterSink(spark, str(tmp_path / "dlq"))
    rows = [
        (1, 1, "c", "conv-a", 0, "user", "ok", None, None, "a"),
        (2, 2, "c", "conv-x", 0, "user", "lost?", None, None, "transcripts_typo"),
        (3, 3, "c", "conv-y", 0, "user", "lost?", None, None, None),
    ]
    apply_batch_routed(
        {"a": ta}, _changes(spark, rows),
        batch_id=0, source_id="stream", quarantine=sink,
    )
    dlq = {r["lsn"]: r for r in sink.read().collect()}
    assert set(dlq) == {2, 3}
    assert dlq[2]["reason"] == "unknown_table:transcripts_typo"
    assert dlq[3]["reason"] == "unknown_table:<null>"
    assert ta.read().count() == 1


def test_routed_unknown_table_counted_without_sink(spark, tmp_path):
    ta = _mk_table(spark, tmp_path, "a")
    rows = [
        (1, 1, "c", "conv-a", 0, "user", "ok", None, None, "a"),
        (2, 2, "c", "conv-x", 0, "user", "?", None, None, "nope"),
    ]
    res = apply_batch_routed({"a": ta}, _changes(spark, rows), batch_id=0)
    assert res["_unknown"] == 1


def test_routed_partial_failure_isolated_and_retryable(spark, tmp_path):
    """One table's merge failing must not abort the others: healthy
    tables commit, RoutedApplyError names the failed table, and a
    redelivery of the same batch re-applies ONLY the missed table
    (batch-id guards skip the committed ones)."""
    ta = _mk_table(spark, tmp_path, "a")

    class _BoomTable:  # any attribute access raises — transient-failure stand-in
        def __getattr__(self, name):
            raise RuntimeError("boom: table b unavailable")

    tb_broken = _BoomTable()
    rows = [
        (1, 1, "c", "conv-a", 0, "user", "ok-a", None, None, "a"),
        (2, 2, "c", "conv-b", 0, "user", "ok-b", None, None, "b"),
    ]
    env = _changes(spark, rows)
    with pytest.raises(RoutedApplyError) as ei:
        apply_batch_routed({"a": ta, "b": tb_broken}, env, batch_id=0, source_id="s")
    assert set(ei.value.failed) == {"b"}
    assert "a" in ei.value.succeeded
    assert ta.read().count() == 1  # healthy table committed

    # redelivery with the table fixed: a is guard-skipped, b applies
    tb = _mk_table(spark, tmp_path, "b")
    res = apply_batch_routed({"a": ta, "b": tb}, env, batch_id=0, source_id="s")
    assert res["a"].skipped and not res["b"].skipped
    assert tb.read().count() == 1 and ta.read().count() == 1


def test_routed_merges_run_concurrently(spark, tmp_path, monkeypatch):
    """Micro-batch latency must be ≈ max(table merge), not Σ — the
    per-table merges are submitted from a thread pool. Verified by
    instrumenting apply_batch with a concurrency counter (wall-clock
    comparisons are too noisy on this host)."""
    import spark_cdc.cdc.apply as apply_mod

    state = {"live": 0, "peak": 0}
    lock = threading.Lock()

    def fake_apply(table, changes, **kwargs):
        with lock:
            state["live"] += 1
            state["peak"] = max(state["peak"], state["live"])
        time.sleep(0.25)
        with lock:
            state["live"] -= 1
        return "ok"

    monkeypatch.setattr(apply_mod, "apply_batch", fake_apply)
    tables = {f"t{i}": object() for i in range(4)}
    env = _changes(
        spark, [(1, 1, "c", "c0", 0, "user", "x", None, None, "t0")]
    )
    res = apply_mod.apply_batch_routed(tables, env, batch_id=0)
    assert set(res) == set(tables)
    assert state["peak"] >= 2, "per-table merges ran sequentially"


def test_routed_pool_bounded_by_max_parallel(spark, tmp_path, monkeypatch):
    """``max_parallel`` bounds the jobs in flight: the unknown-topic
    count shares a slot with the merges instead of adding one."""
    import spark_cdc.cdc.apply as apply_mod

    state = {"live": 0, "peak": 0}
    lock = threading.Lock()

    def busy(result):
        with lock:
            state["live"] += 1
            state["peak"] = max(state["peak"], state["live"])
        time.sleep(0.2)
        with lock:
            state["live"] -= 1
        return result

    env = _changes(
        spark, [(1, 1, "c", "c0", 0, "user", "x", None, None, "t0")]
    )
    monkeypatch.setattr(apply_mod, "apply_batch", lambda table, changes, **kw: busy("ok"))
    monkeypatch.setattr(type(env), "count", lambda self: busy(0))
    tables = {f"t{i}": object() for i in range(4)}
    apply_mod.apply_batch_routed(tables, env, batch_id=0, max_parallel=2)
    assert state["peak"] == 2, state


def test_routed_count_failure_keeps_per_table_outcomes(spark, tmp_path, monkeypatch):
    """A failing unknown-topic count must not mask RoutedApplyError:
    the error still names the failed table and the committed one, and
    carries the count failure under ``_unknown``."""
    ta = _mk_table(spark, tmp_path, "a")

    class _BoomTable:
        def __getattr__(self, name):
            raise RuntimeError("boom: table b unavailable")

    env = _changes(spark, [
        (1, 1, "c", "conv-a", 0, "user", "ok-a", None, None, "a"),
        (2, 2, "c", "conv-b", 0, "user", "ok-b", None, None, "b"),
    ])

    def boom_count(self):
        raise RuntimeError("boom: unknown-topic count")

    monkeypatch.setattr(type(env), "count", boom_count)
    with pytest.raises(RoutedApplyError) as ei:
        apply_batch_routed({"a": ta, "b": _BoomTable()}, env, batch_id=0, source_id="s")
    monkeypatch.undo()
    assert set(ei.value.failed) == {"b", "_unknown"}
    assert ei.value.succeeded == ["a"]
    assert ta.read().count() == 1
