"""Incremental view maintenance from the change feed: a rollup over a
MERGE-maintained source stays equal to the from-scratch aggregate under
updates (including group-changing ones), deletes, and vanished groups."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.cdc.envelope import CHANGE_SCHEMA, PAYLOAD_SCHEMA
from spark_cdc.lake.feed import ChangeFeedConsumer
from spark_cdc.lake.table import LakeTable
from spark_cdc.operators.ivm import maintain_from_feed, signed_count, signed_sum
from spark_cdc.operators.rollup import IncrementalRollup

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("role", T.StringType(), False),
        T.StructField("turns", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
    ]
)


def _ev(lsn, op, conv, turn, role, text, day):
    return (lsn, lsn, op, conv, turn, role, text, None, datetime.datetime(2024, 1, day))


def _scratch(src):
    return sorted(
        (r["role"], r["turns"], r["chars"])
        for r in src.read()
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum(F.length("text")).alias("chars"),
        )
        .collect()
    )


def _maintained(rt):
    return sorted((r["role"], r["turns"], r["chars"]) for r in rt.read().collect())


def test_ivm_feed_rollup_equivalence(spark, tmp_path):
    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    rt = LakeTable.create(
        spark, str(tmp_path / "rollup"), ROLLUP_SCHEMA,
        key_columns=["role"], num_buckets=4,
    )
    rollup = IncrementalRollup(
        rt, ["role"],
        {"turns": signed_count(), "chars": signed_sum(F.length("text"))},
        count_col="turns",
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))

    batches = [
        # b0: three groups
        [_ev(1, "c", "c1", 0, "user", "hello", 1),
         _ev(2, "c", "c2", 0, "assistant", "hi", 1),
         _ev(3, "c", "c3", 0, "tool", "x", 1)],
        # b1: group-changing update (user→assistant) + delete → 'tool' vanishes
        [_ev(4, "u", "c1", 0, "assistant", "hello2", 2),
         _ev(5, "d", "c3", 0, None, None, 2)],
        # b2: new group member + same-group text update
        [_ev(6, "c", "c4", 0, "user", "question?", 3),
         _ev(7, "u", "c2", 0, "assistant", "hiya", 3)],
        # b3: delete one of two assistant rows
        [_ev(8, "d", "c1", 0, None, None, 4)],
    ]
    for i, rows in enumerate(batches):
        apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                    batch_id=i, collect_lineage=False)
        assert maintain_from_feed(rollup, consumer) == 1
        assert _maintained(rt) == _scratch(src), f"diverged after batch {i}"

    # vanished group really dropped, not an all-zero row
    assert "tool" not in {r[0] for r in _maintained(rt)}
    # caught-up maintenance is a no-op
    assert maintain_from_feed(rollup, consumer) == 0


def test_ivm_multi_commit_poll(spark, tmp_path):
    """One poll spanning SEVERAL source commits nets correctly (the
    feed is a net diff, and net deltas are what the rollup needs)."""
    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    rt = LakeTable.create(
        spark, str(tmp_path / "rollup"), ROLLUP_SCHEMA,
        key_columns=["role"], num_buckets=4,
    )
    rollup = IncrementalRollup(
        rt, ["role"],
        {"turns": signed_count(), "chars": signed_sum(F.length("text"))},
        count_col="turns",
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "a", 1), _ev(2, "c", "c2", 0, "user", "bb", 1)],
        CHANGE_SCHEMA), batch_id=0, collect_lineage=False)
    apply_batch(src, spark.createDataFrame(
        [_ev(3, "u", "c1", 0, "user", "a2", 2), _ev(4, "d", "c2", 0, None, None, 2)],
        CHANGE_SCHEMA), batch_id=1, collect_lineage=False)
    # both commits drain in ONE poll
    assert maintain_from_feed(rollup, consumer) == 1
    assert _maintained(rt) == _scratch(src) == [("user", 1, 2)]


def test_ivm_maintained_view_on_stream(spark, tmp_path):
    """A MaintainedView attached to the streaming runner keeps the
    aggregate in lockstep with the table the stream merges into — the
    ClickHouse MV-on-ingest behaviour, correct under deletes too."""
    from spark_cdc.operators.ivm import MaintainedView
    from spark_cdc.sources.changelog import generate_change_log
    from spark_cdc.streaming import StreamRunner

    log = generate_change_log(spark, n_events=3000, n_convs=50, seed=33)
    src_dir = str(tmp_path / "changelog")
    log.coalesce(4).write.parquet(src_dir)
    table = LakeTable.create(
        spark, str(tmp_path / "table"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    rt = LakeTable.create(
        spark, str(tmp_path / "rollup"), ROLLUP_SCHEMA, key_columns=["role"], num_buckets=4
    )
    rollup = IncrementalRollup(
        rt, ["role"],
        {"turns": signed_count(), "chars": signed_sum(F.length("text"))},
        count_col="turns",
    )
    view = MaintainedView(rollup, ChangeFeedConsumer(table, str(tmp_path / "cursor")))
    runner = StreamRunner(
        spark, table, src_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, on_batch=view.on_batch,
    )
    runner.run_available()
    assert runner.batches >= 2  # several micro-batches actually ran
    assert _maintained(rt) == _scratch(table)


def test_feed_expired_cursor_and_bootstrap(spark, tmp_path):
    """A cursor falling behind snapshot retention raises FeedExpiredError;
    a merge-idempotent mirror recovers via bootstrap()."""
    import pytest

    from spark_cdc.lake.feed import FeedExpiredError, feed_to_changes
    from spark_cdc.lake.maintenance import expire_snapshots

    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    # first poll applied to the mirror, cursor committed
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "a", 1)], CHANGE_SCHEMA),
        batch_id=0, collect_lineage=False)
    diff, snap = consumer.poll()
    apply_batch(mirror, feed_to_changes(diff, snap), batch_id=snap, collect_lineage=False)
    consumer.commit(snap)
    # consumer stalls while the source advances 4 commits and retention expires its base
    for i in range(1, 5):
        apply_batch(src, spark.createDataFrame(
            [_ev(i + 1, "c", f"c{i+1}", 0, "user", f"t{i}", i + 1)], CHANGE_SCHEMA),
            batch_id=i, collect_lineage=False)
    expire_snapshots(src, keep_last=2)
    with pytest.raises(FeedExpiredError):
        consumer.poll()
    # mirror recovery: full state as inserts, merge-idempotent
    full, head = consumer.bootstrap()
    apply_batch(mirror, feed_to_changes(full, head), batch_id=head, collect_lineage=False)
    consumer.commit(head)
    assert consumer.poll() is None
    assert _state(mirror) == _state(src)


def _state(table):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in table.read().collect()
    )


def test_ivm_auto_rebuild_after_feed_expiry(spark, tmp_path):
    """A retraction-maintained view whose cursor is overtaken by
    snapshot retention self-heals with auto_rebuild=True: the rollup is
    recomputed from the source's current state, the cursor advances,
    and subsequent incremental maintenance works normally — all
    idempotent under redelivery (batch-id guard)."""
    import pytest

    from spark_cdc.lake.feed import FeedExpiredError
    from spark_cdc.lake.maintenance import expire_snapshots
    from spark_cdc.operators.ivm import rebuild_view

    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    rt = LakeTable.create(
        spark, str(tmp_path / "rollup"), ROLLUP_SCHEMA,
        key_columns=["role"], num_buckets=4,
    )
    rollup = IncrementalRollup(
        rt, ["role"],
        {"turns": signed_count(), "chars": signed_sum(F.length("text"))},
        count_col="turns",
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "aa", 1),
         _ev(2, "c", "c2", 0, "tool", "b", 1)], CHANGE_SCHEMA),
        batch_id=0, collect_lineage=False)
    assert maintain_from_feed(rollup, consumer) == 1

    # view stalls; source advances past retention (update + delete so a
    # naive insert-replay would double-count — rebuild must not)
    for i, rows in enumerate([
        [_ev(3, "u", "c1", 0, "assistant", "aa2", 2)],
        [_ev(4, "d", "c2", 0, None, None, 2)],
        [_ev(5, "c", "c3", 0, "user", "ccc", 3)],
        [_ev(6, "c", "c4", 0, "user", "dddd", 3)],
    ], start=1):
        apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                    batch_id=i, collect_lineage=False)
    expire_snapshots(src, keep_last=2)
    with pytest.raises(FeedExpiredError):
        maintain_from_feed(rollup, consumer)  # default: propagate

    assert maintain_from_feed(rollup, consumer, auto_rebuild=True) == 1
    assert _maintained(rt) == _scratch(src)
    assert "tool" not in {r[0] for r in _maintained(rt)}

    # redelivered rebuild (crash between rollup commit and cursor
    # commit) is a no-op: same head snapshot, guard skips
    snap_before = rt.snapshot_id
    rebuild_view(rollup, consumer)
    assert rt.snapshot_id == snap_before
    assert _maintained(rt) == _scratch(src)

    # incremental maintenance resumes normally after the heal
    apply_batch(src, spark.createDataFrame(
        [_ev(7, "u", "c3", 0, "user", "c-longer", 4)], CHANGE_SCHEMA),
        batch_id=5, collect_lineage=False)
    assert maintain_from_feed(rollup, consumer) == 1
    assert _maintained(rt) == _scratch(src)


def test_feed_mirror_cli_auto_recovers_from_expiry(spark, tmp_path, capsys):
    """`feed-mirror` must survive cursor expiry instead of dying with a
    traceback: the follow loop's on_expired hook bootstraps the mirror
    (merge-idempotent full-state apply) and resumes."""
    import json as _json

    from spark_cdc.__main__ import main
    from spark_cdc.lake.maintenance import expire_snapshots

    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "a", 1)], CHANGE_SCHEMA),
        batch_id=0, collect_lineage=False)
    args = ["feed-mirror", "--source-table", str(tmp_path / "src"),
            "--mirror", str(tmp_path / "mirror"),
            "--cursor", str(tmp_path / "cursor"), "--num-buckets", "4"]
    assert main(args) == 0
    # source advances 4 commits; retention expires the mirror's base
    for i in range(1, 5):
        apply_batch(src, spark.createDataFrame(
            [_ev(i + 1, "c", f"c{i+1}", 0, "user", f"t{i}", i + 1)], CHANGE_SCHEMA),
            batch_id=i, collect_lineage=False)
    expire_snapshots(src, keep_last=2)
    assert main(args) == 0  # recovers via bootstrap, no traceback
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 5 and out["cursor"] == src.snapshot_id
    mirror = LakeTable.load(spark, str(tmp_path / "mirror"))
    assert _state(mirror) == _state(src)
