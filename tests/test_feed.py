"""Change-feed consumption: cursor poll loop + feed-driven table
mirroring (downstream maintenance without full re-reads)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.cdc.envelope import CHANGE_SCHEMA, PAYLOAD_SCHEMA
from spark_cdc.lake.feed import ChangeFeedConsumer, feed_to_changes
from spark_cdc.lake.table import LakeTable


def _ev(lsn, op, conv, turn, text, day):
    return (lsn, lsn, op, conv, turn, "user", text, None, datetime.datetime(2024, 1, day))


def _state(table):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in table.read().collect()
    )


def test_feed_mirror_and_cursor(spark, tmp_path):
    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    assert consumer.poll() is None  # fresh table, caught up at snapshot 0

    batches = [
        [_ev(1, "c", "c1", 0, "a", 1), _ev(2, "c", "c2", 0, "b", 1)],
        [_ev(3, "u", "c1", 0, "a2", 2), _ev(4, "c", "c3", 0, "c", 2)],
        [_ev(5, "d", "c2", 0, "b", 3), _ev(6, "u", "c3", 0, "c2", 3)],
    ]
    for i, rows in enumerate(batches):
        apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                    batch_id=i, collect_lineage=False)
        diff, to_snap = consumer.poll()
        apply_batch(mirror, feed_to_changes(diff, to_snap),
                    batch_id=to_snap, collect_lineage=False)
        consumer.commit(to_snap)
        assert _state(mirror) == _state(src)
    assert consumer.poll() is None
    assert _state(src) == [("c1", 0, "a2"), ("c3", 0, "c2")]


def test_feed_replays_uncommitted_poll(spark, tmp_path):
    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    apply_batch(src, spark.createDataFrame([_ev(1, "c", "c1", 0, "a", 1)], CHANGE_SCHEMA),
                batch_id=0, collect_lineage=False)
    diff1, snap1 = consumer.poll()
    got1 = {(r["conv_id"], r["_change_type"]) for r in diff1.collect()}
    # crash before commit: a fresh consumer on the same cursor re-polls the same diff
    again = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    diff2, snap2 = again.poll()
    assert snap2 == snap1
    assert {(r["conv_id"], r["_change_type"]) for r in diff2.collect()} == got1
    again.commit(snap2)
    assert again.poll() is None
    assert os.path.exists(str(tmp_path / "cursor"))


def test_feed_mirror_cli(spark, tmp_path):
    """`python -m spark_cdc feed-mirror` (in-process): catch the mirror
    up across two source commits, then a second run is a no-op poll."""
    from spark_cdc.__main__ import main

    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "a", 1), _ev(2, "c", "c2", 0, "b", 1)], CHANGE_SCHEMA,
    ), batch_id=0, collect_lineage=False)
    apply_batch(src, spark.createDataFrame(
        [_ev(3, "u", "c1", 0, "a2", 2), _ev(4, "d", "c2", 0, "b", 2)], CHANGE_SCHEMA,
    ), batch_id=1, collect_lineage=False)
    argv = [
        "feed-mirror",
        "--source-table", str(tmp_path / "src"),
        "--mirror", str(tmp_path / "mirror"),
        "--cursor", str(tmp_path / "cursor"),
        "--num-buckets", "4",
    ]
    assert main(argv) == 0
    mirror = LakeTable.load(spark, str(tmp_path / "mirror"))
    assert _state(mirror) == _state(src) == [("c1", 0, "a2")]
    cursor_before = int(open(str(tmp_path / "cursor")).read())
    assert main(argv) == 0  # caught up: no-op, cursor unchanged
    assert int(open(str(tmp_path / "cursor")).read()) == cursor_before


def test_feed_follow_loop(spark, tmp_path):
    """follow(): one poll drains any number of staged commits, idle
    polls end catch-up mode, should_stop ends service mode."""
    from spark_cdc.lake.feed import follow

    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    apply_batch(src, spark.createDataFrame([_ev(1, "c", "c1", 0, "a", 1)], CHANGE_SCHEMA),
                batch_id=0, collect_lineage=False)
    apply_batch(src, spark.createDataFrame([_ev(2, "c", "c2", 0, "b", 2)], CHANGE_SCHEMA),
                batch_id=1, collect_lineage=False)

    def apply_fn(diff, to_snap):
        apply_batch(mirror, feed_to_changes(diff, to_snap),
                    batch_id=to_snap, collect_lineage=False)

    assert follow(consumer, apply_fn, interval_sec=0.01, max_idle_polls=2) == 1
    assert _state(mirror) == _state(src)
    # service mode honors should_stop before doing any work
    assert follow(consumer, apply_fn, should_stop=lambda: True) == 0


def test_feed_across_schema_evolution(spark, tmp_path):
    """read_changes spanning a schema-evolution commit: the pre-image
    side (old schema) null-fills the added column, diff and pre-images
    stay correct. Pins a subtle cross-feature interaction."""
    import datetime

    from pyspark.sql import types as T

    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import CHANGE_SCHEMA, PAYLOAD_SCHEMA

    fields = [f for f in PAYLOAD_SCHEMA.fields if f.name != "tool"]
    t = LakeTable.create(spark, str(tmp_path / "t"), T.StructType(fields),
                         key_columns=["conv_id", "turn_idx"], num_buckets=2)
    pre_schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name != "tool"])
    b0 = spark.createDataFrame(
        [(1, 1, "c", "c1", 0, "user", "a", datetime.datetime(2024, 1, 1)),
         (2, 2, "c", "c2", 0, "user", "b", datetime.datetime(2024, 1, 1))],
        pre_schema)
    apply_batch(t, b0, batch_id=0, collect_lineage=False)
    snap_a = t.snapshot_id
    b1 = spark.createDataFrame(
        [(3, 3, "u", "c1", 0, "user", "a2", "search", datetime.datetime(2024, 1, 2)),
         (4, 4, "c", "c3", 0, "user", "c", None, datetime.datetime(2024, 1, 2))],
        CHANGE_SCHEMA)
    apply_batch(t, b1, batch_id=1, collect_lineage=False)
    diff = sorted((r["conv_id"], r["_change_type"], r["text"], r["tool"])
                  for r in t.read_changes(snap_a).collect())
    assert diff == [("c1", "update_postimage", "a2", "search"),
                    ("c3", "insert", "c", None)]
    pre = sorted((r["conv_id"], r["_pre_text"], r["tool"])
                 for r in t.read_changes(snap_a, include_preimage=True).collect())
    assert pre == [("c1", "a", "search"), ("c3", None, None)]


def test_feed_carries_null_keys(spark, tmp_path):
    """A key with a null part is a key like any other: the update and
    the delete of a row keyed (conv, null) or (null, turn) reach the
    feed, with and without pre-images, in both merge modes."""
    from pyspark.sql import types as T

    def loose(schema):
        return T.StructType([T.StructField(f.name, f.dataType, True) for f in schema.fields])

    batches = [
        [_ev(1, "c", "a", None, "v1", 1), _ev(2, "c", None, 1, "w1", 1), _ev(3, "c", "a", 0, "x", 1)],
        [_ev(4, "u", "a", None, "v2", 2), _ev(5, "u", None, 1, "w2", 2)],
        [_ev(6, "d", "a", None, "v2", 3), _ev(7, "d", None, 1, "w2", 3)],
    ]
    want = [
        {("a", None): ("update_postimage", "v2", "v1"), (None, 1): ("update_postimage", "w2", "w1")},
        {("a", None): ("delete", "v2", "v2"), (None, 1): ("delete", "w2", "w2")},
    ]
    for mode in ("cow", "mor"):
        t = LakeTable.create(spark, str(tmp_path / mode), loose(PAYLOAD_SCHEMA),
                             key_columns=["conv_id", "turn_idx"], num_buckets=2)
        apply_batch(t, spark.createDataFrame(batches[0], loose(CHANGE_SCHEMA)),
                    batch_id=0, mode=mode, collect_lineage=False)
        for i, rows in enumerate(batches[1:], 1):
            snap = t.snapshot_id
            apply_batch(t, spark.createDataFrame(rows, loose(CHANGE_SCHEMA)),
                        batch_id=i, mode=mode, collect_lineage=False)
            post = {(r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"])
                    for r in t.read_changes(snap).collect()}
            pre = {(r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"], r["_pre_text"])
                   for r in t.read_changes(snap, include_preimage=True).collect()}
            assert post == {k: v[:2] for k, v in want[i - 1].items()}, (mode, i, post)
            want_pre = {k: (c, None if c == "delete" else p, q) for k, (c, p, q) in want[i - 1].items()}
            assert pre == want_pre, (mode, i, pre)


def test_diff_kernel_returns_only_changed_keys(spark, tmp_path):
    """The feed's bucket kernel resolves whole conversations (the bucket
    column's values) but returns only the keys of the files a commit
    added: a MoR update of one turn of a 20-turn conversation leaves the
    kernel as one row, not twenty for the Spark no-op filter to drop."""
    from spark_cdc.lake.table import diff_bucket, read_spec

    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD_SCHEMA,
                         key_columns=["conv_id", "turn_idx"], num_buckets=2)
    base = [_ev(i, "c", "a", i, f"t{i}", 1) for i in range(20)]
    apply_batch(t, spark.createDataFrame(base, CHANGE_SCHEMA), batch_id=0, collect_lineage=False)
    snap = t.snapshot_id
    apply_batch(t, spark.createDataFrame([_ev(20, "u", "a", 3, "t3b", 2)], CHANGE_SCHEMA),
                batch_id=1, mode="mor", collect_lineage=False)
    m_from, m_to = t._read_manifest(snap), t.manifest
    rows = []
    for b, files in m_to["files"].items():
        sides = tuple([os.path.join(t.path, f) for f in m["files"].get(b, [])] for m in (m_from, m_to))
        if sides[0] != sides[1]:
            rows += diff_bucket(read_spec(m_to), sides).to_pylist()
    assert [(r["conv_id"], r["turn_idx"], r["text"], r["_pre_text"], r["_change_type"])
            for r in rows] == [("a", 3, "t3b", "t3", "update_postimage")]
