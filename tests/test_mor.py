"""Merge-on-read mode: same final state as copy-on-write, resolved
reads, compaction folds deltas, late-old-batch safety, exactly-once."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cdc.cdc.apply import apply_batch, replay_changes_df
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.lake.maintenance import compact
from spark_cdc.lake.table import LakeTable
from spark_cdc.sources.changelog import generate_change_log
from tests.conftest import assert_df_equal


def _mk(spark, path):
    return LakeTable.create(spark, str(path), PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4)


def test_mor_equals_cow_and_oracle(spark, tmp_path):
    log = generate_change_log(spark, n_events=3000, n_convs=50, seed=29)
    cow = _mk(spark, tmp_path / "cow")
    mor = _mk(spark, tmp_path / "mor")
    for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000), (2000, 3001)]):
        batch = log.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        apply_batch(cow, batch, batch_id=i)
        apply_batch(mor, batch, batch_id=i, mode="mor")
    assert mor.manifest["delta_buckets"], "MoR should flag delta buckets"
    expect = replay_changes_df(log, KEY_COLUMNS).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    assert_df_equal(mor.read(), expect, KEY_COLUMNS)
    assert_df_equal(cow.read(), mor.read(), KEY_COLUMNS)

    # compaction folds deltas, state unchanged, flags cleared
    state = sorted(tuple(r) for r in mor.read().collect())
    compact(mor, max_files_per_bucket=10_000)
    assert not mor.manifest["delta_buckets"]
    assert sorted(tuple(r) for r in mor.read(resolve=False).collect()) == state
    # cow merge on top of a compacted mor table still correct
    extra = generate_change_log(spark, n_events=500, n_convs=50, seed=30).withColumn(
        "lsn", F.col("lsn") + 10_000
    ).withColumn("op_seq", F.col("op_seq") + 10_000).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    apply_batch(mor, extra, batch_id=3)
    full = log.unionByName(extra)
    assert_df_equal(
        mor.read(),
        replay_changes_df(full, KEY_COLUMNS).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        KEY_COLUMNS,
    )


def test_mor_late_old_batch_and_redelivery(spark, tmp_path):
    log = generate_change_log(spark, n_events=1500, n_convs=25, seed=33)
    mor = _mk(spark, tmp_path / "t")
    new_half = log.where(F.col("lsn") >= 700)
    old_half = log.where(F.col("lsn") < 700)
    apply_batch(mor, new_half, mode="mor")
    apply_batch(mor, old_half, mode="mor")  # late old events
    apply_batch(mor, new_half, mode="mor")  # redelivery, no batch id
    expect = replay_changes_df(log, KEY_COLUMNS).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    assert_df_equal(mor.read(), expect, KEY_COLUMNS)
    # batch-id redelivery skipped entirely
    r = apply_batch(mor, old_half, batch_id=0, mode="mor")
    assert not r.skipped  # first time with ids
    r2 = apply_batch(mor, old_half, batch_id=0, mode="mor")
    assert r2.skipped


def test_mor_fast_path_no_stats(spark, tmp_path):
    log = generate_change_log(spark, n_events=1000, n_convs=20, seed=35)
    mor = _mk(spark, tmp_path / "t")
    apply_batch(mor, log, mode="mor", collect_stats=False, collect_lineage=False)
    expect = replay_changes_df(log, KEY_COLUMNS).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    assert_df_equal(mor.read(), expect, KEY_COLUMNS)


def test_mor_touched_buckets_are_this_commits(spark, tmp_path):
    """A merge reports the buckets it wrote, observed from the files it
    wrote: MoR not the table's accumulated delta buckets, CoW not every
    bucket, with or without batch stats. It counts its rows and
    files, and every other bucket's file list stays as it was. An empty
    batch, with or without stats, changes no file list and still records
    its batch id and extra properties."""
    from spark_cdc.lake.table import bucket_expr

    log = generate_change_log(spark, n_events=400, n_convs=40, seed=37)
    hot = log.select("conv_id").first()["conv_id"]
    one = log.where(F.col("conv_id") == hot).withColumn("lsn", F.col("lsn") + 10_000)
    want = [one.select(bucket_expr("conv_id", 8)).first()[0]]
    for mode in ("mor", "cow"):
        for stats in (False, True):
            table = LakeTable.create(
                spark, str(tmp_path / f"{mode}{stats}"), PAYLOAD_SCHEMA,
                key_columns=KEY_COLUMNS, num_buckets=8,
            )
            apply_batch(table, log, batch_id=0, mode=mode, collect_stats=stats)
            if mode == "mor":
                assert len(table.manifest["delta_buckets"]) > 1
            files = {b: list(fl) for b, fl in table.manifest["files"].items()}
            res = apply_batch(table, one, batch_id=1, mode=mode, collect_stats=stats)
            assert res.touched_buckets == want, (mode, stats, res.touched_buckets)
            changed = [
                int(b) for b, fl in table.manifest["files"].items() if fl != files.get(b)
            ]
            assert changed == want, (mode, stats, changed)
            assert res.rows_written > 0 and res.files_written > 0
        for bid, stats in ((2, False), (3, True)):
            files = {b: list(fl) for b, fl in table.manifest["files"].items()}
            res = apply_batch(
                table, one.limit(0), batch_id=bid, mode=mode, collect_stats=stats,
                extra_properties={"probe": bid},
            )
            assert res.touched_buckets == [] and table.manifest["files"] == files, (mode, stats)
            assert table.has_committed("default", bid), (mode, stats)
            assert table.properties["probe"] == bid, (mode, stats)


def test_merge_quotes_hostile_identifiers(spark, tmp_path):
    """The SQL-text merge plan quotes what it embeds: payload columns
    named with a backtick, braces and a quote end equal to the one-shot
    replay in every mode, with and without the batch stats."""
    import datetime
    import random

    from pyspark.sql import types as T

    hostile = ["we`ird", "{br}ace", "it's"]
    payload = T.StructType(
        [T.StructField("conv_id", T.StringType()), T.StructField("turn_idx", T.IntegerType())]
        + [T.StructField(c, T.StringType()) for c in hostile]
        + [T.StructField("ts", T.TimestampType())]
    )
    envelope = T.StructType(
        [T.StructField("lsn", T.LongType()), T.StructField("op_seq", T.LongType()),
         T.StructField("op", T.StringType())] + payload.fields
    )
    rnd = random.Random(7)
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (lsn, rnd.randint(0, 2), rnd.choice(["c", "u", "d"]),
         rnd.choice(["a", "b", "c"]), rnd.randint(0, 1),
         f"w{lsn}", f"b{lsn}", f"q{lsn}", base + datetime.timedelta(seconds=rnd.randint(0, 3)))
        for lsn in range(24)
    ]
    log = spark.createDataFrame(rows, envelope)
    names = [f.name for f in payload.fields]
    # the reference resolves columns by parsed name, so it replays the
    # same log under plain names
    plain = [f"h{hostile.index(c)}" if c in hostile else c for c in log.columns]
    want = sorted(
        tuple(r) for r in replay_changes_df(
            log.toDF(*plain), ["conv_id", "turn_idx"]
        ).collect()
    )
    assert want, "the fixture must leave live rows"
    for mode in ("cow", "mor"):
        table = LakeTable.create(
            spark, str(tmp_path / mode), payload,
            key_columns=["conv_id", "turn_idx"], num_buckets=4,
        )
        # the batch stats alternate, so runs with and without them meet stored rows
        for i, stats in enumerate((True, False, True)):
            apply_batch(
                table, log.where((F.col("lsn") >= 8 * i) & (F.col("lsn") < 8 * i + 8)),
                batch_id=i, mode=mode,
                collect_stats=stats, collect_lineage=stats,
            )
        got = sorted(tuple(r.asDict()[c] for c in names) for r in table.read().collect())
        assert got == want, mode


def test_merge_rejects_null_in_not_null_key(spark, tmp_path):
    """A null in a key column the table declares NOT NULL fails the
    merge in both modes before it writes a file or commits, and the
    error names the column and the quarantine sink; the table reads as
    before. The rejected batch also carries a column the table lacks
    (``tool``): schema evolution rides the merge's own commit, so the
    table keeps its schema, in memory and on disk, until a good batch
    commits data and column as one snapshot."""
    import datetime
    import os

    import pytest
    from pyspark.sql import types as T

    from spark_cdc.cdc.envelope import CHANGE_SCHEMA

    loose = T.StructType([T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields])
    day = datetime.datetime(2024, 1, 1)
    good = spark.createDataFrame([(1, 1, "c", "a", 0, "user", "x", None, day)], loose).drop("tool")
    bad = spark.createDataFrame([(2, 2, "c", "a", None, "user", "y", "s", day)], loose)
    evolved = spark.createDataFrame([(3, 3, "c", "a", 1, "user", "z", "s", day)], loose)
    fields = [f for f in PAYLOAD_SCHEMA.fields if f.name != "tool"]
    for mode in ("cow", "mor"):
        table = LakeTable.create(spark, str(tmp_path / mode), T.StructType(fields),
                                 key_columns=KEY_COLUMNS, num_buckets=4)
        apply_batch(table, good, batch_id=0, mode=mode)
        snap, data = table.snapshot_id, os.path.join(table.path, "data")
        written = sorted(os.listdir(data))
        with pytest.raises(Exception, match="'turn_idx'.*quarantine"):
            apply_batch(table, bad, batch_id=1, mode=mode)
        for t in (table, LakeTable.load(spark, table.path)):
            assert t.snapshot_id == snap, mode
            assert "tool" not in t.schema.fieldNames(), mode
        assert sorted(os.listdir(data)) == written, mode
        assert [tuple(r) for r in table.read().select("conv_id", "turn_idx", "text").collect()] == [
            ("a", 0, "x")
        ], mode
        apply_batch(table, evolved, batch_id=1, mode=mode)
        assert table.snapshot_id == snap + 1, mode
        assert sorted(tuple(r) for r in table.read().select("turn_idx", "tool").collect()) == [
            (0, None), (1, "s")
        ], mode
