"""Two-level IVM for COUNT DISTINCT / MIN / MAX under updates and
deletes: the maintained view stays equal to the from-scratch aggregate
for any CDC batch schedule, including the cases plain retraction
algebra cannot express (delete of the current extremum, duplicate
values, vanished groups)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.cdc.envelope import CHANGE_SCHEMA, PAYLOAD_SCHEMA
from spark_cdc.lake.feed import ChangeFeedConsumer
from spark_cdc.lake.table import LakeTable
from spark_cdc.operators.distinct_ivm import DistinctRollup
from spark_cdc.operators.ivm import maintain_from_feed, signed_rows

GROUP_FIELDS = [T.StructField("role", T.StringType(), False)]
VALUE_FIELD = T.StructField("text", T.StringType(), True)


def _ev(lsn, op, conv, turn, role, text, day):
    return (lsn, lsn, op, conv, turn, role, text, None, datetime.datetime(2024, 1, day))


def _scratch(src):
    """DISTINCT/MIN/MAX per group over the source's CURRENT state
    (NULL values ignored; all-null groups absent)."""
    return sorted(
        (r["role"], r["n_distinct"], r["min_v"], r["max_v"])
        for r in src.read()
        .where(F.col("text").isNotNull())
        .groupBy("role")
        .agg(
            F.countDistinct("text").alias("n_distinct"),
            F.min("text").alias("min_v"),
            F.max("text").alias("max_v"),
        )
        .collect()
    )


def _maintained(dr):
    return sorted(
        (r["role"], r["n_distinct"], r["min_v"], r["max_v"])
        for r in dr.read().collect()
    )


def _mk(spark, tmp_path):
    src = LakeTable.create(
        spark, str(tmp_path / "src"), PAYLOAD_SCHEMA,
        key_columns=["conv_id", "turn_idx"], num_buckets=4,
    )
    dr = DistinctRollup.create(
        spark, str(tmp_path / "support"), str(tmp_path / "view"),
        GROUP_FIELDS, VALUE_FIELD, num_buckets=4,
    )
    consumer = ChangeFeedConsumer(src, str(tmp_path / "cursor"))
    return src, dr, consumer


def test_distinct_ivm_equivalence_under_cdc(spark, tmp_path):
    src, dr, consumer = _mk(spark, tmp_path)
    batches = [
        # b0: duplicate value within a group ('hi' twice for user)
        [_ev(1, "c", "c1", 0, "user", "hi", 1),
         _ev(2, "c", "c2", 0, "user", "hi", 1),
         _ev(3, "c", "c3", 0, "user", "alpha", 1),
         _ev(4, "c", "c4", 0, "assistant", "zz", 1)],
        # b1: delete ONE of the duplicate 'hi' rows → n_distinct must
        # NOT drop; delete the current MIN ('alpha') → next min ('hi')
        [_ev(5, "d", "c2", 0, None, None, 2),
         _ev(6, "d", "c3", 0, None, None, 2)],
        # b2: group-changing update (user→assistant) + null value (must
        # be ignored by all three aggregates)
        [_ev(7, "u", "c1", 0, "assistant", "hi", 3),
         _ev(8, "c", "c5", 0, "tool", None, 3)],
        # b3: last non-null row of 'user' already gone in b2 — now
        # delete an assistant row; duplicate value across groups fine
        [_ev(9, "d", "c4", 0, None, None, 4)],
    ]
    for i, rows in enumerate(batches):
        apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                    batch_id=i, collect_lineage=False)
        assert maintain_from_feed(dr, consumer) == 1
        assert _maintained(dr) == _scratch(src), f"diverged after batch {i}"

    # the all-null group never materializes
    assert "tool" not in {r[0] for r in _maintained(dr)}
    # vanished group (user) dropped, not an all-zero row
    assert "user" not in {r[0] for r in _maintained(dr)}
    # caught up → no-op
    assert maintain_from_feed(dr, consumer) == 0


def test_min_retraction_exposes_next_value(spark, tmp_path):
    src, dr, consumer = _mk(spark, tmp_path)
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "aaa", 1),
         _ev(2, "c", "c2", 0, "user", "mmm", 1),
         _ev(3, "c", "c3", 0, "user", "zzz", 1)], CHANGE_SCHEMA),
        batch_id=0, collect_lineage=False)
    maintain_from_feed(dr, consumer)
    assert _maintained(dr) == [("user", 3, "aaa", "zzz")]
    # delete current min AND current max in one batch
    apply_batch(src, spark.createDataFrame(
        [_ev(4, "d", "c1", 0, None, None, 2),
         _ev(5, "d", "c3", 0, None, None, 2)], CHANGE_SCHEMA),
        batch_id=1, collect_lineage=False)
    maintain_from_feed(dr, consumer)
    assert _maintained(dr) == [("user", 1, "mmm", "mmm")]


def test_redelivered_batch_is_noop(spark, tmp_path):
    src, dr, consumer = _mk(spark, tmp_path)
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "x", 1)], CHANGE_SCHEMA),
        batch_id=0, collect_lineage=False)
    diff, to_snap = consumer.poll(include_preimage=True)
    signed = signed_rows(diff).persist()
    dr.apply_batch(signed, batch_id=to_snap)
    before = _maintained(dr)
    support_before = sorted(tuple(r) for r in dr.support.read().collect())
    # redelivery (same batch id) must change nothing at either level
    dr.apply_batch(signed, batch_id=to_snap)
    signed.unpersist()
    assert _maintained(dr) == before == [("user", 1, "x", "x")]
    assert sorted(tuple(r) for r in dr.support.read().collect()) == support_before


def test_crash_between_support_and_view_commits(spark, tmp_path):
    """Support committed, crash before the view refresh: redelivering
    the batch must no-op level 1 (guard) but still refresh level 2."""
    src, dr, consumer = _mk(spark, tmp_path)
    apply_batch(src, spark.createDataFrame(
        [_ev(1, "c", "c1", 0, "user", "a", 1),
         _ev(2, "c", "c2", 0, "user", "b", 1)], CHANGE_SCHEMA),
        batch_id=0, collect_lineage=False)
    diff, to_snap = consumer.poll(include_preimage=True)
    signed = signed_rows(diff).persist()
    # simulate the crash: run ONLY the level-1 merge
    clean = signed.where(F.col("text").isNotNull()).select(
        "role", "text", "_sign")
    dr._level1.apply_batch(clean, batch_id=to_snap)
    assert _maintained(dr) == []  # view is stale
    # recovery: the full apply (as redelivered by the feed)
    dr.apply_batch(signed, batch_id=to_snap)
    signed.unpersist()
    assert _maintained(dr) == [("user", 2, "a", "b")]


def test_rebuild_after_feed_expiry(spark, tmp_path):
    src, dr, consumer = _mk(spark, tmp_path)
    for i, rows in enumerate([
        [_ev(1, "c", "c1", 0, "user", "a", 1),
         _ev(2, "c", "c2", 0, "assistant", "b", 1)],
        [_ev(3, "u", "c1", 0, "user", "c", 2)],
        [_ev(4, "d", "c2", 0, None, None, 3)],
    ]):
        apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                    batch_id=i, collect_lineage=False)
    # expire the feed under the consumer: retain only the head snapshot
    from spark_cdc.lake.maintenance import expire_snapshots

    expire_snapshots(src, keep_last=1)
    assert maintain_from_feed(dr, consumer, auto_rebuild=True) >= 1
    assert _maintained(dr) == _scratch(src) == [("user", 1, "c", "c")]
    # incremental maintenance continues cleanly after the rebuild
    apply_batch(src, spark.createDataFrame(
        [_ev(5, "c", "c9", 0, "user", "zz", 4)], CHANGE_SCHEMA),
        batch_id=9, collect_lineage=False)
    maintain_from_feed(dr, consumer, auto_rebuild=True)
    assert _maintained(dr) == _scratch(src)


def test_misaligned_bucketing_rejected(spark, tmp_path):
    support = LakeTable.create(
        spark, str(tmp_path / "s"), T.StructType(
            GROUP_FIELDS + [VALUE_FIELD,
                            T.StructField("mult", T.LongType(), True)]),
        key_columns=["role", "text"], num_buckets=4,
    )
    view = LakeTable.create(
        spark, str(tmp_path / "v"), T.StructType(
            GROUP_FIELDS + [T.StructField("n_distinct", T.LongType(), True),
                            T.StructField("min_v", T.StringType(), True),
                            T.StructField("max_v", T.StringType(), True)]),
        key_columns=["role"], num_buckets=8,  # != support's 4
    )
    import pytest
    with pytest.raises(ValueError, match="num_buckets"):
        DistinctRollup(support, view, ["role"], "text")


def test_topk_values_exact_and_delete_correct(spark, tmp_path):
    src, dr, consumer = _mk(spark, tmp_path)
    # user: hi×3, yo×2, alpha×1 ; assistant: zz×1
    rows = [_ev(i + 1, "c", f"c{i + 1}", 0, "user", v, 1)
            for i, v in enumerate(["hi", "hi", "hi", "yo", "yo", "alpha"])]
    rows.append(_ev(7, "c", "c7", 0, "assistant", "zz", 1))
    apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                batch_id=0, collect_lineage=False)
    maintain_from_feed(dr, consumer)
    got = sorted(tuple(r) for r in dr.topk_values(2).collect())
    assert got == [("assistant", "zz", 1, 1),
                   ("user", "hi", 3, 1), ("user", "yo", 2, 2)]
    # delete two 'hi' rows → hi×1 ties with alpha×1; yo×2 takes rank 1
    apply_batch(src, spark.createDataFrame(
        [_ev(8, "d", "c1", 0, None, None, 2),
         _ev(9, "d", "c2", 0, None, None, 2)], CHANGE_SCHEMA),
        batch_id=1, collect_lineage=False)
    maintain_from_feed(dr, consumer)
    got = sorted(tuple(r) for r in dr.topk_values(2).collect())
    assert got == [("assistant", "zz", 1, 1),
                   ("user", "alpha", 1, 2), ("user", "yo", 2, 1)]


def test_distinct_view_on_stream(spark, tmp_path):
    """DistinctRollup plugged into the streaming runner's on_batch hook
    (via the same MaintainedView adapter as additive rollups) keeps
    COUNT DISTINCT / MIN / MAX in lockstep with the streamed table."""
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
    dr = DistinctRollup.create(
        spark, str(tmp_path / "support"), str(tmp_path / "view"),
        GROUP_FIELDS, VALUE_FIELD, num_buckets=4,
    )
    view = MaintainedView(dr, ChangeFeedConsumer(table, str(tmp_path / "cursor")))
    runner = StreamRunner(
        spark, table, src_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, on_batch=view.on_batch,
    )
    runner.run_available()
    assert runner.batches >= 2
    assert _maintained(dr) == _scratch(table)


def test_quantile_values_exact_weighted(spark, tmp_path):
    """Exact discrete quantiles off the support table equal a
    reference weighted-multiset computation, including under deletes
    that shift the median."""
    src, dr, consumer = _mk(spark, tmp_path)
    # user multiset: a×1, b×3, c×1, d×2  (n=7)
    vals = ["a", "b", "b", "b", "c", "d", "d"]
    rows = [_ev(i + 1, "c", f"c{i + 1}", 0, "user", v, 1)
            for i, v in enumerate(vals)]
    apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                batch_id=0, collect_lineage=False)
    maintain_from_feed(dr, consumer)

    def ref_q(multiset, p):
        import math
        flat = sorted(multiset)
        k = max(math.ceil(p * len(flat)), 1)
        return flat[k - 1]

    got = {r["role"]: r for r in dr.quantile_values([0.0, 0.5, 0.9, 1.0]).collect()}
    u = got["user"]
    assert (u["q0"], u["q0_5"], u["q0_9"], u["q1"]) == (
        ref_q(vals, 0.0), ref_q(vals, 0.5), ref_q(vals, 0.9), ref_q(vals, 1.0))
    assert (u["q0"], u["q0_5"], u["q1"]) == ("a", "b", "d")
    # delete two of the three b's (conv c2, c3) → median shifts to c
    apply_batch(src, spark.createDataFrame(
        [_ev(8, "d", "c2", 0, None, None, 2),
         _ev(9, "d", "c3", 0, None, None, 2)], CHANGE_SCHEMA),
        batch_id=1, collect_lineage=False)
    maintain_from_feed(dr, consumer)
    vals2 = ["a", "b", "c", "d", "d"]
    u = {r["role"]: r for r in dr.quantile_values([0.5]).collect()}["user"]
    assert u["q0_5"] == ref_q(vals2, 0.5) == "c"


def test_view_equals_scratch_batch_for_batch(spark, tmp_path):
    """The touched-bucket refresh keeps the view equal to the
    from-scratch aggregate after every poll, through a min retraction,
    a new group and a vanished group."""
    src, dr, consumer = _mk(spark, tmp_path)
    batches = [
        [_ev(1, "c", "c1", 0, "user", "b", 1),
         _ev(2, "c", "c2", 0, "user", "a", 1),
         _ev(3, "c", "c3", 0, "assistant", "x", 1)],
        [_ev(4, "d", "c2", 0, None, None, 2),          # min retraction
         _ev(5, "c", "c4", 0, "tool", "t", 2)],
        [_ev(6, "u", "c1", 0, "assistant", "b", 3)],    # vanish 'user'
    ]
    for i, rows in enumerate(batches):
        apply_batch(src, spark.createDataFrame(rows, CHANGE_SCHEMA),
                    batch_id=i, collect_lineage=False)
        assert maintain_from_feed(dr, consumer) == 1
        assert _maintained(dr) == _scratch(src), f"batch {i}"


def test_narrow_poll_rewrites_only_its_view_bucket(spark, tmp_path):
    """A poll that touches one group of many rewrites only that group's
    view bucket; every other bucket keeps its files."""
    from spark_cdc.lake.table import bucket_expr

    src, dr, consumer = _mk(spark, tmp_path)
    wide = [_ev(10 + i, "c", f"w{i}", 0, f"role{i}", f"v{i}", 1)
            for i in range(12)]
    apply_batch(src, spark.createDataFrame(wide, CHANGE_SCHEMA),
                batch_id=0, collect_lineage=False)
    assert maintain_from_feed(dr, consumer) == 1
    before = {b: list(fl) for b, fl in dr.view.manifest["files"].items()}
    assert len(before) == 4, "the fixture must fill every view bucket"

    apply_batch(src, spark.createDataFrame(
        [_ev(100, "c", "n1", 0, "role3", "zzz", 2)], CHANGE_SCHEMA),
        batch_id=1, collect_lineage=False)
    assert maintain_from_feed(dr, consumer) == 1
    want = spark.createDataFrame([("role3",)], ["role"]) \
        .select(bucket_expr("role", 4)).first()[0]
    after = dr.view.manifest["files"]
    changed = sorted(int(b) for b in set(before) | set(after)
                     if before.get(b) != after.get(b))
    assert changed == [want]
    assert _maintained(dr) == _scratch(src)
