"""A crash between a derived table's commit and its feed-cursor commit.

Every feed follower runs the one step of
``spark_cdc.lake.feed.poll_once``: poll → apply under batch id = the
diff's ``to_snapshot`` → commit the cursor. Here the cursor commit
raises once, after the apply has committed. The re-drain must redeliver
the same diff, the batch-id guard must skip its apply (the derived
table gains no snapshot), and the derived state must equal a
from-scratch rebuild over the source's final state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.lake.feed import ChangeFeedConsumer
from spark_cdc.lake.table import LakeTable
from spark_cdc.operators.index_maint import (
    BM25_INDEX_KEYS,
    BM25_INDEX_SCHEMA,
    MaintainedBM25Index,
    MaintainedProjection,
)
from spark_cdc.operators.ivm import maintain_from_feed, signed_count, signed_sum
from spark_cdc.operators.rollup import IncrementalRollup
from spark_cdc.operators.search import bm25_index, index_stats

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _env(spark, rows, i, op):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.select(
        F.col("doc_id").alias("lsn"),
        F.lit(i).cast("long").alias("op_seq"),
        F.lit(op).alias("op"),
        "doc_id",
        (F.col("doc_id") % 3).cast("string").alias("kind"),
        "text",
        F.timestamp_seconds(F.lit(i)).alias("ts"),
    )


def _docs(spark, tmp_path):
    """A 12-doc corpus committed in one insert batch."""
    docs = LakeTable.create(
        spark, str(tmp_path / "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    rows = [(i, f"alpha beta w{i} " + "gamma " * (i % 3)) for i in range(12)]
    apply_batch(docs, _env(spark, rows, 0, "c"), batch_id=0, collect_lineage=False)
    return docs


def _change(spark, docs):
    """Two commits, an update and a delete: the diff of the poll that
    crashes."""
    apply_batch(docs, _env(spark, [(1, "fresh omega"), (4, "alpha alpha")], 1, "c"),
                batch_id=1, collect_lineage=False)
    apply_batch(docs, _env(spark, [(7, None)], 2, "d"), batch_id=2,
                collect_lineage=False)


def _crash_first_commit(consumer):
    """Make the next cursor commit raise, once."""
    real = consumer.commit

    def crash(snapshot_id):
        consumer.commit = real
        raise RuntimeError("crash before the cursor commit")

    consumer.commit = crash


def _crash_and_redrain(consumer, derived, drain):
    """Drain with a crash before the cursor commit, then drain again;
    the redelivered apply must leave ``derived`` at the snapshot the
    crashed apply committed."""
    cursor = consumer.position()
    _crash_first_commit(consumer)
    with pytest.raises(RuntimeError, match="cursor commit"):
        drain()
    assert consumer.position() == cursor  # the apply committed, the cursor did not
    applied_at = derived.snapshot_id
    assert drain() == 1  # the same diff, redelivered
    assert derived.snapshot_id == applied_at  # and skipped by the guard
    assert consumer.position() == consumer.table.snapshot_id


def test_rollup_view_crash_before_cursor_commit(spark, tmp_path):
    docs = _docs(spark, tmp_path)
    rt = LakeTable.create(
        spark, str(tmp_path / "rollup"),
        T.StructType([
            T.StructField("kind", T.StringType(), False),
            T.StructField("n", T.LongType(), True),
            T.StructField("chars", T.LongType(), True),
        ]),
        key_columns=["kind"], num_buckets=4,
    )
    rollup = IncrementalRollup(
        rt, ["kind"],
        {"n": signed_count(), "chars": signed_sum(F.length("text"))},
        count_col="n",
    )
    consumer = ChangeFeedConsumer(docs, str(tmp_path / "cursor"))
    assert maintain_from_feed(rollup, consumer) == 1
    _change(spark, docs)
    _crash_and_redrain(consumer, rt, lambda: maintain_from_feed(rollup, consumer))
    want = sorted(
        tuple(r)
        for r in docs.read()
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"))
        .collect()
    )
    assert sorted(tuple(r) for r in rt.read().select("kind", "n", "chars").collect()) == want


def test_bm25_index_crash_before_cursor_commit(spark, tmp_path):
    docs = _docs(spark, tmp_path)
    idx = LakeTable.create(
        spark, str(tmp_path / "bm25"), BM25_INDEX_SCHEMA,
        key_columns=BM25_INDEX_KEYS, num_buckets=4,
    )
    maint = MaintainedBM25Index(
        idx, ChangeFeedConsumer(docs, str(tmp_path / "cursor")), compact_every=None
    )
    assert maint.catch_up() == 1
    _change(spark, docs)
    _crash_and_redrain(maint.consumer, idx, maint.catch_up)
    rebuilt = bm25_index(docs.read().select("doc_id", "text")).select(
        "doc_id", "token", "tf", "dl"
    )
    assert maint.read().exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maint.read()).count() == 0
    # the corpus stats ride in the guarded commit: not counted twice
    n, avgdl = index_stats(rebuilt)
    assert maint.stats() == (n, pytest.approx(avgdl))


def test_projection_crash_before_cursor_commit(spark, tmp_path):
    docs = _docs(spark, tmp_path)
    proj = LakeTable.create(
        spark, str(tmp_path / "proj"),
        T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_chars", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]),
        key_columns=["doc_id"], num_buckets=4,
    )

    def project(df):
        return df.select("doc_id", F.length("text").alias("n_chars"))

    maint = MaintainedProjection(
        proj, ChangeFeedConsumer(docs, str(tmp_path / "cursor")), project,
        compact_every=None,
    )
    assert maint.catch_up() == 1
    _change(spark, docs)
    _crash_and_redrain(maint.consumer, proj, maint.catch_up)
    want = sorted(tuple(r) for r in project(docs.read()).collect())
    assert sorted(tuple(r) for r in maint.read().select("doc_id", "n_chars").collect()) == want
