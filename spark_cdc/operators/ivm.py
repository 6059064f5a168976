"""Incremental view maintenance (IVM) under updates AND deletes.

:class:`spark_cdc.operators.rollup.IncrementalRollup` maintains
additive aggregates from append-only fact batches — the reference's
SummingMergeTree analogue. That breaks down when the source is a
MERGE-maintained table whose rows are updated and deleted: an update
must retract the old row's contribution before adding the new one.

This module closes that gap by composing the change data feed
(:meth:`spark_cdc.lake.table.LakeTable.read_changes` with
``include_preimage=True``) with the same additive rollup machinery:

- each diff row is expanded into **signed rows** — the post-image with
  ``_sign`` +1 (inserts, updates), the pre-image with ``_sign`` −1
  (deletes, updates);
- aggregates written over signed rows (``signed_count``,
  ``signed_sum``) become *retractable deltas* that are still plain
  sums — map-side combinable, mergeable by the existing add-merge
  rollup table, exactly-once under its batch-id guard.

Maintained result == from-scratch aggregate over the source's current
state, for any poll schedule (driver-oracle entry ``ivm_feed_rollup``;
equivalence also pytest-checked under out-of-order multi-batch CDC).

The reference has no equivalent: its KPI views only ever ingest
append-only facts (/root/reference/etl/clickhouse_schema/
kpi_views.sql), and its CDC path drops deletes entirely
(/root/reference/stream_etl/core/processor.py:214-217).

Scale: a maintenance step costs O(change set) — the feed diff is one
Spark job without an exchange that resolves only the bucket-column
values of the keys in files the commits added or dropped, signed
expansion is a projection + union, and the rollup rewrites only
buckets containing touched groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIGN_COL = "_sign"


def signed_rows(diff: DataFrame) -> DataFrame:
    """Expand a pre-image diff into retraction algebra rows.

    insert → +1 post row; delete → −1 pre row; update_postimage →
    both. Output columns: the payload columns + ``_sign``.
    """
    pre_cols = [c for c in diff.columns if c.startswith("_pre_")]
    if not pre_cols:
        raise ValueError("signed_rows needs a diff built with include_preimage=True")
    plain = [c for c in diff.columns if c not in pre_cols and c != "_change_type"]
    post = (
        diff.where(F.col("_change_type") != "delete")
        .select(*plain, F.lit(1).alias(SIGN_COL))
    )
    pre = (
        diff.where(F.col("_change_type") != "insert")
        .select(
            *[
                F.col(f"_pre_{c}").alias(c) if f"_pre_{c}" in pre_cols else F.col(c)
                for c in plain
            ],
            F.lit(-1).alias(SIGN_COL),
        )
    )
    return post.unionByName(pre)


def signed_count(cond: Column | None = None) -> Column:
    """COUNT(*) (optionally filtered) as a retractable sum over signed rows."""
    contrib = F.col(SIGN_COL) if cond is None else F.when(cond, F.col(SIGN_COL)).otherwise(F.lit(0))
    return F.coalesce(F.sum(contrib), F.lit(0))


def signed_sum(col: Column | str) -> Column:
    """SUM(col) as a retractable sum over signed rows (null-safe: null
    measure values contribute 0, matching SQL SUM semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.sum(c * F.col(SIGN_COL)), F.lit(0))


class MaintainedView:
    """Auto-maintained aggregate view attached to an ingest stream —
    the analogue of the reference's ClickHouse materialized views,
    which advance implicitly on every insert (kpi_views.sql), but
    correct under updates and deletes too.

    Plug :meth:`on_batch` into a stream runner::

        view = MaintainedView(rollup, ChangeFeedConsumer(table, cursor))
        StreamRunner(spark, table, src, ckpt, on_batch=view.on_batch)

    After every merged micro-batch the view drains the table's change
    feed, so the aggregate is in lockstep with the table the stream
    maintains. Crash-safe: the feed cursor and the rollup's batch-id
    guard make redelivered maintenance idempotent, and a crash between
    table commit and view maintenance is healed by the next batch's
    drain (the feed diff is cumulative since the cursor).
    """

    def __init__(self, rollup, consumer, auto_rebuild: bool = False):
        self.rollup = rollup
        self.consumer = consumer
        self.auto_rebuild = auto_rebuild

    def on_batch(self, batch_id: int | None = None, res=None) -> None:
        maintain_from_feed(self.rollup, self.consumer,
                           auto_rebuild=self.auto_rebuild)


def rebuild_view(rollup, consumer) -> int:
    """Self-heal a retraction-maintained view whose feed cursor was
    overtaken by snapshot retention (:class:`FeedExpiredError`):
    recompute the aggregate from the source's CURRENT state (every live
    row as a +1 signed contribution), overwrite the rollup in one
    commit, and advance the cursor to the head snapshot observed before
    the read — the retraction-consumer analogue of a Kafka consumer
    resetting to latest + re-materializing after falling off retention.
    Exactly-once: the rollup's batch-id guard keys on the observed head
    and the cursor commits only after the rebuild commit, so a crash at
    any point redelivers a no-op. Returns the new cursor position."""
    consumer.table.refresh()
    to_snap = consumer.table.snapshot_id
    src = consumer.table.read().withColumn(SIGN_COL, F.lit(1))
    rollup.rebuild(src, batch_id=to_snap)
    consumer.commit(to_snap)
    return to_snap


def maintain_from_feed(rollup, consumer, auto_rebuild: bool = False) -> int:
    """Drain a :class:`spark_cdc.lake.feed.ChangeFeedConsumer` into an
    :class:`~spark_cdc.operators.rollup.IncrementalRollup` whose
    measures are written over signed rows — the feed loop
    :func:`~spark_cdc.lake.feed.follow` in catch-up mode, so the rollup
    commits under the rollup's batch-id guard keyed on the feed's
    ``to_snapshot`` before the cursor advances. Returns the number of
    polls applied.

    ``auto_rebuild=True`` turns :class:`FeedExpiredError` (snapshot
    retention overtook the cursor) into a :func:`rebuild_view`
    self-heal instead of an exception; leave False when expiry should
    page an operator rather than silently trigger a full recompute."""
    from spark_cdc.lake.feed import follow

    def apply(diff: DataFrame, to_snap: int) -> None:
        # one poll's diff feeds several downstream jobs (touched-bucket
        # stats, the level-1 merge, a distinct view's level-2 refresh);
        # materialize it ONCE — the diff PLAN re-reads and re-joins two
        # snapshots of the growing source per action, while its OUTPUT
        # is O(change set) rows (measured ~2× on the wide-batch
        # distinct-view series)
        rollup.apply_batch(signed_rows(diff.localCheckpoint()), batch_id=to_snap)

    return follow(
        consumer, apply, interval_sec=0.0, max_idle_polls=1, include_preimage=True,
        on_expired=(lambda c: rebuild_view(rollup, c)) if auto_rebuild else None,
    )
