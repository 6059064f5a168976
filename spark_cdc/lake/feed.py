"""Incremental downstream consumption of a LakeTable's change feed,
and the one exactly-once protocol every derived table follows.

The reference had no incremental-consumption story: every downstream
read re-scanned full tables (/root/reference/etl/core/pipeline.py:
136-181). Here a downstream job polls :meth:`LakeTable.read_changes`
with a persisted snapshot cursor — the same poll → process → commit
offset discipline the reference's Kafka consumer used for its ingress
(/root/reference/stream_etl/core/consumer.py:86-109), now available on
the egress side.

The protocol has two halves, each defined once:

- **Ingress guard** (:meth:`LakeTable.has_committed` +
  :func:`~spark_cdc.lake.table.with_batch_id`): a table commit records
  its batch id per source in the snapshot properties, in the same
  commit as the data, and a batch at or below the recorded id is
  skipped. ``merge_changes``, the rollups, the distinct view and the
  dead-letter sink all use it.
- **Egress step** (:func:`poll_once`, looped by :func:`follow`): poll
  the feed; apply the diff downstream under batch id = the diff's
  ``to_snapshot``; then commit the cursor. Every derived-table writer
  (feed mirrors, ``maintain_from_feed`` views, the maintained indexes
  of :mod:`spark_cdc.operators.index_maint`) runs this step and no
  other::

    follow(consumer, apply_fn, interval_sec=0.0, max_idle_polls=1)
    # apply_fn(diff, to_snap) writes under batch_id=to_snap

The one place a crash can land between the downstream commit and the
cursor commit is inside :func:`poll_once` (an ``on_expired`` rebuild
commits the same way: data under the head's snapshot id, then the
cursor). The next poll then returns
the same diff with the same ``to_snapshot`` (at-least-once), and the
ingress guard skips the redelivered apply, which makes the pipeline
exactly-once end to end. (A consumer whose apply is a latest-version-
wins MERGE is idempotent even without the guard.)

Scale: a poll's diff is one Spark job with no exchange over the buckets
whose manifest file lists differ between the cursor snapshot and the
head snapshot, resolving in each only the bucket-column values of
the keys in files the commits added or dropped; a caught-up poll
touches no data files at all (two manifest reads).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_cdc.lake.table import LakeTable


class FeedExpiredError(RuntimeError):
    """The consumer's cursor snapshot has been removed by snapshot
    retention (:func:`spark_cdc.lake.maintenance.expire_snapshots`)
    before the consumer caught up — the diff base no longer exists.

    Recovery depends on the consumer's semantics: a merge-idempotent
    mirror re-bootstraps from :meth:`ChangeFeedConsumer.bootstrap`
    (full state as inserts; re-merging rows it already holds is a
    no-op); a retraction consumer (IVM) must rebuild its view from
    scratch, since replaying full state as inserts would double-count.
    Operationally: retention must out-last the slowest consumer, same
    as Kafka topic retention vs consumer lag.
    """


class ChangeFeedConsumer:
    """Cursor-tracked poll loop over a table's net change feed."""

    def __init__(self, table: LakeTable, cursor_path: str):
        self.table = table
        self.cursor_path = cursor_path

    def position(self) -> int:
        """Last committed snapshot id (0, the table's creation, before
        any commit)."""
        try:
            with open(self.cursor_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def poll(self, include_preimage: bool = False) -> tuple[DataFrame, int] | None:
        """Net diff since the cursor, or None when caught up.

        Returns ``(diff, to_snapshot)``; the caller processes ``diff``
        and then :meth:`commit`\\ s ``to_snapshot``. The diff is pinned
        to the head snapshot observed at poll time, so concurrent
        commits to the source between poll and commit are simply picked
        up by the next poll. ``include_preimage`` passes through to
        :meth:`LakeTable.read_changes` (retraction consumers need both
        images — see :mod:`spark_cdc.operators.ivm`).
        """
        self.table.refresh()
        to_id = self.table.snapshot_id
        frm = self.position()
        if to_id == frm:
            return None
        try:
            return (
                self.table.read_changes(frm, to_id, include_preimage=include_preimage),
                to_id,
            )
        except FileNotFoundError as e:
            raise FeedExpiredError(
                f"cursor snapshot {frm} of table {self.table.path} was expired "
                "by snapshot retention before this consumer caught up; "
                "re-bootstrap (merge-idempotent mirrors: bootstrap(); "
                "retraction consumers: rebuild the view)"
            ) from e

    def bootstrap(self) -> tuple[DataFrame, int]:
        """Full current state as an insert-only diff + head snapshot id
        — recovery path after :class:`FeedExpiredError` for consumers
        whose apply is merge-idempotent (mirrors: re-merging rows they
        already hold is a no-op). Commit the returned snapshot after
        applying, then resume normal polling."""
        self.table.refresh()
        to_id = self.table.snapshot_id
        return (
            self.table.read().withColumn("_change_type", F.lit("insert")),
            to_id,
        )

    def commit(self, snapshot_id: int) -> None:
        """Atomically advance the cursor (write + rename, fsync'd) —
        call only after the downstream effect of the polled diff is
        durable."""
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        tmp = f"{self.cursor_path}.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.cursor_path)


def poll_once(consumer: ChangeFeedConsumer, apply_fn, include_preimage: bool = False) -> bool:
    """The egress step of the module's protocol: poll →
    ``apply_fn(diff, to_snap)`` → commit the cursor. False when caught
    up. ``apply_fn`` must make its downstream effect durable under
    batch id ``to_snap`` before it returns."""
    got = consumer.poll(include_preimage=include_preimage)
    if got is None:
        return False
    diff, to_snap = got
    apply_fn(diff, to_snap)
    consumer.commit(to_snap)
    return True


def follow(
    consumer: ChangeFeedConsumer,
    apply_fn,
    interval_sec: float = 5.0,
    should_stop=None,
    max_idle_polls: int | None = None,
    on_expired=None,
    include_preimage: bool = False,
) -> int:
    """The feed loop: :func:`poll_once` until stopped, sleeping
    ``interval_sec`` between caught-up polls — the egress twin of the
    reference's consumer poll loop
    (/root/reference/stream_etl/core/consumer.py:86-109).

    ``should_stop()`` (e.g. a signal-set flag) ends the loop at the
    next iteration boundary, after any in-flight apply+commit completes
    — the same graceful-shutdown discipline as ``stream --continuous``.
    ``max_idle_polls`` ends it after that many consecutive caught-up
    polls: ``interval_sec=0.0, max_idle_polls=1`` drains the feed and
    returns (catch-up mode). ``include_preimage`` passes through to
    :meth:`ChangeFeedConsumer.poll` (retraction consumers need both
    images). Returns the number of applied polls.

    ``on_expired(consumer)`` is the :class:`FeedExpiredError` recovery
    hook — without it the error propagates, so a long-running follower
    dies with a traceback the moment snapshot retention overtakes its
    cursor. The hook must restore a consistent downstream state AND
    commit the cursor (merge-idempotent mirrors: apply
    :meth:`ChangeFeedConsumer.bootstrap` + commit; retraction views and
    indexes: rebuild from the source keyed on its head snapshot); the
    loop counts it as a poll and resumes normal polling.
    """
    import time

    polls = 0
    idle = 0
    while should_stop is None or not should_stop():
        try:
            applied = poll_once(consumer, apply_fn, include_preimage)
        except FeedExpiredError:
            if on_expired is None:
                raise
            on_expired(consumer)
            applied = True
        if applied:
            polls += 1
            idle = 0
            continue
        idle += 1
        if max_idle_polls is not None and idle >= max_idle_polls:
            break
        time.sleep(interval_sec)
    return polls


def feed_to_changes(diff: DataFrame, ordinal: int) -> DataFrame:
    """Convert a ``read_changes`` diff into the change-event envelope
    (op/lsn/op_seq + payload) so it can be ``apply_batch``-ed into a
    downstream LakeTable — table mirroring / derived-table maintenance
    driven by the feed instead of full re-reads.

    ``ordinal`` (use the feed's ``to_snapshot``) becomes lsn/op_seq:
    later polls out-version earlier ones, and a delete's pre-image ts
    ties with the mirrored row's ts so the higher op_seq lets the
    tombstone win.
    """
    return diff.select(
        F.lit(ordinal).cast("long").alias("lsn"),
        F.lit(ordinal).cast("long").alias("op_seq"),
        F.when(F.col("_change_type") == "delete", F.lit("d"))
        .otherwise(F.lit("c"))
        .alias("op"),
        *[c for c in diff.columns if c != "_change_type"],
    )
