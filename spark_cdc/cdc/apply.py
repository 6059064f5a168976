"""Op routing + batch apply (SURVEY.md §2.7 C1-C3).

The reference dispatched each change event in Python
(/root/reference/stream_etl/core/processor.py:186-217: c/r → insert,
u → insert-new-version, d → dropped) and let ClickHouse
ReplacingMergeTree converge versions later. Here the routing is a
single declarative merge:

- within the batch: latest version per key wins (dedup.py);
- against the table: newer-version-wins upsert; winning 'd' deletes
  (handled properly, unlike the reference);
- both as one Spark plan — no per-event Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cdc.cdc.dedup import DEFAULT_ORDER, latest_version_per_key_agg
from spark_cdc.cdc.envelope import TABLE_COL
from spark_cdc.lake.merge import MergeResult, merge_changes
from spark_cdc.lake.table import LakeTable


def replay_changes_df(
    changes: DataFrame,
    keys: list[str],
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    op_col: str = "op",
    delete_op: str = "d",
    drop_envelope: bool = True,
) -> DataFrame:
    """Pure-DataFrame full replay: final table state from a change log.

    Equivalent to merging every micro-batch in order — because the
    version order (ts, op_seq, lsn) is total per key, the fold over
    batches equals one global latest-version reduction followed by
    delete filtering. This identity (proved in tests/test_apply.py by
    comparing against incremental LakeTable merges) is what makes the
    engine's output checkable by a plain SQL window-function oracle.
    """
    winners = latest_version_per_key_agg(changes, keys, order_cols)
    alive = winners.filter(F.col(op_col) != F.lit(delete_op))
    if drop_envelope:
        alive = alive.drop(op_col, *[c for c in ("lsn", "op_seq") if c in alive.columns])
    return alive


def apply_batch(
    table: LakeTable,
    changes: DataFrame,
    batch_id: int | None = None,
    source_id: str = "default",
    normalize: dict[str, Column] | None = None,
    quarantine=None,
    **merge_kwargs,
) -> MergeResult:
    """Apply one micro-batch of change events to a LakeTable.

    ``normalize`` maps column name → replacement Column expression
    (e.g. ``{"text": normalize_text(col("text"))}``) applied before the
    merge — the vectorized stand-in for the reference's per-row
    transform layer (/root/reference/etl/core/pipeline.py:54-121).

    ``quarantine`` (a :class:`spark_cdc.cdc.quarantine.DeadLetterSink`)
    routes rows violating the default envelope rules to the dead-letter
    table instead of merging them. No quarantine sink → all rows go to
    the merge (caller's responsibility), but nothing is ever fabricated
    (contrast: reference processor.py:66-68 turned malformed numerics
    into 1.0).
    """
    for col_name, expr in (normalize or {}).items():
        changes = changes.withColumn(col_name, expr)
    if quarantine is not None:
        from spark_cdc.cdc.quarantine import default_envelope_rules, split_quarantine

        changes, bad = split_quarantine(
            changes, default_envelope_rules(table.key_columns)
        )
        quarantine.record(bad, source_id=source_id, batch_id=batch_id)
    return merge_changes(
        table, changes, batch_id=batch_id, source_id=source_id, **merge_kwargs
    )


class RoutedApplyError(RuntimeError):
    """Raised when one or more per-table merges of a routed batch fail.

    The tables in ``succeeded`` have committed (their batch-id guards
    make a redelivery of the same batch a no-op for them); the tables
    in ``failed`` have not advanced, so re-applying the batch repairs
    exactly the missed tables."""

    def __init__(self, failed: dict[str, Exception], succeeded: list[str]):
        self.failed = failed
        self.succeeded = succeeded
        detail = "; ".join(f"{n}: {e!r}" for n, e in sorted(failed.items()))
        super().__init__(
            f"routed apply failed for tables {sorted(failed)} "
            f"(committed: {sorted(succeeded)}): {detail}"
        )


def apply_batch_routed(
    tables: dict[str, LakeTable],
    changes: DataFrame,
    batch_id: int | None = None,
    source_id: str | None = None,
    quarantine=None,
    max_parallel: int = 4,
    **kwargs,
) -> dict[str, MergeResult]:
    """Table router (SURVEY §2.7 C2): one multi-table change batch —
    e.g. :func:`spark_cdc.cdc.envelope.parse_kafka_frames` output with
    its topic-derived ``_table`` column — dispatched to each target
    table's merge (reference: stream_etl/core/consumer.py:64-82 routed
    per message in Python; here it is one filter per table over one
    plan).

    Exactly-once bookkeeping is **per table**: each table's merge guard
    and each table's quarantine lineage use a table-qualified source id
    (``{source_id}:{name}``), so table B's dead-lettered rows are never
    suppressed by table A having already recorded the same batch id.

    Rows whose ``_table`` matches no configured table are routed to
    the quarantine sink with reason ``unknown_table`` (a topic-mapping
    typo must be loud, not silent data loss); without a sink their
    count is surfaced in the returned dict under ``"_unknown"``.

    The per-table merges are submitted from a driver-side thread pool
    of at most ``max_parallel`` threads, which the unknown-topic count
    shares: Spark schedules concurrent jobs fine, and N sequential
    merges would make micro-batch latency N× one merge while the
    cluster idles between stages. A failed table does not abort the
    others — the batch commits for every healthy table and raises
    :class:`RoutedApplyError` so the stream redelivers; the redelivery
    re-applies only the missed tables (batch-id guards skip the rest).
    A failed unknown-topic count is reported in that error's
    ``failed`` under ``"_unknown"``, next to the per-table outcomes.
    """
    from concurrent.futures import ThreadPoolExecutor

    base = source_id or "routed"
    names = list(tables.keys())
    # NOTE (round 7): persisting the parsed batch across the N+1
    # consumers was tried and measured SLOWER (routed replay 11.5s →
    # 16.7s): the cache fill forces a full-width JSON parse up front,
    # while the lazy plan lets each consumer's column pruning parse
    # only the rows/columns it routes. Left unpersisted deliberately.
    unknown = changes.where(
        F.col(TABLE_COL).isNull() | ~F.col(TABLE_COL).isin(names)
    )
    results: dict[str, MergeResult] = {}
    unknown_fut = None
    if quarantine is not None:
        from spark_cdc.cdc.quarantine import REASON_COL

        flagged = unknown.withColumn(
            REASON_COL,
            F.concat(
                F.lit("unknown_table:"),
                F.coalesce(F.col(TABLE_COL), F.lit("<null>")),
            ),
        )
        quarantine.record(flagged, source_id=f"{base}:_unknown", batch_id=batch_id)

    def _one(name: str, tbl: LakeTable) -> MergeResult:
        sub = changes.where(F.col(TABLE_COL) == name).drop(TABLE_COL)
        return apply_batch(
            tbl,
            sub,
            batch_id=batch_id,
            source_id=f"{base}:{name}",
            quarantine=quarantine,
            **kwargs,
        )

    failed: dict[str, Exception] = {}
    # the unknown-topic count shares the pool with the per-table
    # merges, so it overlaps them instead of serializing ahead of them,
    # and at most max_parallel jobs run at once; the count runs on the
    # routing column alone — the projection prunes the scan to the
    # topic bytes, no envelope JSON parse
    jobs = len(tables) + (0 if quarantine else 1)
    with ThreadPoolExecutor(max_workers=max(1, min(max_parallel, jobs))) as ex:
        if quarantine is None:
            unknown_fut = ex.submit(unknown.select(TABLE_COL).count)
        futures = {name: ex.submit(_one, name, tbl) for name, tbl in tables.items()}
        for name, fut in futures.items():
            try:
                results[name] = fut.result()
            except Exception as e:  # noqa: BLE001 — isolate per-table failure
                failed[name] = e
        if unknown_fut is not None:
            try:
                n_unknown = unknown_fut.result()
            except Exception as e:  # noqa: BLE001 — keep per-table outcomes
                failed["_unknown"] = e
            else:
                if n_unknown:
                    results["_unknown"] = n_unknown  # type: ignore[assignment]
    if failed:
        raise RoutedApplyError(failed, [n for n in results if n in tables])
    return results
