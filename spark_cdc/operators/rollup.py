"""Incremental aggregate maintenance (SURVEY.md §2.4 A9).

The reference's five KPI materialized views are SummingMergeTree
tables: each insert contributes partial sums that ClickHouse re-sums
per group at background-merge time
(/root/reference/etl/clickhouse_schema/kpi_views.sql:13-15 et al.).
This module is the explicit Spark rendering:

- per micro-batch, compute the batch's **additive partial aggregates**
  (counts/sums per group — map-side combinable);
- merge them into a keyed lake table with ADD semantics (existing
  group values + batch deltas), not replace semantics;
- ratios (ctr etc.) are never stored — they are derived on read from
  the summed counts, avoiding the reference's summed-ratio bug
  (SURVEY.md §4 trap 1).

Equivalence contract (tested): maintaining the rollup over any batch
split of the input equals recomputing the aggregate from scratch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cdc.lake.table import BUCKET_COL, LakeTable, bucket_expr, with_batch_id


class IncrementalRollup:
    """Maintains ``group_cols → additive measures`` in a LakeTable.

    ``measures`` maps output column name → aggregate Column over the
    batch (must be additive: sum/count). Example::

        IncrementalRollup(table, ["user_id"], {
            "impressions": F.count(F.when(F.col("event_type") == "view", 1)),
            "clicks": F.count(F.when(F.col("event_type") == "click", 1)),
        })

    ``count_col`` names a measure holding the group's (signed) row
    count; groups whose count reaches 0 are dropped from the rollup at
    merge time, so a retraction-maintained view (see
    :mod:`spark_cdc.operators.ivm`) stays row-identical to the
    from-scratch aggregate even when a group's last source row is
    deleted. Standard IVM bookkeeping — without it a vanished group
    would linger as an all-zero row.
    """

    # source id of this rollup's batch-id guard
    GUARD = "rollup"

    def __init__(
        self,
        table: LakeTable,
        group_cols: list[str],
        measures: dict[str, Column],
        count_col: str | None = None,
    ):
        self.table = table
        self.group_cols = group_cols
        self.measures = measures
        self.count_col = count_col
        # buckets the last fold rewrote; None when its guard skipped it
        self.last_touched: list[int] | None = None

    def apply_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        return self._fold(batch, batch_id, rebuild=False)

    def rebuild(self, source: DataFrame, batch_id: int | None = None) -> int:
        """From-scratch recompute over ``source``, replacing the ENTIRE
        rollup content in one commit — the recovery path when the
        incremental base is gone (``FeedExpiredError``: snapshot
        retention overtook the view's feed cursor, so the diff the view
        needs no longer exists and replaying full state as increments
        would double-count).

        Exactly-once under the same batch-id guard as
        :meth:`apply_batch`: a crash between the rebuild commit and the
        caller's cursor commit redelivers the rebuild, which the guard
        skips (the table already holds the recomputed state)."""
        return self._fold(source, batch_id, rebuild=True)

    def _fold(self, rows: DataFrame, batch_id: int | None, rebuild: bool) -> int:
        """Aggregate ``rows`` into per-group deltas and add them to the
        stored groups of the buckets they touch — for a rebuild, to
        nothing, replacing every bucket — in one commit that records
        ``batch_id`` for the guard. Groups whose count reaches 0 are
        dropped. Untouched buckets carry over by manifest reference."""
        self.last_touched = None
        if self.table.has_committed(self.GUARD, batch_id):
            return self.table.snapshot_id  # exactly-once skip
        # cast each measure to its declared table type (count-style
        # measures stay integral; a blanket long cast would silently
        # truncate double/decimal sums per batch and drift the rollup
        # away from the from-scratch-recompute equivalence contract)
        decl = {f.name: f.dataType for f in self.table.user_schema.fields}
        bucket = bucket_expr(self.table.bucket_column, self.table.num_buckets)
        deltas = (
            rows.groupBy(*self.group_cols)
            .agg(*[
                (m.cast(decl[name]) if name in decl else m).alias(name)
                for name, m in self.measures.items()
            ])
            .withColumn(BUCKET_COL, bucket)
            .persist()
        )
        try:
            touched = {r[0] for r in deltas.select(BUCKET_COL).distinct().collect()}
            if rebuild:
                touched |= {int(b) for b in self.table.manifest["files"]}
            self.last_touched = touched = sorted(touched)
            if not touched:
                return self.table.snapshot_id
            groups = deltas.drop(BUCKET_COL)
            if not rebuild:
                groups = self.table.read(buckets=touched).unionByName(
                    groups, allowMissingColumns=True
                )
            merged = groups.groupBy(*self.group_cols).agg(*[
                (F.sum(name).cast(decl[name]) if name in decl else F.sum(name)).alias(name)
                for name in self.measures
            ])
            if self.count_col:
                merged = merged.where(F.col(self.count_col) != 0)
            merged = merged.withColumn(BUCKET_COL, bucket).repartition(
                max(len(touched) // 4, 1), F.col(BUCKET_COL)
            )
            return self.table.overwrite_buckets(
                merged,
                touched,
                properties=with_batch_id(self.table.properties, batch_id, self.GUARD),
                summary={
                    "operation": "rollup_rebuild" if rebuild else "rollup_merge",
                    "batch_id": batch_id,
                },
            )
        finally:
            deltas.unpersist()

    def read(self) -> DataFrame:
        return self.table.read()
