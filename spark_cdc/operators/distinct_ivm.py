"""Retractable COUNT DISTINCT / MIN / MAX maintenance (two-level IVM).

:mod:`spark_cdc.operators.ivm` maintains *additive* aggregates
(count/sum) under updates and deletes with plain signed sums. That
algebra cannot express the non-additive trio every analytics schema
eventually wants maintained:

- ``COUNT(DISTINCT v)`` — a second insert of an existing value must
  not increment, and a delete must only decrement when it removes the
  value's LAST occurrence;
- ``MIN(v)`` / ``MAX(v)`` — deleting the current extremum must expose
  the next-best value, which the aggregate alone no longer knows.

The reference keeps these in ClickHouse AggregatingMergeTree state
columns (``uniqExactState`` et al., merged at read time) and, like its
KPI views, only ever ingests append-only facts; under its CDC path
deletes are dropped entirely (/root/reference/stream_etl/core/
processor.py:214-217), so the problem never surfaces — the views just
drift. Here it is solved with the standard two-level construction
(DBToaster-style higher-order IVM):

- **Support table** (level 1): ``group_cols + value_col → mult``,
  where ``mult`` is the signed multiplicity of that exact value in the
  group. Maintained by the existing add-merge
  :class:`~spark_cdc.operators.rollup.IncrementalRollup` — a delete
  decrements, and rows reaching ``mult == 0`` are dropped, so the
  table is exactly the per-group multiset of live non-null values,
  bounded by the number of DISTINCT (group, value) pairs, not rows.
- **View table** (level 2): ``group_cols → (n_distinct, min_v,
  max_v)``. Its one refresh path recomputes every group of the buckets
  the batch touched from the support table and overwrites only those
  view buckets; the rest carry over by reference. ``n_distinct`` is a
  plain row count there, and min/max see every surviving value, so
  retracting the extremum is just not seeing it anymore.

Cost per maintenance step: O(change set) to merge level 1 (same
touched-bucket CoW as every rollup) plus O(support volume of touched
buckets) to refresh level 2 — the distinct values co-bucketed with the
changed groups, never the full table. Both levels bucket on the same
group hash, so the touched buckets come out of level 1's own job and
serve level 2 too, and at 100 TB the level-2 refresh is a co-located
scan with no cross-bucket exchange.

SQL semantics: ``COUNT(DISTINCT v)``, ``MIN(v)``, ``MAX(v)`` all
ignore NULLs, so null values never enter the support table, and a
group whose live rows are all-null has no view row (the oracle form is
``GROUP BY g HAVING COUNT(v) > 0``).

Duck-typed to the rollup contract (``apply_batch(signed_rows,
batch_id)`` + ``rebuild(signed_source, batch_id)``) that
:func:`~spark_cdc.operators.ivm.maintain_from_feed` drives through the
one feed step of :mod:`spark_cdc.lake.feed`, so crash-safe cursors,
``auto_rebuild`` expiry recovery, and stream attachment via
:class:`~spark_cdc.operators.ivm.MaintainedView` all apply unchanged.

Exactly-once across the two commits: level 1 is guarded by the
rollup's batch-id key, level 2 by its own ``distinct_view`` key. The
orders matter — support first, view second — so a crash between them
redelivers a batch whose support merge no-ops (guard) while the view
refresh re-runs against the already-correct support rows. The skipped
support merge does not report its buckets, so that recovery refreshes
every view bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.lake.table import BUCKET_COL, LakeTable, bucket_expr, with_batch_id
from spark_cdc.operators.ivm import SIGN_COL, signed_count
from spark_cdc.operators.rollup import IncrementalRollup

MULT_COL = "mult"


class DistinctRollup:
    """Maintains ``group_cols → (n_distinct, min_v, max_v)`` over
    ``value_col`` from a retraction stream (signed rows).

    ``support`` must be keyed ``group_cols + [value_col]`` and
    ``view`` keyed ``group_cols``; both must bucket on
    ``group_cols[0]`` with the same bucket count so a batch's touched
    buckets align across the two levels (asserted). Use
    :meth:`create` to get a correctly-shaped pair.
    """

    GUARD = "distinct_view"

    def __init__(
        self,
        support: LakeTable,
        view: LakeTable,
        group_cols: list[str],
        value_col: str,
    ):
        if value_col in group_cols:
            raise ValueError("value_col must not be a group column")
        if (
            support.bucket_column != group_cols[0]
            or view.bucket_column != group_cols[0]
            or support.num_buckets != view.num_buckets
        ):
            raise ValueError(
                "support and view must both bucket on group_cols[0] "
                "with equal num_buckets (touched buckets must align)"
            )
        self.support = support
        self.view = view
        self.group_cols = group_cols
        self.value_col = value_col
        self._level1 = IncrementalRollup(
            support,
            group_cols + [value_col],
            {MULT_COL: signed_count()},
            count_col=MULT_COL,
        )

    # ------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        support_path: str,
        view_path: str,
        group_fields: list[T.StructField],
        value_field: T.StructField,
        num_buckets: int = 32,
    ) -> "DistinctRollup":
        """Create the support/view table pair with aligned bucketing."""
        group_cols = [f.name for f in group_fields]
        support = LakeTable.create(
            spark,
            support_path,
            T.StructType(
                list(group_fields)
                + [value_field, T.StructField(MULT_COL, T.LongType(), True)]
            ),
            key_columns=group_cols + [value_field.name],
            bucket_column=group_cols[0],
            num_buckets=num_buckets,
        )
        view = LakeTable.create(
            spark,
            view_path,
            T.StructType(
                list(group_fields)
                + [
                    T.StructField("n_distinct", T.LongType(), True),
                    T.StructField("min_v", value_field.dataType, True),
                    T.StructField("max_v", value_field.dataType, True),
                ]
            ),
            key_columns=group_cols,
            bucket_column=group_cols[0],
            num_buckets=num_buckets,
        )
        return DistinctRollup(support, view, group_cols, value_field.name)

    # ------------------------------------------------------- maintenance
    def _refresh_view(self, touched: list[int], batch_id: int | None) -> int:
        """The level-2 refresh: recompute every group of the
        ``touched`` buckets from the support table and overwrite those
        view buckets, under the view's own batch-id guard. The other
        buckets carry over by reference."""
        if self.view.has_committed(self.GUARD, batch_id):
            return self.view.snapshot_id
        fresh = (
            self.support.read(buckets=touched)
            .groupBy(*self.group_cols)
            .agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.min(self.value_col).alias("min_v"),
                F.max(self.value_col).alias("max_v"),
            )
            .withColumn(
                BUCKET_COL, bucket_expr(self.group_cols[0], self.view.num_buckets)
            )
            .repartition(max(len(touched) // 4, 1), F.col(BUCKET_COL))
        )
        return self.view.overwrite_buckets(
            fresh,
            touched,
            properties=with_batch_id(self.view.properties, batch_id, self.GUARD),
            summary={"operation": "distinct_view_refresh", "batch_id": batch_id},
        )

    def apply_batch(self, signed: DataFrame, batch_id: int | None = None) -> int:
        """Fold one signed-rows batch (see
        :func:`~spark_cdc.operators.ivm.signed_rows`) through both
        levels. Returns the view table's snapshot id."""
        signed = signed.where(F.col(self.value_col).isNotNull()).select(
            *self.group_cols, self.value_col, SIGN_COL
        )
        self._level1.apply_batch(signed, batch_id=batch_id)
        # the levels share bucketing, so the buckets level 1 touched are
        # the view buckets to refresh
        touched = self._level1.last_touched
        if touched is None:
            # level 1 skipped a redelivered batch; a crash may have come
            # before the view commit, so refresh every bucket
            touched = self._all_buckets()
        if not touched:
            return self.view.snapshot_id
        return self._refresh_view(touched, batch_id)

    def rebuild(self, source: DataFrame, batch_id: int | None = None) -> int:
        """From-scratch recompute (feed-expiry recovery); ``source``
        carries ``_sign`` like the incremental path (all +1 when called
        from :func:`~spark_cdc.operators.ivm.rebuild_view`)."""
        source = source.where(F.col(self.value_col).isNotNull()).select(
            *self.group_cols, self.value_col, SIGN_COL
        )
        self._level1.rebuild(source, batch_id=batch_id)
        touched = self._all_buckets()
        if not touched:
            return self.view.snapshot_id
        return self._refresh_view(touched, batch_id)

    def _all_buckets(self) -> list[int]:
        return sorted(
            {int(b) for t in (self.support, self.view) for b in t.manifest["files"]}
        )

    # -------------------------------------------------------------- read
    def read(self) -> DataFrame:
        return self.view.read()

    def topk_values(self, k: int) -> DataFrame:
        """Exact top-``k`` most frequent live values per group —
        ``(group_cols..., value_col, mult, rank)``.

        The reference exposes this as ClickHouse's approximate
        ``topK()`` combinator; here the level-1 support table already
        IS the per-group multiset of live values with multiplicities
        (delete-correct, unlike a frozen sketch), so serving exact
        heavy hitters is one partitioned window over it — grouped by
        the group key, never a global sort. Ties break on value order
        for determinism."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.group_cols).orderBy(
            F.desc(MULT_COL), F.asc(self.value_col)
        )
        return (
            self.support.read()
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(*self.group_cols, self.value_col, MULT_COL, "rank")
        )

    def quantile_values(self, probs: list[float]) -> DataFrame:
        """Exact per-group discrete quantiles of the live value
        multiset — ``(group_cols..., q<prob> ...)``, one column per
        requested probability.

        The reference serves these as ClickHouse ``quantileExact``
        (which buffers every value per group and cannot retract); here
        the support table already holds the sorted-value multiset as
        (value, multiplicity) rows, so quantile q is the smallest
        value whose cumulative multiplicity reaches ``ceil(q·n)`` —
        one grouped cumulative window (never a global sort, state
        bounded by distinct values, correct under deletes). q=0 is the
        minimum, q=1 the maximum; groups are the same ≥1-non-null-
        value set as :meth:`read`.
        """
        if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
            raise ValueError("probs must be non-empty, each in [0, 1]")
        from pyspark.sql.window import Window

        per_group = Window.partitionBy(*self.group_cols)
        cum_w = per_group.orderBy(self.value_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        sup = (
            self.support.read()
            .withColumn("_cum", F.sum(MULT_COL).over(cum_w))
            .withColumn("_total", F.sum(MULT_COL).over(per_group))
        )

        def col_name(p: float) -> str:
            return "q" + f"{p:g}".replace(".", "_")

        aggs = [
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.greatest(
                        F.ceil(F.lit(float(p)) * F.col("_total")), F.lit(1)
                    ),
                    F.col(self.value_col),
                )
            ).alias(col_name(p))
            for p in probs
        ]
        return sup.groupBy(*self.group_cols).agg(*aggs)
