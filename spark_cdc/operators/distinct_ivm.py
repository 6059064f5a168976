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
  max_v)`` recomputed *only for buckets touched by the batch* from the
  support table — ``n_distinct`` is a plain row count there, and
  min/max see every surviving value, so retracting the extremum is
  just not seeing it anymore.

Cost per maintenance step: O(change set) to merge level 1 (same
touched-bucket CoW as every rollup) plus O(support volume of touched
buckets) to refresh level 2 — the distinct values co-bucketed with the
changed groups, never the full table. At 100 TB both levels shuffle on
the same group-hash bucketing, so the level-2 refresh is a co-located
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
refresh re-runs against the already-correct support rows.
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
        refresh: str = "auto",
    ):
        if value_col in group_cols:
            raise ValueError("value_col must not be a group column")
        if refresh not in ("auto", "merge", "overwrite"):
            raise ValueError("refresh must be 'auto', 'merge' or 'overwrite'")
        # 'merge': recompute ONLY the batch's groups and MERGE
        # them into the view — O(batch groups), the right shape when
        # polls are narrow relative to the accumulated table (the
        # steady-state CDC regime: the table grows without bound, the
        # poll doesn't). 'overwrite': recompute every group co-bucketed
        # with a change and blind-overwrite those view buckets — no
        # view-side read/dedup, so it wins when nearly every group is
        # touched every poll (small-cardinality fixtures, full-corpus
        # recomputes). Both are exactly-once under the same guard key
        # and can be switched between polls. 'auto' (default) picks per
        # poll from the observed touched-group fraction: the batch's
        # distinct-group count comes out of the same aggregation job
        # that finds the touched buckets, and the view's current group
        # count is a parquet-footer sum over its manifest (no Spark
        # job) — when the batch touches ≥ half the view's groups the
        # merge path's view-side read+dedup buys no pruning and the
        # overwrite path wins (round-6 bench: distinct_ivm_ms drifted
        # 4.4→7.6s on the wide-batch fixture under 'merge').
        self.refresh = refresh
        self.last_refresh_mode: str | None = None
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
        refresh: str = "auto",
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
        return DistinctRollup(
            support, view, group_cols, value_field.name, refresh=refresh
        )

    # ------------------------------------------------------- maintenance
    def _batch_stats(self, signed: DataFrame) -> tuple[list[int], int]:
        """(touched buckets, distinct batch groups) in ONE aggregation
        job — the group count feeds the auto refresh-mode decision at
        no extra Spark job over a bucket-only collect."""
        row = signed.agg(
            F.collect_set(
                bucket_expr(self.group_cols[0], self.view.num_buckets)
            ).alias("b"),
            F.count_distinct(*[F.col(c) for c in self.group_cols]).alias("g"),
        ).first()
        return sorted(int(b) for b in (row["b"] or [])), int(row["g"] or 0)

    def _view_rows(self) -> int:
        """Current view row count from parquet footers — a manifest
        walk, zero Spark jobs (the view is CoW single-version, so
        footer rows ≈ live groups; the handful of tombstone rows only
        make the auto decision marginally more conservative)."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return 0
        n = 0
        import os

        for fl in self.view.manifest["files"].values():
            for rel in fl:
                try:
                    n += pq.read_metadata(
                        os.path.join(self.view.path, rel)
                    ).num_rows
                except Exception:
                    continue
        return n

    def _merge_view(
        self, touched: list[int], groups: DataFrame, batch_id: int | None
    ) -> int:
        """Group-pruned level-2 refresh: recompute ONLY the batch's
        distinct groups from the (already-merged) support rows and
        MERGE them into the view — upsert for groups that still have
        live values, delete for groups whose support vanished. The
        full-bucket overwrite this replaces rewrote every view row
        co-bucketed with a change, so a diverse batch re-aggregated
        and re-wrote the WHOLE view each poll; now the aggregate's
        shuffle and the write are bounded by the batch's group set
        (bucket-file I/O stays the floor — level 1's CoW merge reads
        those same files anyway). Exactly-once rides the merge's own
        per-source batch-id guard (source_id=``GUARD``)."""
        from spark_cdc.cdc.apply import apply_batch as _apply

        agg = (
            self.support.read(buckets=touched)
            .join(groups, self.group_cols, "leftsemi")
            .groupBy(*self.group_cols)
            .agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.min(self.value_col).alias("min_v"),
                F.max(self.value_col).alias("max_v"),
            )
        )
        changes = groups.join(agg, self.group_cols, "left").select(
            F.lit(0).cast("long").alias("lsn"),
            F.lit(1).cast("long").alias("op_seq"),
            F.when(F.col("n_distinct").isNull(), F.lit("d"))
            .otherwise(F.lit("c"))
            .alias("op"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
            *self.group_cols,
            "n_distinct",
            "min_v",
            "max_v",
        )
        res = _apply(
            self.view,
            changes,
            batch_id=batch_id,
            source_id=self.GUARD,
            collect_lineage=False,
            collect_stats=False,
            evolve_schema=False,
        )
        return res.snapshot_id

    def _refresh_view(self, touched: list[int], batch_id: int | None) -> int:
        """Full recompute of level 2 for ``touched`` buckets from the
        support table (rebuild path; its own batch-id guard)."""
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
        touched, n_batch_groups = self._batch_stats(signed)
        if not touched:
            return self.view.snapshot_id
        mode = self.refresh
        if mode == "auto":
            # overwrite when the batch touches at least half the view's
            # groups (or the view is empty — bootstrap): at that
            # fraction the merge path's per-group pruning no longer
            # narrows the refresh, it just adds a view read + dedup
            view_groups = self._view_rows()
            mode = (
                "overwrite"
                if view_groups == 0 or n_batch_groups * 2 >= view_groups
                else "merge"
            )
        self.last_refresh_mode = mode
        groups = signed.select(*self.group_cols).distinct()
        self._level1.apply_batch(signed, batch_id=batch_id)
        if mode == "overwrite":
            return self._refresh_view(touched, batch_id)
        return self._merge_view(touched, groups, batch_id)

    def rebuild(self, source: DataFrame, batch_id: int | None = None) -> int:
        """From-scratch recompute (feed-expiry recovery); ``source``
        carries ``_sign`` like the incremental path (all +1 when called
        from :func:`~spark_cdc.operators.ivm.rebuild_view`)."""
        source = source.where(F.col(self.value_col).isNotNull()).select(
            *self.group_cols, self.value_col, SIGN_COL
        )
        self._level1.rebuild(source, batch_id=batch_id)
        touched = sorted(
            {int(b) for b in self.support.manifest["files"]}
            | {int(b) for b in self.view.manifest["files"]}
        )
        if not touched:
            return self.view.snapshot_id
        return self._refresh_view(touched, batch_id)

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
