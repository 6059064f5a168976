"""Dead-letter routing for malformed change events (SURVEY.md §4 trap 3).

The reference *fabricated* data on parse failure — ``_parse_numeric``
falls back to ``1.0`` (/root/reference/stream_etl/core/processor.py:66-68)
— so malformed rows silently became plausible-looking facts. This
engine's policy is the opposite: tolerant parsers yield **null**
(spark_cdc/functions/parsers.py), and this module routes rows that
violate envelope invariants into a quarantine lake table with full
source lineage (source_id, batch_id, reason, the raw row as JSON)
instead of letting them reach the main table or be silently dropped.

The split is one declarative projection (a CASE chain over boolean
rules) evaluated once; good rows continue into the merge, bad rows are
appended to the quarantine table — both sides of one plan, no per-row
Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.lake.table import LakeTable, with_batch_id

REASON_COL = "_q_reason"

QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), True),
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("reason", T.StringType(), False),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("op_seq", T.LongType(), True),
        T.StructField("raw", T.StringType(), True),  # offending row as JSON
    ]
)

VALID_OPS = ("c", "r", "u", "d")


def default_envelope_rules(key_columns: list[str]) -> list[tuple[str, Column]]:
    """Ordered (reason, is_bad) rules for the CDC envelope — first
    matching reason wins. Violations the merge cannot repair:

    - a null merge key can never be upserted correctly;
    - an unknown op would be mis-routed;
    - a null version timestamp breaks latest-version-wins ordering
      (the reference's row would have been inserted with a fabricated
      ``now()``; we quarantine instead).
    """
    rules: list[tuple[str, Column]] = [
        (f"null_key:{k}", F.col(k).isNull()) for k in key_columns
    ]
    rules.append(
        ("invalid_op", ~F.coalesce(F.col("op"), F.lit("c")).isin(*VALID_OPS))
    )
    rules.append(("unparseable_ts", F.col("ts").isNull()))
    return rules


def split_quarantine(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (good, bad) by the first matching rule; ``bad``
    carries ``_q_reason``. One projection, evaluated inside whatever
    plan consumes each side."""
    reason = F.lit(None).cast("string")
    for name, is_bad in reversed(rules):
        reason = F.when(is_bad, F.lit(name)).otherwise(reason)
    flagged = df.withColumn(REASON_COL, reason)
    good = flagged.where(F.col(REASON_COL).isNull()).drop(REASON_COL)
    bad = flagged.where(F.col(REASON_COL).isNotNull())
    return good, bad


class DeadLetterSink:
    """Quarantine lake table: append-only, queryable like any other
    table (``sink.read()``), so operators can inspect / replay
    dead-lettered rows after fixing the producer."""

    def __init__(self, spark: SparkSession, path: str):
        import threading

        if LakeTable.exists(path):
            self.table = LakeTable.load(spark, path)
        else:
            self.table = LakeTable.create(spark, path, QUARANTINE_SCHEMA)
        # One sink serves every table of a routed batch, and the router
        # merges tables from a thread pool — serialize appends so two
        # threads can't both commit snapshot N+1 over the same parent.
        self._lock = threading.Lock()

    def record(
        self,
        bad: DataFrame,
        source_id: str = "default",
        batch_id: int | None = None,
    ) -> int:
        """Append flagged rows (from :func:`split_quarantine`) with
        lineage. The raw row is preserved verbatim as JSON — zero data
        loss, zero fabrication. Clean batches (the common case) commit
        nothing: the emptiness probe is a LIMIT-1 scan, far cheaper
        than snapshot churn on every micro-batch.

        Exactly-once like the merge itself: a redelivered ``batch_id``
        (foreachBatch retry) is skipped via the same snapshot-property
        guard — keyed **per source_id**, so a router fanning one batch
        out to many tables must pass each table its own source id (see
        :func:`spark_cdc.cdc.apply.apply_batch_routed`)."""
        if self.table.has_committed(source_id, batch_id):
            return self.table.snapshot_id
        if bad.isEmpty():
            # nothing written → nothing a redelivery could duplicate;
            # skipping the bookkeeping commit keeps clean batches free
            return self.table.snapshot_id
        payload_cols = [c for c in bad.columns if c != REASON_COL]
        out = bad.select(
            F.lit(source_id).alias("source_id"),
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col(REASON_COL).alias("reason"),
            *(
                [F.col("lsn").cast("long").alias("lsn")]
                if "lsn" in bad.columns
                else [F.lit(None).cast("long").alias("lsn")]
            ),
            *(
                [F.col("op_seq").cast("long").alias("op_seq")]
                if "op_seq" in bad.columns
                else [F.lit(None).cast("long").alias("op_seq")]
            ),
            F.to_json(F.struct(*[F.col(c) for c in payload_cols])).alias("raw"),
        )
        with self._lock:
            # re-check under the lock: a concurrent thread with the
            # same source_id (stream retry racing) may have committed
            if self.table.has_committed(source_id, batch_id):
                return self.table.snapshot_id
            return self.table.append(
                out,
                summary={"operation": "quarantine", "source_id": source_id, "batch_id": batch_id},
                properties=with_batch_id(self.table.properties, batch_id, source_id),
            )

    def read(self) -> DataFrame:
        return self.table.read()


def replay_quarantined(
    sink: DeadLetterSink,
    table: LakeTable,
    fixes: dict[str, Column] | None = None,
    reasons: list[str] | None = None,
    source_id: str = "quarantine_replay",
    batch_id: int | None = None,
    **merge_kwargs,
):
    """Re-ingest dead-lettered rows into ``table`` after correction —
    the recovery half of the dead-letter contract (rows were preserved
    verbatim precisely so they can be replayed once the producer or a
    ``fixes`` transformation repairs them).

    ``fixes`` maps column → replacement Column expression applied after
    the raw JSON is re-parsed (e.g. backfill a null ``ts`` from an
    ingest-time default). ``reasons`` filters which dead-letter classes
    to attempt. Rows still violating the envelope rules after fixing
    are NOT merged and NOT duplicated into the sink; their count is
    returned so the operator can alert instead of looping.

    Returns ``(MergeResult, still_bad_count)``.
    """
    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import RAW_JSON_SCHEMA, normalize_envelope

    bad = sink.read()
    if reasons:
        bad = bad.where(F.col("reason").isin(reasons))
    env = normalize_envelope(
        bad.select(F.from_json(F.col("raw"), RAW_JSON_SCHEMA).alias("e")).select("e.*")
    )
    for c, expr in (fixes or {}).items():
        env = env.withColumn(c, expr)
    rules = default_envelope_rules(table.key_columns)
    good, still_bad = split_quarantine(env, rules)
    n_still_bad = still_bad.count()
    res = apply_batch(
        table, good, batch_id=batch_id, source_id=source_id, **merge_kwargs
    )
    return res, n_still_bad
