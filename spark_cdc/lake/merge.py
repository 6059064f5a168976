"""Exactly-once MERGE of a change batch into a LakeTable.

Semantics (the explicit re-implementation of ClickHouse
``ReplacingMergeTree(updated_at)`` latest-version-wins,
/root/reference/etl/clickhouse_schema/init.sql:14,28, plus the op
routing of /root/reference/stream_etl/core/processor.py:186-217 —
with deletes handled properly where the reference dropped them,
processor.py:214-217):

- every change competes for its key under the one version order,
  :data:`spark_cdc.lake.table.VERSION_ORDER`: (ts, op_seq, gen, lsn),
  nulls losing. The batch carries gen = snapshot_id + 1, so it wins
  exact (ts, op_seq) ties against stored rows, and lsn orders the
  versions within the batch;
- an *older* change never overwrites a newer stored row or a newer
  stored tombstone, which makes re-applying any batch idempotent
  (exactly-once under at-least-once delivery);
- a winning ``op='d'`` leaves a tombstone; ``c``/``r``/``u`` upsert.

Physical strategy: one plan builder, :func:`_merge_plan`, for both
modes. It is one SQL text over the batch (and the target) passed as
named DataFrame arguments, so a batch costs one parse/analyze pass on
the driver where the DataFrame API analyzes once per transformation.

- The batch is normalised to the stored row shape: bucket, payload
  (typed nulls for columns added after it was produced), the hidden
  version columns, gen and lsn.
- ``cow`` adds the stored rows of the touched buckets and rewrites
  those buckets; every other bucket carries over by reference, so
  MERGE cost ∝ |changed conversations|, not |table|. ``mor`` adds
  nothing: the resolved batch is appended as delta files, which reads
  resolve until ``maintenance.compact`` folds them.
- One ``REPARTITION(min(|touched|, parallelism), bucket)`` feeds one
  ``groupBy(bucket, key)`` ``max_by``, the resolver
  :func:`spark_cdc.lake.table.latest_sql` that the MoR read and the
  feed diff share (compaction runs its Arrow twin, ``latest_arrow``).
  The bucket is a function of the key, so the shuffle on the bucket
  satisfies the grouping: the plan is join-free with one exchange,
  and each write task holds whole buckets. `spark_cdc.cdc.dedup` ships a salted two-phase variant,
  proven equivalent in tests, for engines that want the salt spelled
  out.
- Touched buckets: with ``collect_stats`` a pre-pass job over the raw
  batch computes the batch stats, the per-input-partition lineage and
  the buckets its keys hash to, which prune the CoW target read.
  Without it CoW reads every bucket and MoR takes them from the files
  it wrote.
- On a real cluster the same call becomes Iceberg
  ``MERGE INTO t USING s ON t.conv_id=s.conv_id AND
  t.turn_idx=s.turn_idx WHEN MATCHED AND s.op='d' THEN DELETE
  WHEN MATCHED AND (s.ts, s.op_seq) > (t._v_ts, t._v_seq) THEN UPDATE
  SET * WHEN NOT MATCHED AND s.op<>'d' THEN INSERT *``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from spark_cdc.lake.table import (
    BUCKET_COL,
    HIDDEN_COLS,
    V_DEL,
    V_GEN,
    V_LSN,
    V_SEQ,
    V_TS,
    LakeTable,
    _bq,
    latest_sql,
    with_batch_id,
)

ENVELOPE_COLS = ("op", "lsn", "op_seq")


@dataclass
class MergeResult:
    """What one :func:`merge_changes` call did. ``touched_buckets`` are
    the buckets this commit wrote (CoW: rewrote; MoR: appended deltas
    to); ``rows_written``/``files_written`` count its new files. The
    batch fields (``batch_rows``, ``batch_keys``, the lsn range,
    ``partition_lineage``) come from the ``collect_stats`` pre-pass
    and are -1/None/empty without it."""

    snapshot_id: int
    skipped: bool = False
    touched_buckets: list[int] = field(default_factory=list)
    rows_written: int = 0
    files_written: int = 0
    batch_rows: int = 0
    batch_keys: int = 0
    min_lsn: int | None = None
    max_lsn: int | None = None
    wall_ms: float = 0.0
    partition_lineage: list[dict[str, Any]] = field(default_factory=list)
    # per-phase wall times: stats_ms (batch stats/lineage pre-pass, 0
    # without collect_stats), exec_ms (the write action executing the
    # full resolve plan), commit_ms (manifest fsync + pointer swap),
    # plan_ms (driver-side plan construction = the py4j remainder)
    phases: dict[str, float] = field(default_factory=dict)


def merge_changes(
    table: LakeTable,
    changes: DataFrame,
    batch_id: int | None = None,
    source_id: str = "default",
    collect_lineage: bool = True,
    collect_stats: bool = True,
    mode: str = "cow",
    extra_properties: dict | None = None,
) -> MergeResult:
    """Apply a CDC change batch to ``table``. Returns merge stats.

    ``changes`` carries the payload columns plus the envelope: ``op``
    (``'d'`` deletes; ``c``/``r``/``u`` upsert), ``ts`` and ``op_seq``
    (the version) and, optionally, ``lsn`` (the tie-break within the
    batch). Payload columns the table lacks are added to its schema
    (nullable; older rows read them as null).

    ``mode``:

    - ``"cow"`` (copy-on-write, default): touched buckets are resolved
      against the batch and rewritten — reads stay single-version and
      cheap; ingest cost ∝ touched-bucket data.
    - ``"mor"`` (merge-on-read): the deduped batch is appended as delta
      files — ingest cost ∝ batch only (the 10^10-event ingest mode);
      reads of flagged buckets resolve latest-version on the fly until
      ``maintenance.compact`` folds them. Same final-state semantics
      (tested equal to cow).

    ``collect_stats`` runs the pre-pass job that fills ``batch_rows``,
    ``batch_keys``, the lsn range and (with ``collect_lineage``) the
    per-input-partition lineage, and lets CoW read only the buckets the
    batch touches. Without it those fields are -1/None, CoW rewrites
    every bucket and the merge is one Spark job: turn it off for MoR
    backfills, keep it for targeted streaming batches where bucket
    pruning pays. ``touched_buckets``, ``rows_written`` and
    ``files_written`` are reported either way.

    Exactly-once: when ``batch_id`` is given and ≤ the last committed
    batch id for ``source_id`` (stored in snapshot properties — the
    Delta ``txnAppId``/``txnVersion`` idempotent-sink pattern), the
    batch is skipped entirely: a foreachBatch retry after a successful
    commit is a no-op.

    ``extra_properties`` rides in the SAME snapshot commit as the data
    (skipped batches update nothing) — the hook maintained indexes use
    to keep derived scalars (e.g. BM25 corpus stats) transactionally
    consistent with their postings, the way Iceberg snapshot summary
    properties travel with a commit.
    """
    t0 = time.monotonic()
    keys = table.key_columns
    if not keys:
        raise ValueError("merge_changes requires a keyed table")
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r} (expected 'cow' or 'mor')")

    if table.has_committed(source_id, batch_id):
        return MergeResult(snapshot_id=table.snapshot_id, skipped=True)

    # -- schema evolution: payload columns not yet in the table schema
    known = {f.name for f in table.schema.fields}
    new_fields = [
        f
        for f in changes.schema.fields
        if f.name not in known and f.name not in ENVELOPE_COLS
    ]
    if new_fields:
        table.add_columns([type(f)(f.name, f.dataType, True) for f in new_fields])

    stats_ms = 0.0
    batch_rows = batch_keys = -1
    min_lsn = max_lsn = None
    lineage: list[dict[str, Any]] = []
    touched = list(range(table.num_buckets))
    if collect_stats:
        t_stats = time.monotonic()
        stat_rows = _batch_stats(table, changes, collect_lineage)
        batch_keys = sum(r["keys"] for r in stat_rows)
        if batch_keys == 0:
            res = MergeResult(snapshot_id=table.snapshot_id)
            res.wall_ms = (time.monotonic() - t0) * 1000
            if batch_id is not None:
                table.set_properties(with_batch_id(table.properties, batch_id, source_id))
            return res
        batch_rows = sum(r["rows"] or 0 for r in stat_rows)
        lsns = [r["min_lsn"] for r in stat_rows if r["min_lsn"] is not None]
        min_lsn = min(lsns) if lsns else None
        lsns = [r["max_lsn"] for r in stat_rows if r["max_lsn"] is not None]
        max_lsn = max(lsns) if lsns else None
        touched = sorted({int(b) for r in stat_rows for b in r["buckets"]})
        if collect_lineage:
            lineage = [
                {k: r[k] for k in ("_pid", "rows", "keys", "min_lsn", "max_lsn")}
                for r in stat_rows
            ]
        stats_ms = (time.monotonic() - t_stats) * 1000

    plan = _merge_plan(table, changes, mode, touched)
    props = with_batch_id(
        {**table.properties, **(extra_properties or {})}, batch_id, source_id
    )
    summary = {
        "operation": "merge_mor" if mode == "mor" else "merge",
        "batch_id": batch_id,
        "source_id": source_id,
        "batch_rows": int(batch_rows),
        "batch_keys": int(batch_keys),
        "min_lsn": min_lsn,
        "max_lsn": max_lsn,
    }
    if mode == "mor":
        summary["partition_lineage"] = lineage
        snap_id = table.append_deltas(plan, properties=props, summary=summary)
        touched = table.last_write_buckets
    else:
        summary.update(touched_buckets=touched, partition_lineage=lineage)
        snap_id = table.overwrite_buckets(plan, touched, props, summary)

    res = MergeResult(
        snapshot_id=snap_id,
        touched_buckets=touched,
        rows_written=table.last_write_rows,
        files_written=table.last_write_files,
        batch_rows=int(batch_rows),
        batch_keys=int(batch_keys),
        min_lsn=min_lsn,
        max_lsn=max_lsn,
        partition_lineage=lineage,
    )
    res.wall_ms = (time.monotonic() - t0) * 1000
    res.phases = _phases(stats_ms, table, res.wall_ms)
    return res


def _bucket_sql(table: LakeTable) -> str:
    """SQL twin of :func:`spark_cdc.lake.table.bucket_expr`."""
    return (
        f"CAST(pmod(xxhash64({_bq(table.bucket_column)}), "
        f"{int(table.num_buckets)}) AS INT)"
    )


def _merge_plan(
    table: LakeTable,
    changes: DataFrame,
    mode: str,
    touched: list[int],
) -> DataFrame:
    """The one merge plan (see the module docstring): the batch as
    stored rows of generation snapshot_id + 1, plus in ``cow`` mode the
    stored rows of ``touched``, shuffled once on the bucket and
    resolved to the latest version per key."""
    spark = changes.sparkSession
    cols = set(changes.columns)
    user = table.user_schema.fields
    names = [f.name for f in user]
    bucket = f"{_bucket_sql(table)} AS {_bq(BUCKET_COL)}"

    def batch_col(f) -> str:
        # a typed null for a column added after the batch was produced
        raw = _bq(f.name) if f.name in cols else f"CAST(NULL AS {f.dataType.simpleString()})"
        return f"{raw} AS {_bq(f.name)}"

    lsn = "CAST(lsn AS BIGINT)" if "lsn" in cols else "CAST(NULL AS BIGINT)"
    rows = f"""
        SELECT {bucket}, {', '.join(batch_col(f) for f in user)},
               CAST(ts AS TIMESTAMP) AS {_bq(V_TS)},
               coalesce(CAST(op_seq AS BIGINT), CAST(-1 AS BIGINT)) AS {_bq(V_SEQ)},
               (op = 'd') AS {_bq(V_DEL)},
               CAST({{gen}} AS BIGINT) AS {_bq(V_GEN)},
               {lsn} AS {_bq(V_LSN)}
        FROM {{src}}"""
    args: dict[str, Any] = {"src": changes, "gen": table.snapshot_id + 1}
    if mode == "cow":
        stored = ", ".join(_bq(c) for c in [*names, *HIDDEN_COLS])
        rows += f"""
        UNION ALL
        SELECT {bucket}, {stored}, CAST(NULL AS BIGINT) FROM {{tgt}}"""
        # read in the batch's session: a streaming micro-batch has its
        # own, and the SQL text sees only that session's views
        args["tgt"] = LakeTable(spark, table.path, table.manifest).read(
            buckets=touched, include_hidden=True, resolve=False
        )
    columns = [BUCKET_COL, *names, *HIDDEN_COLS, V_LSN]
    partitions = min(len(touched), max(spark.sparkContext.defaultParallelism, 1))
    return spark.sql(
        latest_sql(f"({rows})", columns, table.key_columns, partitions), **args
    )


def _batch_stats(table: LakeTable, changes: DataFrame, lineage: bool) -> list:
    """The stats/lineage pre-pass over the raw batch rows: per input
    partition (one row when ``lineage`` is off) the rows and keys it
    contributes and their lsn range, with each key counted in the first
    input partition that carries it, plus the buckets the keys hash
    to."""
    keys = ", ".join(_bq(k) for k in table.key_columns)
    pid = "spark_partition_id()" if lineage else "0"
    lsn = "lsn" if "lsn" in changes.columns else "CAST(NULL AS BIGINT)"
    return changes.sparkSession.sql(
        f"""
        SELECT __pid AS _pid, sum(__n) AS `rows`, count(1) AS `keys`,
               min(__lo) AS min_lsn, max(__hi) AS max_lsn,
               collect_set(__b) AS buckets
        FROM (
          SELECT min(__pid) AS __pid, count(1) AS __n, min(__l) AS __lo,
                 max(__l) AS __hi, min(__b) AS __b
          FROM (SELECT {keys}, {pid} AS __pid, {lsn} AS __l,
                       {_bucket_sql(table)} AS __b FROM {{src}})
          GROUP BY {keys}
        )
        GROUP BY __pid""",
        src=changes,
    ).collect()


def _phases(stats_ms: float, table: LakeTable, wall_ms: float) -> dict[str, float]:
    """Per-phase breakdown of one merge: the residual (plan_ms) is
    driver-side py4j plan construction + scheduling."""
    exec_ms = getattr(table, "last_write_ms", 0.0)
    commit_ms = getattr(table, "last_commit_ms", 0.0)
    return {
        "stats_ms": round(stats_ms, 1),
        "exec_ms": round(exec_ms, 1),
        "commit_ms": round(commit_ms, 1),
        "plan_ms": round(max(wall_ms - stats_ms - exec_ms - commit_ms, 0.0), 1),
    }
