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

Physical strategy: one Spark job shuffles the batch once on the bucket,
and the per-bucket kernel that compaction also runs,
:func:`spark_cdc.lake.maintenance.rewrite_bucket`, resolves and writes
each bucket in a Python worker; the driver only registers the files
and commits. Both modes run it:

- One SQL text over the batch, passed as a named DataFrame argument,
  brings it to the stored row shape: bucket, payload (typed nulls for
  columns added after it was produced), the hidden version columns,
  gen and lsn.
- ``repartition(min(num_buckets, parallelism), bucket)`` then
  ``mapInArrow``: each task concatenates its partition's batch rows
  and rewrites one bucket at a time, keeping the latest version of
  each key with ``latest_arrow``, the Arrow twin of the resolver
  ``latest_sql`` that the MoR read and the feed diff run in Spark.
  Only (bucket, file path) comes back.
- ``mor`` gives the kernel the batch rows only: the resolved batch is
  appended as delta files, which reads resolve until
  ``maintenance.compact`` folds them. ``cow`` also gives it the stored
  files of each bucket the batch has rows for, and replaces exactly
  the buckets that came back; every other bucket carries over by
  reference, so MERGE cost ∝ |changed conversations|, not |table|.
- ``collect_stats`` adds a pre-pass job over the raw batch for the
  batch stats and the per-input-partition lineage. Touched buckets are
  observed from the files written, in both modes.
- On a real cluster the same call becomes Iceberg
  ``MERGE INTO t USING s ON t.conv_id=s.conv_id AND
  t.turn_idx=s.turn_idx WHEN MATCHED AND s.op='d' THEN DELETE
  WHEN MATCHED AND (s.ts, s.op_seq) > (t._v_ts, t._v_seq) THEN UPDATE
  SET * WHEN NOT MATCHED AND s.op<>'d' THEN INSERT *``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from spark_cdc.lake.maintenance import bucket_spec, rewrite_bucket
from spark_cdc.lake.table import (
    BUCKET_COL,
    V_DEL,
    V_GEN,
    V_LSN,
    V_SEQ,
    V_TS,
    LakeTable,
    _bq,
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
    # without collect_stats), exec_ms (the job resolving and writing the
    # buckets, plus the footer reads), commit_ms (manifest fsync + pointer swap),
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
    per-input-partition lineage, and skips the merge of an empty batch.
    Without it those fields are -1/None and the merge is one Spark job:
    turn it off for MoR backfills. ``touched_buckets``,
    ``rows_written`` and ``files_written`` are reported either way: the
    buckets the batch has rows for are the buckets written.

    Memory bound: a merge task holds its partition's batch rows (about
    ``|batch| / min(num_buckets, parallelism)``), plus in CoW mode one
    bucket's stored rows, in a Python worker's memory, with no spill.

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
        if collect_lineage:
            lineage = [
                {k: r[k] for k in ("_pid", "rows", "keys", "min_lsn", "max_lsn")}
                for r in stat_rows
            ]
        stats_ms = (time.monotonic() - t_stats) * 1000

    t_exec = time.monotonic()
    written = [(r["bucket"], r["path"]) for r in _merge_plan(table, changes, mode).collect()]
    new_files = {str(b): [rel] for b, rel in written if rel is not None}
    table.register_files(new_files)
    touched = sorted(b for b, _ in written)
    exec_ms = (time.monotonic() - t_exec) * 1000
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
        "touched_buckets": touched,
        "partition_lineage": lineage,
    }
    if mode == "mor":
        snap_id = table.append_deltas(new_files, props, summary)
    else:
        snap_id = table.replace_buckets(new_files, touched, props, summary)

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
    commit_ms = table.last_commit_ms
    # the residual (plan_ms) is driver-side py4j plan construction and
    # scheduling
    plan_ms = max(res.wall_ms - stats_ms - exec_ms - commit_ms, 0.0)
    res.phases = {
        "stats_ms": round(stats_ms, 1),
        "exec_ms": round(exec_ms, 1),
        "commit_ms": round(commit_ms, 1),
        "plan_ms": round(plan_ms, 1),
    }
    return res


def _bucket_sql(table: LakeTable) -> str:
    """SQL twin of :func:`spark_cdc.lake.table.bucket_expr`."""
    return (
        f"CAST(pmod(xxhash64({_bq(table.bucket_column)}), "
        f"{int(table.num_buckets)}) AS INT)"
    )


def _merge_plan(table: LakeTable, changes: DataFrame, mode: str) -> DataFrame:
    """The merge's one Spark job (see the module docstring): the batch
    as stored rows of generation snapshot_id + 1, shuffled once on the
    bucket, and each bucket it has rows for rewritten by
    :func:`rewrite_bucket`, with the bucket's stored files in ``cow``
    mode. Collecting it writes the files and returns (bucket, relative
    path or None) per written bucket."""
    cols = set(changes.columns)
    user = table.user_schema.fields
    names = [BUCKET_COL, *(f.name for f in user), V_TS, V_SEQ, V_DEL, V_GEN, V_LSN]
    exprs = [
        _bucket_sql(table),
        # a typed null for a column added after the batch was produced
        *(_bq(f.name) if f.name in cols else f"CAST(NULL AS {f.dataType.simpleString()})"
          for f in user),
        "CAST(ts AS TIMESTAMP)",
        "coalesce(CAST(op_seq AS BIGINT), CAST(-1 AS BIGINT))",
        "(op = 'd')",
        "CAST({gen} AS BIGINT)",
        "CAST(lsn AS BIGINT)" if "lsn" in cols else "CAST(NULL AS BIGINT)",
    ]
    # positional names across the Python boundary: mapInArrow resolves
    # each column by its name, which fails on names that need quoting
    select = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    rows = changes.sparkSession.sql(
        f"SELECT {select} FROM {{src}}", src=changes, gen=table.snapshot_id + 1
    )
    spec = bucket_spec(table)
    stored = {
        int(b): [os.path.join(table.path, f) for f in fl]
        for b, fl in table.manifest["files"].items()
    } if mode == "cow" else {}

    def rewrite(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(batches)
        if not batches:
            return
        data = pa.Table.from_batches(batches).rename_columns(names)
        col = data.column(BUCKET_COL)
        done = [
            rewrite_bucket(spec, b, stored.get(b, []), data.filter(pc.equal(col, b)))
            for b in pc.unique(col).to_pylist()
        ]
        yield pa.RecordBatch.from_arrays(
            [pa.array([b for b, _ in done], pa.int32()), pa.array([r for _, r in done], pa.string())],
            names=["bucket", "path"],
        )

    n = min(table.num_buckets, max(changes.sparkSession.sparkContext.defaultParallelism, 1))
    return rows.repartition(n, "c0").mapInArrow(rewrite, "bucket int, path string")


def _batch_stats(table: LakeTable, changes: DataFrame, lineage: bool) -> list:
    """The stats/lineage pre-pass over the raw batch rows: per input
    partition (one row when ``lineage`` is off) the rows and keys it
    contributes and their lsn range, with each key counted in the first
    input partition that carries it."""
    keys = ", ".join(_bq(k) for k in table.key_columns)
    pid = "spark_partition_id()" if lineage else "0"
    lsn = "lsn" if "lsn" in changes.columns else "CAST(NULL AS BIGINT)"
    return changes.sparkSession.sql(
        f"""
        SELECT __pid AS _pid, sum(__n) AS `rows`, count(1) AS `keys`,
               min(__lo) AS min_lsn, max(__hi) AS max_lsn
        FROM (
          SELECT min(__pid) AS __pid, count(1) AS __n, min(__l) AS __lo,
                 max(__l) AS __hi
          FROM (SELECT {keys}, {pid} AS __pid, {lsn} AS __l FROM {{src}})
          GROUP BY {keys}
        )
        GROUP BY __pid""",
        src=changes,
    ).collect()
