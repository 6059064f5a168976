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
  each key with ``latest_arrow``, the one resolver, which every read
  of multi-version buckets also runs.
  Only (bucket, file path) comes back, plus the batch stats below.
- ``mor`` gives the kernel the batch rows only: the resolved batch is
  appended as delta files, which reads resolve until
  ``maintenance.compact`` folds them. ``cow`` also gives it the stored
  files of each bucket the batch has rows for, and replaces exactly
  the buckets that came back; every other bucket carries over by
  reference, so MERGE cost ∝ |changed conversations|, not |table|.
- Touched buckets are observed from the files written, in both modes.
  Under ``collect_stats`` each task also reports the rows, keys and lsn
  range of its keys per input partition of the batch (a key counts in
  the first that carries it), the way Iceberg writers return file stats
  with their commit messages: the batch stats and lineage cost no job.
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
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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
    ``partition_lineage``) are -1/None/empty without ``collect_stats``
    (the lineage also without ``collect_lineage``)."""

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
    # per-phase wall times: exec_ms (the job resolving and writing the
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
    (nullable; older rows read them as null) in the merge's own commit. A
    null in a NOT NULL key column fails the merge before any write or commit.

    ``mode``:

    - ``"cow"`` (copy-on-write, default): touched buckets are resolved
      against the batch and rewritten — reads stay single-version and
      cheap; ingest cost ∝ touched-bucket data.
    - ``"mor"`` (merge-on-read): the deduped batch is appended as delta
      files — ingest cost ∝ batch only (the 10^10-event ingest mode);
      reads of flagged buckets resolve latest-version on the fly until
      ``maintenance.compact`` folds them. Same final-state semantics
      (tested equal to cow).

    ``collect_stats`` has the merge job's tasks report ``batch_rows``,
    ``batch_keys``, the lsn range and (with ``collect_lineage``) the
    per-input-partition lineage; without it those fields are -1/None.
    Either way the merge is one Spark job. ``touched_buckets``,
    ``rows_written`` and ``files_written`` are reported either way: the
    buckets the batch has rows for are the buckets written. An empty
    batch writes nothing and commits only its batch id and
    ``extra_properties``, as one ``set_properties`` snapshot.

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
    # staged, not committed: the columns ride this merge's own commit
    base = table.manifest
    table.stage_columns([type(f)(f.name, f.dataType, True) for f in new_fields])

    t_exec = time.monotonic()
    try:
        out = _merge_plan(table, changes, mode, collect_stats, collect_lineage).collect()
    except BaseException:
        table.manifest = base  # a failed batch commits nothing, not even its columns
        raise
    written = [(r["bucket"], r["path"]) for r in out if r["bucket"] is not None]
    stats = [r for r in out if r["bucket"] is None]
    lineage = [
        {"_pid": pid, **_sum_stats([r for r in stats if r["pid"] == pid])}
        for pid in sorted({r["pid"] for r in stats})
    ] if collect_lineage else []
    batch = _sum_stats(stats)
    batch_rows, batch_keys = (batch["rows"], batch["keys"]) if collect_stats else (-1, -1)
    min_lsn, max_lsn = batch["min_lsn"], batch["max_lsn"]
    props = with_batch_id(
        {**table.properties, **(extra_properties or {})}, batch_id, source_id
    )
    if not written:  # an empty batch: only the batch id and properties to record
        if batch_id is not None or extra_properties or new_fields:
            table.set_properties(props)
        return MergeResult(table.snapshot_id, batch_rows=batch_rows, batch_keys=batch_keys,
                           wall_ms=(time.monotonic() - t0) * 1000)
    new_files = {str(b): [rel] for b, rel in written if rel is not None}
    table.register_files(new_files)
    touched = sorted(b for b, _ in written)
    exec_ms = (time.monotonic() - t_exec) * 1000
    summary = {
        "operation": "merge_mor" if mode == "mor" else "merge",
        "batch_id": batch_id,
        "source_id": source_id,
        "batch_rows": batch_rows,
        "batch_keys": batch_keys,
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
        batch_rows=batch_rows,
        batch_keys=batch_keys,
        min_lsn=min_lsn,
        max_lsn=max_lsn,
        partition_lineage=lineage,
    )
    res.wall_ms = (time.monotonic() - t0) * 1000
    commit_ms = table.last_commit_ms
    # the residual (plan_ms) is driver-side py4j plan construction and
    # scheduling
    plan_ms = max(res.wall_ms - exec_ms - commit_ms, 0.0)
    res.phases = {
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


def _merge_plan(table: LakeTable, changes: DataFrame, mode: str, stats=False, lineage=False):
    """The merge's one Spark job (see the module docstring): the batch
    as stored rows of generation snapshot_id + 1, shuffled once on the
    bucket, and each bucket it has rows for rewritten by
    :func:`rewrite_bucket`, with the bucket's stored files in ``cow``
    mode. Collecting it writes the files and returns (bucket, relative
    path or None) per written bucket and, under ``stats``, with a null
    bucket, (pid, rows, keys, min_lsn, max_lsn) of each task's keys per
    input partition first carrying them (pid 0 without ``lineage``).
    A key's rows all land in one task, so these sum exactly."""
    cols = set(changes.columns)
    user = table.user_schema.fields
    names = [BUCKET_COL, *(f.name for f in user), V_TS, V_SEQ, V_DEL, V_GEN, V_LSN]
    # a typed null for a column added after the batch was produced
    values = {f.name: _bq(f.name) if f.name in cols else f"CAST(NULL AS {f.dataType.simpleString()})"
              for f in user}
    for f in user:
        if f.name in table.key_columns and not f.nullable:
            # fails the job before the exchange and any write; repr quotes the
            # message as a SQL literal, braces doubled for spark.sql's format
            msg = repr(f"key column {f.name!r} is NOT NULL, but a change has a null there: "
                       "route such changes to a quarantine sink (apply_batch(..., quarantine=...))")
            values[f.name] = (f"coalesce({values[f.name]}, raise_error("
                              f"{msg.replace('{', '{{').replace('}', '}}')}))")
    exprs = [
        _bucket_sql(table),
        *values.values(),
        "CAST(ts AS TIMESTAMP)",
        "coalesce(CAST(op_seq AS BIGINT), CAST(-1 AS BIGINT))",
        "(op = 'd')",
        "CAST({gen} AS BIGINT)",
        "CAST(lsn AS BIGINT)" if "lsn" in cols else "CAST(NULL AS BIGINT)",
        # evaluated before the exchange: the batch's input partition
        "spark_partition_id()" if lineage else "0",
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
    out_schema = StructType.fromDDL(
        "bucket int, path string, pid int, rows bigint, keys bigint, min_lsn bigint, max_lsn bigint"
    )

    def rewrite(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(batches)
        if not batches:
            return
        data = pa.Table.from_batches(batches)
        pid = data.column(len(names))
        data = data.select(range(len(names))).rename_columns(names)
        col = data.column(BUCKET_COL)
        out = [
            dict(zip(("bucket", "path"), rewrite_bucket(
                spec, b, stored.get(b, []), data.filter(pc.equal(col, b))
            )))
            for b in pc.unique(col).to_pylist()
        ]
        if stats:
            # per key (first input partition, rows, lsn range), then per partition
            k = [f"k{i}" for i in range(len(spec["keys"]))]
            by_key = pa.table(
                [*(data.column(c) for c in spec["keys"]), pid, data.column(V_LSN)],
                names=[*k, "pid", "lsn"],
            ).group_by(k, use_threads=False).aggregate(
                [("pid", "min"), ([], "count_all"), ("lsn", "min"), ("lsn", "max")]
            )
            out += by_key.group_by("pid_min", use_threads=False).aggregate(
                [("count_all", "sum"), ([], "count_all"), ("lsn_min", "min"), ("lsn_max", "max")]
            ).select(["pid_min", "count_all_sum", "count_all", "lsn_min_min", "lsn_max_max"]
            ).rename_columns(["pid", "rows", "keys", "min_lsn", "max_lsn"]).to_pylist()
        yield pa.RecordBatch.from_pylist(out, schema=to_arrow_schema(out_schema))

    n = min(table.num_buckets, max(changes.sparkSession.sparkContext.defaultParallelism, 1))
    return rows.repartition(n, "c0").mapInArrow(rewrite, out_schema)


def _sum_stats(stats: list) -> dict[str, Any]:
    """Stats rows of :func:`_merge_plan` summed: rows and keys added, lsn
    ranges joined."""
    lo = [r["min_lsn"] for r in stats if r["min_lsn"] is not None]
    hi = [r["max_lsn"] for r in stats if r["max_lsn"] is not None]
    return {"rows": sum(r["rows"] for r in stats), "keys": sum(r["keys"] for r in stats),
            "min_lsn": min(lo, default=None), "max_lsn": max(hi, default=None)}
