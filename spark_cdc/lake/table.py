"""Snapshot/manifest table format over parquet.

Layout on disk::

    <root>/
      _meta/
        snap-<id>.json     # immutable snapshot manifest
        VERSION            # current snapshot id (atomically replaced)
      data/
        snap<id>/_bucket=<k>/part-*.parquet

A snapshot manifest records the full table schema, the bucket spec,
the complete file list per bucket, arbitrary properties (used by the
CDC runner for exactly-once batch-id bookkeeping) and a summary with
lineage metrics. The latest version of a key under
:data:`VERSION_ORDER` has one resolver, :func:`latest_arrow`, run by the
bucket kernel :func:`read_latest` on every write and every read of
multi-version buckets. Commit = write manifest, then atomically replace the
VERSION pointer (``os.replace``); readers resolve VERSION → manifest →
files, so they always see a consistent snapshot. Single-writer by
design (one Structured Streaming query owns a table), matching the
reference where one consumer thread owned the ClickHouse sink
(/root/reference/stream_etl/core/consumer.py:111-127).

Scale notes (100 TB design):

- Data files are hash-bucketed on the merge key's conversation id:
  ``pmod(xxhash64(conv_id), num_buckets)`` — the moral equivalent of
  Iceberg ``bucket(N, conv_id)`` hidden partitioning. A merge batch
  only reads + rewrites buckets that contain changed conversations;
  untouched buckets carry over into the new manifest by reference,
  so MERGE cost scales with the change set, not the table.
- All turns of one conversation land in one bucket → per-conversation
  operators (stitching, ordered reads) need no extra shuffle, and a
  bucket resolves on its own: the bucket column must be a key column.
- The manifest is O(#files) JSON; at real scale this becomes Iceberg
  metadata, the API here does not change.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_DIR = "_meta"
DATA_DIR = "data"
VERSION_FILE = "VERSION"
BUCKET_COL = "_bucket"
# Hidden per-row columns persisted in data files; used by the MERGE
# resolution guard (latest (ts, op_seq) wins) and dropped from
# user-facing reads. ``_deleted`` rows are tombstones: a delete must
# out-version late-arriving older inserts (the reference simply
# dropped deletes, /root/reference/stream_etl/core/processor.py:214-217
# — we keep correct semantics; tombstones are GC'd by compaction).
V_TS = "_v_ts"
V_SEQ = "_v_seq"
V_DEL = "_deleted"
# write-generation (snapshot id at write time): merge-on-read delta
# files may carry several versions of one key across files; _gen breaks
# exact version ties in favour of the later write.
V_GEN = "_gen"
HIDDEN_COLS = (V_TS, V_SEQ, V_DEL, V_GEN)
# change-log position of a batch row; never stored
V_LSN = "_lsn"
# The one version order: of all rows of a key, the one with the
# greatest (ts, seq, gen, lsn) wins, and a null field loses to any
# value (Spark compares struct fields ascending, nulls first). A batch
# being merged carries gen = snapshot_id + 1, above every stored
# generation, so it wins (ts, seq) ties against stored rows and lsn
# only ever decides between rows of one batch. Stored rows have no
# lsn, so reads and compaction order by (ts, seq, gen).
VERSION_ORDER = (V_TS, V_SEQ, V_GEN, V_LSN)


# snapshot property: source id → last committed batch id
_BATCH_IDS = "last_batch_id"


def with_batch_id(
    props: dict[str, Any], batch_id: int | None, source_id: str
) -> dict[str, Any]:
    """``props`` with ``source_id``'s last committed batch id set to
    ``batch_id`` — the record :meth:`LakeTable.has_committed` reads.
    Commit it in the same snapshot as the batch's data."""
    if batch_id is None:
        return dict(props)
    return {**props, _BATCH_IDS: {**props.get(_BATCH_IDS, {}), source_id: batch_id}}


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency commit failure: another writer committed
    a snapshot with this id first (Iceberg ``CommitFailedException``
    analogue). The losing writer's data files are written but
    unreferenced — safe; recovery is ``refresh()`` and re-run the merge
    (idempotent under the batch-id guard), never retry the raw commit.
    May also indicate a CRASHED commit that left a manifest ahead of
    VERSION — ``fsck`` reports that case and ``check --repair`` clears
    it."""


def bucket_expr(bucket_column: str, num_buckets: int):
    """Deterministic bucket id for a key column (Iceberg-style hash bucket)."""
    return F.pmod(F.xxhash64(F.col(bucket_column)), F.lit(num_buckets)).cast("int")


# Spark's XXH64 (org.apache.spark.sql.catalyst.expressions.XXH64), the
# hash F.xxhash64 computes with seed 42: standard little-endian XXH64.
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
_XXHASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int = _XXHASH_SEED) -> int:
    """Unsigned XXH64 of ``data``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = _xxh_round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for acc in v:
            h = ((h ^ _xxh_round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        h = (_rotl(h ^ _xxh_round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h = (_rotl(h ^ (byte * _P5 & _M64), 11) * _P1) & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


# bucket-column types whose Spark hash input is these bytes of the value
_HASH_BYTES = {
    T.StringType(): lambda v: v.encode("utf-8") if isinstance(v, str) else None,
    T.IntegerType(): lambda v: _int_bytes(v, 4),
    T.LongType(): lambda v: _int_bytes(v, 8),
}


def _int_bytes(v, width: int) -> bytes | None:
    if not isinstance(v, int) or isinstance(v, bool):
        return None
    try:
        return v.to_bytes(width, "little", signed=True)
    except OverflowError:
        return None


def bucket_ids(values: list, data_type: T.DataType, num_buckets: int) -> list[int] | None:
    """:func:`bucket_expr` of each value, computed driver-side without a
    Spark job, for the bucket-column types the engine's tables use
    (string, int, bigint; a null hashes to the seed, as in Spark). None
    when the type or a value is outside that set: the caller then asks
    Spark. Pinned against ``F.xxhash64`` by the tests."""
    to_bytes = _HASH_BYTES.get(data_type)
    if to_bytes is None:
        return None
    out = []
    for v in values:
        if v is None:
            h = _XXHASH_SEED
        else:
            data = to_bytes(v)
            if data is None:
                return None
            h = _xxh64(data)
            if h >= 1 << 63:
                h -= 1 << 64  # Spark's hash is a signed long; pmod is >= 0
        out.append(h % num_buckets)
    return out


def _zone_value(v):
    """Normalize a parquet-footer statistic or probe bound for zone-map
    comparison: ints/floats as-is, ASCII strings as-is, datetimes and
    dates as ISO-8601 strings (lexicographic order == chronological —
    mixed-precision safe: a shorter stamp is a prefix of, and sorts
    before, its sub-second extension). Anything else → None (never
    prune on it)."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # footers for TIMESTAMP (adjusted-to-UTC) may surface
            # tz-aware values; normalize to naive UTC so probe and
            # stat render identically (a stray "+00:00" suffix would
            # mis-order exact-boundary comparisons)
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if v.isascii() else None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return v
    return None


def _bq(name: str) -> str:
    """Backtick-quote an identifier for SQL text that runs through
    ``spark.sql(text, **dataframes)``. Backticks are doubled (SQL
    escaping), and so are braces, because that form passes the text
    through ``str.format``."""
    return "`" + str(name).replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def latest_arrow(data, keys: list[str], bucket_column: str | None = None):
    """The one resolver: the latest version of each key of ``data`` (a
    ``pyarrow.Table``) under :data:`VERSION_ORDER`, nulls losing. Every
    read and write of multi-version rows runs it through
    :func:`read_latest`. It sorts by ``bucket_column`` (when it is not
    the leading key) and the keys, then by the order fields descending,
    and keeps the first row of each key, so the result comes out
    key-sorted. Null key parts group together, as in ``GROUP BY``.
    ``V_LSN`` only orders and is not returned. Rows that tie on every
    order field are a free pick."""
    import pyarrow as pa
    import pyarrow.compute as pc

    by = [bucket_column] if bucket_column and bucket_column not in keys[:1] else []
    by += [c for c in keys if c not in by]
    order = [c for c in VERSION_ORDER if c in data.column_names]
    idx = pc.sort_indices(
        data,
        sort_keys=[(c, "ascending") for c in by] + [(c, "descending") for c in order],
        null_placement="at_end",
    )
    data = data.take(idx)
    if V_LSN in data.column_names:
        data = data.drop_columns([V_LSN])
    n = data.num_rows
    if n < 2:
        return data
    first = pa.repeat(False, n - 1)
    for c in by:
        col = data.column(c).combine_chunks()
        cur, prev = col.slice(1), col.slice(0, n - 1)
        # null-safe "differs from the row before"
        both_null = pc.and_(pc.is_null(cur), pc.is_null(prev))
        differs = pc.and_not(pc.fill_null(pc.not_equal(cur, prev), True), both_null)
        first = pc.or_(first, differs)
    return data.filter(pa.concat_arrays([pa.array([True]), first]))


def read_spec(manifest: dict[str, Any]) -> dict[str, Any]:
    """What :func:`read_latest` needs to know of a snapshot, shipped to
    the Python workers: the Arrow schema of a stored row (Spark's own
    type mapping, timestamps as UTC microseconds), the keys and the
    bucket column."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(T.StructType.fromJson(manifest["schema"]))
    return {
        "schema": pa.schema([f.with_nullable(True) for f in schema]),
        "keys": list(manifest["key_columns"]),
        "bucket_column": manifest["bucket_column"],
    }


def read_latest(spec: dict, paths: list[str], batch=None, key_between=None, key_in=None,
                drop_tombstones=False):
    """The read half of the bucket kernel, run in a Python worker by
    every resolved read, merge and compaction, and on the driver by a
    lookup. It reads ``paths`` with pyarrow, passing ``key_between`` and
    ``key_in`` (as in :meth:`LakeTable.read`) to the parquet reader as a
    predicate on the bucket column, adds ``batch`` (a ``pyarrow.Table``
    of a merge's rows of the bucket, carrying ``V_LSN``; stored rows
    have none, so their lsn is null and loses ties), null-fills each
    part to the table schema and keeps the latest version of each key
    (:func:`latest_arrow`; an unkeyed table is concatenated), without
    tombstones under ``drop_tombstones``.

    The predicate applies before resolution. That is safe because the
    bucket column is a key column (:meth:`LakeTable.create` requires
    it): the predicate keeps or drops every version of a key together."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col, schema = spec["bucket_column"], spec["schema"]
    filters = [(col, ">=", key_between[0]), (col, "<=", key_between[1])] if key_between else []
    filters += [(col, "in", list(key_in))] if key_in is not None else []
    # the dataset reader that applies filters costs about 0.5 ms more per
    # small file than a plain read, which merges and compactions would pay
    parts = [
        pq.read_table(p, filters=filters, use_threads=False) if filters
        else pq.ParquetFile(p).read(use_threads=False)
        for p in paths
    ]
    if batch is not None:
        schema = schema.append(pa.field(V_LSN, pa.int64()))
        parts.append(batch)
    data = pa.concat_tables([
        pa.table(
            [
                part.column(f.name).cast(f.type) if f.name in part.column_names
                else pa.nulls(part.num_rows, f.type)
                for f in schema
            ],
            schema=schema,
        )
        for part in parts
    ] or [schema.empty_table()])
    if spec["keys"]:
        data = latest_arrow(data, spec["keys"], col)
    if drop_tombstones and V_DEL in data.column_names:
        data = data.filter(pc.invert(pc.fill_null(data.column(V_DEL), False)))
    return data


def diff_bucket(spec: dict, sides: tuple[list[str], list[str]]):
    """The change feed's bucket kernel (:meth:`LakeTable.read_changes`),
    run in a Python worker over a bucket's paths in the old and the new
    snapshot (``sides``). Only the keys of the files in one but not the
    other can differ. Each side resolves their bucket-column values with
    :func:`read_latest` under ``spec``, the new snapshot's (older files
    read added columns as null), and an Arrow group-by pairs the sides'
    rows of those keys, null key parts alike. A row holds the keys, the
    payload, its pre-image as ``_pre_<c>`` and the ``_change_type``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    schema, keys = spec["schema"], spec["keys"]
    payload = [f.name for f in schema if f.name not in keys and f.name not in HIDDEN_COLS]
    k = [f"k{i}" for i in range(len(keys))]
    differ = pa.concat_tables([
        pa.table([t[c].cast(schema.field(c).type) for c in keys], names=k)
        for t in (pq.read_table(p, columns=keys, use_threads=False)
                  for p in sorted(set(sides[0]) ^ set(sides[1])))
    ])
    values = pc.unique(differ[k[keys.index(spec["bucket_column"])]])
    old, new = (read_latest(spec, paths, key_in=values, drop_tombstones=True).select(keys + payload)
                for paths in sides)
    # a key has at most one row per side: the lower row number is the
    # old side's when there is one, the higher the new side's; the
    # differing files' keys join without a number, and only their groups stay
    both, n_old = pa.concat_tables([old, new]), old.num_rows
    g = pa.concat_tables([
        pa.table([*both.select(keys).columns, pa.array(range(both.num_rows), pa.int64())],
                 names=[*k, "i"]),
        differ.append_column("i", pa.nulls(differ.num_rows, pa.int64())),
    ]).group_by(k, use_threads=False).aggregate(
        [("i", "min"), ("i", "max"), ("i", "count", pc.CountOptions("only_null"))])
    g = g.filter(pc.and_(pc.greater(g["i_count"], 0), pc.is_valid(g["i_min"])))
    null = pa.scalar(None, pa.int64())
    pre = pc.if_else(pc.less(g["i_min"], n_old), g["i_min"], null)
    post = pc.if_else(pc.greater_equal(g["i_max"], n_old), g["i_max"], null)
    change = pc.if_else(pc.is_null(pre), "insert",
                        pc.if_else(pc.is_null(post), "delete", "update_postimage"))
    images = both.select(payload)
    cols = [*g.select(k).columns, *images.take(post).columns, *images.take(pre).columns, change]
    return pa.table(cols, names=[*keys, *payload, *(f"_pre_{c}" for c in payload), "_change_type"])


def bucket_groups(files: dict[int, list[str]], n: int) -> list[list[tuple[int, list[str]]]]:
    """``files`` (bucket → absolute paths) dealt into at most ``n``
    groups of about equal bytes, largest bucket first onto the lightest
    group: the tasks of a compaction and of a bucket job."""
    groups: list[list] = [[] for _ in range(min(len(files), max(n, 1)))]
    loads = [0] * len(groups)
    units = sorted(
        ((sum(os.path.getsize(p) for p in paths), b, paths) for b, paths in files.items()),
        reverse=True,
    )
    for size, b, paths in units:
        k = loads.index(min(loads))
        groups[k].append((b, paths))
        loads[k] += size
    return groups


class LakeTable:
    """Handle to a lake table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str, manifest: dict[str, Any]):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        # wall time of the most recent manifest commit (MergeResult.phases)
        self.last_commit_ms = 0.0
        # rows/files the most recent register_files recorded (MergeResult)
        self.last_write_rows = 0
        self.last_write_files = 0
        # per-file [min,max] key stats from the most recent register_files,
        # folded into the manifest by _commit_next
        self._last_write_stats: dict[str, list] = {}
        # per-file per-column zone maps for properties["stats_columns"]
        # (multi-column file skipping beyond the bucket key)
        self._last_write_col_stats: dict[str, dict[str, list]] = {}

    # ------------------------------------------------------------- create/load
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str] | None = None,
        bucket_column: str | None = None,
        num_buckets: int = 32,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        if os.path.exists(os.path.join(path, META_DIR, VERSION_FILE)):
            raise ValueError(f"table already exists at {path}")
        if key_columns and bucket_column is None:
            bucket_column = key_columns[0]
        if key_columns and bucket_column not in key_columns:
            # buckets resolve on their own and key predicates apply before
            # resolution: a key's versions must share its bucket-column value
            raise ValueError(f"bucket_column {bucket_column!r} is not a key: {key_columns}")
        os.makedirs(os.path.join(path, META_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)
        if key_columns:
            # keyed (mergeable) tables carry hidden per-row version
            # columns used by the MERGE newer-wins guard
            names = {f.name for f in schema.fields}
            extra = [
                T.StructField(V_TS, T.TimestampType(), True),
                T.StructField(V_SEQ, T.LongType(), True),
                T.StructField(V_DEL, T.BooleanType(), True),
                T.StructField(V_GEN, T.LongType(), True),
            ]
            schema = T.StructType(
                list(schema.fields) + [f for f in extra if f.name not in names]
            )
        manifest = {
            "snapshot_id": 0,
            "parent_id": None,
            "schema": json.loads(schema.json()),
            "key_columns": key_columns or [],
            "bucket_column": bucket_column,
            "num_buckets": num_buckets,
            "files": {},
            "properties": properties or {},
            "summary": {"operation": "create"},
        }
        tbl = LakeTable(spark, path, manifest)
        tbl._commit(manifest)
        return tbl

    @staticmethod
    def load(spark: SparkSession, path: str) -> "LakeTable":
        tbl = LakeTable(spark, path, {})
        tbl.refresh()
        return tbl

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, META_DIR, VERSION_FILE))

    def refresh(self) -> "LakeTable":
        with open(os.path.join(self.path, META_DIR, VERSION_FILE)) as f:
            snap_id = int(f.read().strip())
        self.manifest = self._read_manifest(snap_id)
        return self

    # ------------------------------------------------------------- properties
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest["schema"])

    @property
    def user_schema(self) -> T.StructType:
        return T.StructType(
            [f for f in self.schema.fields if f.name not in HIDDEN_COLS]
        )

    @property
    def key_columns(self) -> list[str]:
        return list(self.manifest["key_columns"])

    @property
    def num_buckets(self) -> int:
        return int(self.manifest["num_buckets"])

    @property
    def bucket_column(self) -> str | None:
        return self.manifest["bucket_column"]

    @property
    def snapshot_id(self) -> int:
        return int(self.manifest["snapshot_id"])

    @property
    def properties(self) -> dict[str, Any]:
        return self.manifest["properties"]

    def has_committed(self, source_id: str, batch_id: int | None) -> bool:
        """The exactly-once guard: True when ``batch_id`` is at or below
        the last batch id this table committed for ``source_id`` (kept
        in snapshot properties, see :func:`with_batch_id` — the Delta
        ``txnAppId``/``txnVersion`` idempotent-sink pattern), so a
        redelivered batch must be skipped. Always False without a batch
        id."""
        last = self.properties.get(_BATCH_IDS, {}).get(source_id)
        return batch_id is not None and last is not None and batch_id <= last

    def history(self) -> list[dict[str, Any]]:
        """All snapshot manifests, oldest first (time-travel index)."""
        out = []
        sid: int | None = self.snapshot_id
        while sid is not None:
            m = self._read_manifest(sid)
            out.append(m)
            sid = m["parent_id"]
        return list(reversed(out))

    # ------------------------------------------------------------------ read
    def read(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        include_hidden: bool = False,
        resolve: bool | None = None,
        key_between: tuple | None = None,
        key_in: list | None = None,
        zone_between: dict | None = None,
    ) -> DataFrame:
        """Snapshot read; optionally restricted to a bucket subset.

        Merge-on-read: buckets carrying delta files (appended by
        ``merge_changes(mode='mor')``) may hold several versions of a
        key, so a read of them resolves the latest version per key
        (Iceberg MoR read path); ``resolve`` forces or suppresses this
        (default: auto from the manifest's ``delta_buckets``). A
        resolved read is a :meth:`_bucket_job` running :func:`read_latest`,
        so a task holds one bucket's filtered rows; Catalyst cannot push
        predicates or prune columns into it. Otherwise the read is a
        plain Spark parquet scan.

        Files written before a schema evolution lack the added columns;
        both paths null-fill them to the snapshot's schema (Iceberg ADD
        COLUMN semantics).

        ``key_between=(lo, hi)`` prunes FILES via the manifest's
        per-file min/max statistics on the bucket column (files are
        written sorted by key, so ranges are tight) — the Iceberg
        data-file skipping analogue — AND applies the matching row
        predicate on the bucket column before MoR resolution. The row
        filter is load-bearing, not a convenience: a key outside the
        range may have its newest version or delete tombstone only in
        a pruned file, so an unfiltered read could resolve it to a
        stale or resurrected row from a kept file. In-range keys are
        safe by construction (every version of a key lies in a file
        whose range covers it, so no file of an in-range key is
        pruned). Files from pre-stats manifests have no recorded range
        and are kept.

        ``key_in=[v1, v2, ...]`` is the multi-point twin: keep only
        files whose [min, max] range contains at least one of the
        values, and filter rows to the value set. This is the serving
        probe for value-bucketed secondary indexes (a BM25 query's
        token list, see :mod:`spark_cdc.operators.index_maint`) —
        combined with bucket pruning via :meth:`buckets_for`, an
        n-token probe over a 10^9-doc postings table reads only the
        files that can hold those tokens' postings. Same row-filter
        safety argument as ``key_between``.
        """
        manifest = (
            self.manifest if snapshot_id is None else self._read_manifest(snapshot_id)
        )
        schema = T.StructType.fromJson(manifest["schema"])
        bucket_of = {f: int(b) for b, fl in manifest["files"].items() for f in fl}
        files: dict[int, list[str]] = {}  # bucket → absolute paths
        for f in self.selected_files(manifest, buckets, key_between, key_in, zone_between):
            files.setdefault(bucket_of[f], []).append(os.path.join(self.path, f))
        if resolve is None:
            resolve = bool({int(b) for b in manifest.get("delta_buckets", [])} & set(files))
        if not files:
            df = self.spark.createDataFrame([], schema)
        elif resolve and manifest["key_columns"]:
            spec = read_spec(manifest)
            df = self._bucket_job(files, schema, lambda b: read_latest(
                spec, files[b], key_between=key_between, key_in=key_in))
        else:
            df = self.spark.read.schema(schema).parquet(*[p for ps in files.values() for p in ps])
            # the row-level twins of the file pruning (see docstring),
            # pushed down to the parquet scan by Catalyst
            kc = F.col(self.bucket_column) if self.bucket_column else None
            if key_between is not None and kc is not None:
                df = df.where(kc.between(F.lit(key_between[0]), F.lit(key_between[1])))
            if key_in is not None and kc is not None:
                df = df.where(kc.isin(sorted(set(key_in))))
        if zone_between:
            # row-level twin of the zone-map file pruning — applied
            # AFTER MoR resolution, because a zone column is not the
            # merge key: filtering versions of a key by a mutable
            # column before resolution could drop the newest version
            # and resurrect a stale in-range one. File pruning is
            # restricted to single-version (non-delta) buckets for the
            # same reason (see selected_files), where one row per key
            # makes skipping out-of-range files trivially safe. In the
            # no-resolve case Catalyst pushes this straight to the
            # scan.
            for zc, (zlo, zhi) in zone_between.items():
                df = df.where(F.col(zc).between(F.lit(zlo), F.lit(zhi)))
        if not include_hidden:
            if V_DEL in df.columns:
                df = df.filter(~F.coalesce(F.col(V_DEL), F.lit(False)))
            df = df.drop(*[c for c in HIDDEN_COLS if c in df.columns])
        return df

    def _bucket_job(self, files: dict[int, list[str]], schema: T.StructType,
                    kernel) -> DataFrame:
        """One Spark job with no exchange over ``files`` (bucket →
        absolute paths): a task per :func:`bucket_groups` group yields
        ``kernel(bucket)``, a ``pyarrow.Table`` of ``schema``, for its
        buckets one at a time. The group relation is an RDD the JVM makes
        (one made in Python took a resolved read from 374 to 528 ms, 4 vCPUs),
        sized by the planner at ``spark.sql.defaultSizeInBytes``, so no
        join plans to broadcast it (AQE still can, on real sizes)."""
        groups = bucket_groups(files, self.spark.sparkContext.defaultParallelism)

        def run(batches):
            for batch in batches:
                for g in batch.column(0).to_pylist():
                    for b, _ in groups[g]:
                        yield from kernel(b).to_batches()

        jspark = self.spark._jsparkSession
        ids = jspark.range(0, len(groups), 1, len(groups)).toDF()
        rel = DataFrame(jspark.createDataFrame(ids.rdd(), ids.schema()), self.spark)
        return rel.mapInArrow(run, schema)

    def selected_files(
        self,
        manifest: dict[str, Any] | None = None,
        buckets: list[int] | None = None,
        key_between: tuple | None = None,
        key_in: list | None = None,
        zone_between: dict | None = None,
    ) -> list[str]:
        """Relative data-file list a read with these predicates touches
        — bucket subset first, then per-file [min, max] stats on the
        bucket column (``key_between`` range / ``key_in`` membership
        via bisect over the sorted probe list), then multi-column zone
        maps (``zone_between = {col: (lo, hi)}`` against
        ``col_stats``, recorded for the table's ``stats_columns``
        property — see :func:`spark_cdc.lake.maintenance.
        zorder_compact`). Zone pruning applies only to files in
        single-version (non-delta) buckets: a zone column is not the
        merge key, so in a multi-version bucket the newest version of
        a key could live in a pruned file while a stale in-range
        version survives — delta buckets are read in full and filtered
        after MoR resolution instead. Exposed so pruning is testable
        and observable (the Iceberg ``planFiles`` analogue);
        :meth:`read` and :meth:`lookup` consume exactly this list."""
        manifest = self.manifest if manifest is None else manifest
        stats = manifest.get("file_stats", {})
        col_stats = manifest.get("col_stats", {})
        delta_set = {int(b) for b in manifest.get("delta_buckets", [])}
        key_in_sorted = sorted(set(key_in)) if key_in is not None else None
        zone_norm = (
            {
                zc: (_zone_value(zlo), _zone_value(zhi))
                for zc, (zlo, zhi) in zone_between.items()
            }
            if zone_between
            else None
        )

        def overlaps(rel: str, in_delta_bucket: bool) -> bool:
            rng = stats.get(rel)
            if rng:
                if key_between is not None:
                    lo, hi = key_between
                    if rng[1] < lo or rng[0] > hi:
                        return False
                if key_in_sorted is not None:
                    # sorted probe list: bisect to the first value ≥ min
                    # and check it is ≤ max — O(log n) per file
                    import bisect

                    try:
                        i = bisect.bisect_left(key_in_sorted, rng[0])
                        if i >= len(key_in_sorted) or key_in_sorted[i] > rng[1]:
                            return False
                    except TypeError:
                        pass  # probe/stat type mismatch: never prune
            if zone_norm and not in_delta_bucket:
                per_col = col_stats.get(rel, {})
                for zc, (zlo, zhi) in zone_norm.items():
                    crng = (
                        per_col.get(zc)
                        if zc != self.bucket_column
                        else stats.get(rel)
                    )
                    if not crng or zlo is None or zhi is None:
                        continue
                    try:
                        if crng[1] < zlo or crng[0] > zhi:
                            return False
                    except TypeError:
                        continue  # mismatched probe type: never prune
            return True

        files: list[str] = []
        for b, flist in manifest["files"].items():
            if buckets is None or int(b) in buckets:
                in_delta = int(b) in delta_set
                files.extend(f for f in flist if overlaps(f, in_delta))
        return files

    def lookup(self, key_value, snapshot_id: int | None = None) -> DataFrame:
        """Point read of one bucket-key value (e.g. one conversation),
        the serving path, with no Spark job: hash to its bucket, skip
        files whose min/max key range misses it (tight: files are
        written key-sorted), resolve the rest on the driver with
        :func:`read_latest`, the key pushed into the parquet reader, and
        return a DataFrame over the local result. Memory bound: the
        driver holds one key's versions."""
        col = self.bucket_column
        if not col:
            raise ValueError("lookup requires a bucketed table")
        manifest = self.manifest if snapshot_id is None else self._read_manifest(snapshot_id)
        key = (key_value, key_value)
        paths = [
            os.path.join(self.path, f)
            for f in self.selected_files(manifest, self.buckets_for([key_value]), key)
        ]
        data = read_latest(read_spec(manifest), paths, key_between=key, drop_tombstones=True)
        user = [f for f in T.StructType.fromJson(manifest["schema"]).fields
                if f.name not in HIDDEN_COLS]
        return self.spark.createDataFrame(
            data.select([f.name for f in user]), T.StructType(user)
        )

    def buckets_for(self, values: list) -> list[int]:
        """Bucket ids the given bucket-column values hash into, sorted
        and distinct. String, int and bigint bucket columns hash
        driver-side (:func:`bucket_ids`, no Spark job); any other type
        runs one tiny Spark job over |values| local rows with
        :func:`bucket_expr` itself. Bounded: probe value lists are
        query-sized, not data-sized."""
        col = self.bucket_column
        if not col:
            raise ValueError("buckets_for requires a bucketed table")
        dtype = self.schema[col].dataType
        ids = bucket_ids(values, dtype, self.num_buckets)
        if ids is not None:
            return sorted(set(ids))
        rows = self.spark.createDataFrame(
            [(v,) for v in values], T.StructType([T.StructField(col, dtype)])
        )
        return sorted(
            r["b"]
            for r in rows.select(bucket_expr(col, self.num_buckets).alias("b"))
            .distinct()
            .collect()
        )

    def probe(self, values: list, snapshot_id: int | None = None) -> DataFrame:
        """Multi-point serving read on the bucket column: restrict to
        the buckets the values hash into, skip files whose [min, max]
        range holds none of them, filter rows to the value set, THEN
        MoR-resolve — the plural :meth:`lookup`. On a token-bucketed
        postings table this is the reference's primary-key probe
        semantics (ClickHouse ORDER BY index, /root/reference/etl/
        clickhouse_schema/init.sql:41): an n-value probe reads
        ≤ n/num_buckets of the metadata and only matching files. It
        stays a distributed :meth:`read`, because one value's rows (a
        token's postings) are unbounded."""
        if not values:
            raise ValueError("probe needs at least one value")
        return self.read(
            snapshot_id=snapshot_id,
            buckets=self.buckets_for(values),
            key_in=list(values),
        )

    def read_changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        include_preimage: bool = False,
    ) -> DataFrame:
        """Change data feed: the NET row-level diff between two
        snapshots (Delta ``readChangeFeed`` / Iceberg
        ``create_changelog_view(net_changes=true)`` analogue — the
        reference had no incremental-consumption story at all;
        downstream consumers re-read full tables,
        /root/reference/etl/core/pipeline.py:136-181).

        Returns user columns + ``_change_type`` ∈ {'insert',
        'update_postimage', 'delete'}; deletes carry the pre-image
        payload. A key rewritten with an identical payload (e.g. by
        compaction) produces no row, so maintenance commits net out to
        an empty feed.

        ``include_preimage=True`` returns both images per row — payload
        columns hold the post-image (null for deletes) and ``_pre_<c>``
        columns the pre-image (null for inserts) — the shape retraction
        consumers need (incremental aggregate maintenance subtracts the
        pre-image contribution and adds the post-image one, see
        :mod:`spark_cdc.operators.ivm`).

        A :meth:`_bucket_job` running :func:`diff_bucket` over the
        buckets whose file lists differ (lists carry over by reference).
        Each side resolves only the bucket-column values of the keys in
        a file of one snapshot but not the other, and only those keys
        leave the task, so a poll costs the values the change touched
        (after a CoW merge or a compaction, all of the rewritten
        buckets'). Memory bound: a task holds one bucket's candidate
        rows per side. No driver-side state.
        """
        to_id = self.snapshot_id if to_snapshot_id is None else to_snapshot_id
        m_from = self._read_manifest(from_snapshot_id)
        m_to = self._read_manifest(to_id)
        keys = list(m_to["key_columns"])
        if not keys:
            raise ValueError("read_changes requires a keyed (mergeable) table")
        paths = {b: tuple(sorted(os.path.join(self.path, f) for f in m["files"].get(b, []))
                          for m in (m_from, m_to))
                 for b in set(m_from["files"]) | set(m_to["files"])}
        sides = {int(b): s for b, s in paths.items() if s[0] != s[1]}  # changed buckets
        types = {f.name: f.dataType for f in T.StructType.fromJson(m_to["schema"]).fields
                 if f.name not in HIDDEN_COLS}
        pay = [c for c in types if c not in keys]
        out = [(c, types[c]) for c in keys + pay] + [(f"_pre_{c}", types[c]) for c in pay]
        schema = T.StructType([T.StructField(*f) for f in out + [("_change_type", T.StringType())]])
        spec = read_spec(m_to)
        diff = self._bucket_job(
            {b: sorted(set(old) | set(new)) for b, (old, new) in sides.items()}, schema,
            lambda b: diff_bucket(spec, sides[b]),
        ) if sides else self.spark.createDataFrame([], schema)
        # an update whose payload equals its pre-image is no change;
        # `<=>` compares the structs field by field, as Spark orders them
        same = F.struct(*[F.col(c) for c in pay]).eqNullSafe(
            F.struct(*[F.col(f"_pre_{c}").alias(c) for c in pay])
        )
        diff = diff.where((F.col("_change_type") != "update_postimage") | ~same)
        if include_preimage:
            return diff
        deleted = F.col("_change_type") == "delete"
        return diff.select(
            *keys,
            *[F.when(deleted, F.col(f"_pre_{c}")).otherwise(F.col(c)).alias(c) for c in pay],
            "_change_type",
        )

    # ----------------------------------------------------------------- write
    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
    ) -> int:
        """Append-only write (facts / metrics tables). Bucketed if the
        table has a bucket spec, else lands in bucket 0. ``properties``
        replaces the snapshot properties in the same commit (used for
        exactly-once batch-id bookkeeping on append-only sinks)."""
        df = self._conform(df)
        if self.bucket_column:
            df = df.withColumn(
                BUCKET_COL, bucket_expr(self.bucket_column, self.num_buckets)
            )
        else:
            df = df.withColumn(BUCKET_COL, F.lit(0))
        new_files = self._write_data(df)
        files = {k: list(v) for k, v in self.manifest["files"].items()}
        for b, fl in new_files.items():
            files.setdefault(b, []).extend(fl)
        return self._commit_next(
            files,
            properties if properties is not None else dict(self.properties),
            summary or {"operation": "append"},
        )

    def overwrite_buckets(
        self,
        df: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, Any] | None = None,
        summary: dict[str, Any] | None = None,
        presorted: bool = False,
    ) -> int:
        """Copy-on-write replacement of a bucket subset: ``df`` (already
        carrying ``_bucket``) becomes the new content of
        ``touched_buckets``; every other bucket carries over by
        reference. This is the Spark-side write of z-order, the rollup
        and the distinct view; merges and compaction write their files
        outside Spark and commit through :meth:`replace_buckets`.
        Replaced buckets are single-version again, so their delta flag
        clears. ``presorted`` skips the key-order sortWithinPartitions
        for callers that already arranged rows (z-order rewrite)."""
        new_files = self._write_data(df, presorted=presorted)
        return self.replace_buckets(new_files, touched_buckets, properties, summary)

    def replace_buckets(
        self,
        new_files: dict[str, list[str]],
        touched_buckets: list[int],
        properties: dict[str, Any] | None = None,
        summary: dict[str, Any] | None = None,
    ) -> int:
        """Commit ``new_files`` (bucket → relative paths, registered by
        :meth:`register_files`) as the whole content of
        ``touched_buckets``: the commit half of
        :meth:`overwrite_buckets`, for writers that produce files
        outside Spark (a CoW merge, compaction)."""
        files = {
            b: list(fl)
            for b, fl in self.manifest["files"].items()
            if int(b) not in touched_buckets
        }
        for b, fl in new_files.items():
            files[b] = fl
        deltas = sorted(
            set(int(b) for b in self.manifest.get("delta_buckets", []))
            - set(touched_buckets)
        )
        return self._commit_next(
            files,
            properties if properties is not None else dict(self.properties),
            summary or {"operation": "overwrite_buckets"},
            delta_buckets=deltas,
        )

    def append_deltas(
        self,
        new_files: dict[str, list[str]],
        properties: dict[str, Any] | None = None,
        summary: dict[str, Any] | None = None,
    ) -> int:
        """Merge-on-read commit: append ``new_files`` (bucket → relative
        paths, registered by :meth:`register_files`) as delta files to
        their buckets, without rewriting existing data, and flag those
        buckets. Ingest cost is O(batch); reads of flagged buckets
        resolve latest-version on the fly until
        :func:`spark_cdc.lake.maintenance.compact` folds them. The
        commit half of a MoR merge, as :meth:`replace_buckets` is of a
        CoW merge."""
        files = {b: list(fl) for b, fl in self.manifest["files"].items()}
        for b, fl in new_files.items():
            files.setdefault(b, []).extend(fl)
        deltas = sorted(
            set(int(b) for b in self.manifest.get("delta_buckets", []))
            | set(int(b) for b in new_files)
        )
        return self._commit_next(
            files,
            properties if properties is not None else dict(self.properties),
            summary or {"operation": "append_deltas"},
            delta_buckets=deltas,
        )

    def add_columns(self, fields: list[T.StructField]) -> None:
        """Schema evolution: ADD COLUMN (nullable, null backfill on read)
        as its own snapshot. A merge :meth:`stage_columns` instead, and
        its commit carries them."""
        added = self.stage_columns(fields)
        if added:
            self._commit({**self.manifest, "snapshot_id": self.snapshot_id + 1,
                          "parent_id": self.snapshot_id,
                          "summary": {"operation": "add_columns", "columns": added}})

    def stage_columns(self, fields: list[T.StructField]) -> list[str]:
        """Add the ``fields`` the schema lacks to the in-memory manifest
        only, so the next commit carries them; return their names."""
        schema = self.schema
        added = [f for f in fields if f.name not in schema.fieldNames()]
        if added:
            # keep hidden version columns last for readability
            user = [f for f in schema.fields if f.name not in HIDDEN_COLS]
            hidden = [f for f in schema.fields if f.name in HIDDEN_COLS]
            new_schema = T.StructType(user + added + hidden)
            self.manifest = {**self.manifest, "schema": json.loads(new_schema.json())}
        return [f.name for f in added]

    def set_properties(self, props: dict[str, Any]) -> None:
        new_id = self.snapshot_id + 1
        manifest = dict(self.manifest)
        new_props = dict(self.properties)
        new_props.update(props)
        manifest.update(
            {
                "snapshot_id": new_id,
                "parent_id": self.snapshot_id,
                "properties": new_props,
                "summary": {"operation": "set_properties"},
            }
        )
        self._commit(manifest)

    # -------------------------------------------------------------- internals
    def _conform(self, df: DataFrame) -> DataFrame:
        """Project df onto the table schema (missing nullable cols → null)."""
        schema = self.schema
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif f.name == V_TS and "ts" in df.columns:
                # appended base rows adopt their payload ts as version
                cols.append(F.col("ts").cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _write_data(self, df: DataFrame, presorted: bool = False) -> dict[str, list[str]]:
        """Write df (with ``_bucket``) partitioned by bucket, as files of
        the next snapshot; return relative file paths per bucket."""
        rel_dir = self.new_data_dir()
        out_dir = os.path.join(self.path, rel_dir)
        if presorted:
            pass  # caller already ordered the partitions (e.g. z-order)
        elif self.key_columns:
            # clustered storage order within each file (the analogue of
            # the reference's ORDER BY (campaign_id, event_date) primary
            # key, init.sql:41,52; Iceberg WRITE ORDERED BY): better
            # compression + parquet min/max data skipping on the key.
            # The bucket column sorts FIRST even when it is not the
            # leading key (e.g. BM25 postings keyed (doc_id, token) but
            # bucketed by token): per-file [min,max] ranges on the
            # bucket column stay tight, so probe reads actually skip
            # files. No-op when bucket_column == key_columns[0].
            sort_cols = [BUCKET_COL]
            if self.bucket_column and self.bucket_column != self.key_columns[0]:
                sort_cols.append(self.bucket_column)
            sort_cols += [c for c in self.key_columns if c not in sort_cols]
            df = df.sortWithinPartitions(*sort_cols)
        df.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(out_dir)
        files: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out_dir, entry)
            files[b] = [
                os.path.join(rel_dir, entry, f)
                for f in sorted(os.listdir(bdir))
                if f.endswith(".parquet")
            ]
        self.register_files(files)
        return files

    def new_data_dir(self) -> str:
        """Relative directory for the next snapshot's data files,
        ``data/snap<id>-<uuid>``; files go under ``_bucket=<k>/``. Until
        a commit references it, it is an orphan that
        :func:`spark_cdc.lake.maintenance.expire_snapshots` removes."""
        return os.path.join(DATA_DIR, f"snap{self.snapshot_id + 1}-{uuid.uuid4().hex[:8]}")

    def register_files(self, files: dict[str, list[str]]) -> None:
        """Record freshly written files (bucket → relative paths) for
        the next commit: their footer statistics
        (:meth:`_collect_footer_stats`)."""
        self._last_write_stats = {}
        self._last_write_col_stats = {}
        self.last_write_rows = 0
        self._collect_footer_stats(files)

    def _collect_footer_stats(self, files: dict[str, list[str]]) -> None:
        """One footer read per written file, recording three things for
        the next commit: the row count (``last_write_rows``), the
        [min, max] of the bucket column, and the [min, max] zone maps of
        the table's ``stats_columns`` property.

        The bucket-column ranges power manifest-level file skipping
        (``read(key_between=...)``, ``key_in``), the Iceberg per-file
        column-stats analogue; files are sorted by key, so ranges are
        tight. They are recorded only when they serialize safely AND
        order consistently between parquet (UTF-8 bytes) and Python
        (codepoints) — ints, floats, ASCII strings; not datetimes,
        because ``key_between`` compares raw probe values. The zone
        maps power ``read(zone_between=...)`` skipping on columns OTHER
        than the bucket key (ClickHouse's multi-column ``ORDER BY
        (campaign_id, event_date)`` primary index, reference
        init.sql:41; Delta/Iceberg column-stats skipping after a
        Z-ORDER rewrite); their temporal values are normalized to
        ISO-8601 strings (lexicographic == chronological), so probes
        must use matching datetime/date objects. A file or column
        without a recorded range is never pruned.

        Footers are read driver-side here (a commit writes ≤ #buckets
        files, each footer is a few KB); on a real cluster the write
        tasks return these stats with their commit messages, as Iceberg
        writers do — the manifest shape is identical.
        """
        col = self.bucket_column
        zone_cols = [
            c for c in self.properties.get("stats_columns", [])
            if c != col and c in {f.name for f in self.schema.fields}
        ]
        rels = [rel for fl in files.values() for rel in fl]
        self.last_write_files = len(rels)
        if not col and not zone_cols:
            return
        import pyarrow.parquet as pq

        def one(rel: str):
            try:
                md = pq.read_metadata(os.path.join(self.path, rel))
            except Exception:
                return rel, 0, None, {}
            idx = {
                md.row_group(0).column(j).path_in_schema: j
                for j in range(md.num_columns)
            } if md.num_row_groups else {}

            def value_range(name: str | None) -> list | None:
                j = idx.get(name)
                if j is None:
                    return None
                mins, maxs = [], []
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(j).statistics
                    if st is None or not st.has_min_max:
                        return None
                    if name == col and isinstance(st.min, datetime.date):
                        return None  # key_between compares raw probe values
                    lo, hi = _zone_value(st.min), _zone_value(st.max)
                    if lo is None or hi is None:
                        return None
                    mins.append(lo)
                    maxs.append(hi)
                return [min(mins), max(maxs)]

            zones = {c: value_range(c) for c in zone_cols}
            return (
                rel,
                md.num_rows,
                value_range(col),
                {c: r for c, r in zones.items() if r is not None},
            )

        if len(rels) > 4:
            # footer reads are independent tiny I/O; a commit writes up
            # to one file per bucket (a z-order rewrite files_per_bucket
            # × buckets) and the serial loop was a visible driver-side
            # slice of every micro-batch
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(8, len(rels))) as ex:
                results = list(ex.map(one, rels))
        else:
            results = [one(rel) for rel in rels]
        for rel, rows, key_range, zones in results:
            self.last_write_rows += rows
            if key_range is not None:
                self._last_write_stats[rel] = key_range
            if zones:
                self._last_write_col_stats[rel] = zones

    def _commit_next(
        self,
        files: dict[str, list[str]],
        properties: dict[str, Any],
        summary: dict[str, Any],
        delta_buckets: list[int] | None = None,
    ) -> int:
        """Commit the next snapshot over ``files``; return its id."""
        new_id = self.snapshot_id + 1
        manifest = dict(self.manifest)
        live = {f for fl in files.values() for f in fl}
        merged_stats = {
            **self.manifest.get("file_stats", {}),
            **self._last_write_stats,
        }
        merged_col_stats = {
            **self.manifest.get("col_stats", {}),
            **self._last_write_col_stats,
        }
        manifest.update(
            {
                "snapshot_id": new_id,
                "parent_id": self.snapshot_id,
                "files": files,
                "properties": properties,
                "summary": summary,
                "delta_buckets": (
                    delta_buckets
                    if delta_buckets is not None
                    else list(self.manifest.get("delta_buckets", []))
                ),
                "file_stats": {f: s for f, s in merged_stats.items() if f in live},
                "col_stats": {
                    f: s for f, s in merged_col_stats.items() if f in live
                },
            }
        )
        self._commit(manifest)
        return new_id

    def _commit(self, manifest: dict[str, Any]) -> None:
        import time as _time

        t0 = _time.monotonic()
        snap_id = manifest["snapshot_id"]
        parent = manifest.get("parent_id")
        version_path = os.path.join(self.path, META_DIR, VERSION_FILE)
        snap_path = os.path.join(self.path, META_DIR, f"snap-{snap_id}.json")
        # Optimistic concurrency (single-table, Iceberg-style): creating
        # the snapshot file with O_EXCL is the atomic claim on this
        # snapshot id — exactly one writer can win it, so a stale writer
        # fails loudly instead of silently overwriting the winner's
        # manifest (lost update). Cheap-fail first on a visibly advanced
        # VERSION; the O_EXCL create closes the remaining race window.
        if parent is not None:
            try:
                with open(version_path) as f:
                    current = int(f.read().strip())
            except (OSError, ValueError):
                current = None
            if current is not None and current != parent:
                raise CommitConflictError(
                    f"table {self.path} is at snapshot {current}, not this "
                    f"writer's base {parent}: another writer committed first. "
                    "refresh() and re-run the merge (batch-id guard makes the "
                    "retry idempotent)."
                )
        try:
            fd = os.open(snap_path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            # Re-claim is ONLY for a crashed CREATE (snap-0 written,
            # VERSION never was — the table never became visible), and
            # only once the orphan manifest is demonstrably stale. A
            # LIVE concurrent CREATE sits in exactly this state between
            # its O_EXCL claim and its VERSION write; truncating its
            # snap-0 would silently lose its commit — the lost update
            # CommitConflictError exists to prevent. 60s is orders of
            # magnitude beyond the claim→VERSION window (two fsync'd
            # small writes).
            stale_create = False
            if snap_id == 0 and not os.path.exists(version_path):
                try:
                    stale_create = (_time.time() - os.path.getmtime(snap_path)) > 60.0
                except OSError:
                    stale_create = True  # claim vanished: prior loser cleaned up
            if stale_create:
                fd = os.open(snap_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
            elif snap_id == 0 and not os.path.exists(version_path):
                raise CommitConflictError(
                    f"snapshot 0 at {self.path} was claimed "
                    "<60s ago and VERSION does not exist yet: a concurrent "
                    "CREATE is in flight (or just crashed). Retry shortly — "
                    "a stale orphan claim becomes re-claimable after 60s."
                ) from None
            else:
                raise CommitConflictError(
                    f"snapshot {snap_id} already exists at {self.path}: a "
                    "concurrent writer won this commit (refresh() and re-run "
                    "the merge), or a crashed commit left a manifest ahead of "
                    "VERSION (fsck reports it; `check --repair` clears it)."
                ) from None
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = os.path.join(self.path, META_DIR, f".VERSION.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(snap_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, META_DIR, VERSION_FILE))
        self.manifest = manifest
        self.last_commit_ms = (_time.monotonic() - t0) * 1000

    def _read_manifest(self, snap_id: int) -> dict[str, Any]:
        with open(os.path.join(self.path, META_DIR, f"snap-{snap_id}.json")) as f:
            return json.load(f)
