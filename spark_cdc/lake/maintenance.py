"""Table maintenance: compaction, tombstone GC, snapshot expiry.

The background work ClickHouse merges did implicitly for the reference
(ReplacingMergeTree part merges, init.sql:14,28) is an explicit,
schedulable operation here — like Iceberg's rewrite_data_files /
expire_snapshots procedures:

- ``compact`` rewrites buckets whose file count exceeds a threshold
  (many small files accumulate when streaming micro-batches each touch
  a bucket) and drops delete tombstones older than every retained
  reader — after compaction a late event older than the tombstone
  horizon is out of contract (standard CDC retention semantics). Like
  a ReplacingMergeTree part merge, it folds each bucket locally: one
  Spark job without an exchange hands groups of buckets to Python
  workers, which resolve and rewrite them with pyarrow, one bucket's
  rows in memory at a time; the driver only registers the files and
  commits.
- ``expire_snapshots`` deletes manifests + data files unreachable from
  the last N snapshots (time travel window).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import functions as F

from spark_cdc.lake.table import (
    BUCKET_COL,
    DATA_DIR,
    META_DIR,
    LakeTable,
    bucket_expr,
    bucket_groups,
    read_latest,
    read_spec,
)


def compact(
    table: LakeTable,
    max_files_per_bucket: int = 4,
    drop_tombstones: bool = False,
    fold_all_deltas: bool = True,
) -> list[int]:
    """Rewrite over-fragmented buckets into one file each. Returns the
    bucket ids compacted. State-preserving (tested): read() before ==
    read() after.

    ``fold_all_deltas=True`` (default) folds EVERY delta-carrying
    (merge-on-read) bucket back to single-version — the full-restore
    semantics streaming callers relied on. ``False`` is the steady-state
    maintenance policy: a delta bucket compacts only once its file count
    exceeds ``max_files_per_bucket``, so each compaction pass rewrites
    O(fragmented buckets), not O(table) — lightly-touched buckets keep
    their (prunable, still-correct) delta files until they accumulate
    enough to be worth rewriting, the same incremental part-merge
    discipline as ClickHouse background merges / Iceberg binpack
    rewrite_data_files.

    What runs where: every file of a bucket is bucket-local, so the fold
    needs no exchange. The driver groups the buckets by input bytes and
    runs ONE Spark job over the groups (``sc.parallelize``, no shuffle,
    no JVM sort). Each task, in a Python worker, rewrites its buckets
    one at a time with :func:`rewrite_bucket`, the per-bucket kernel
    that also writes every merge's files; only file names come back.
    The driver reads their footers and commits
    (:meth:`LakeTable.register_files`, :meth:`LakeTable.replace_buckets`).

    Memory bound: a task holds one bucket's decoded rows (all of its
    versions) at a time, with no spill; a bucket must fit in a Python
    worker's memory."""
    deltas = (
        {int(b) for b in table.manifest.get("delta_buckets", [])}
        if fold_all_deltas else set()
    )
    fragmented = sorted(
        {
            int(b)
            for b, files in table.manifest["files"].items()
            if len(files) > max_files_per_bucket
        }
        | deltas
    )
    if not fragmented:
        return []
    sc = table.spark.sparkContext
    groups = bucket_groups(
        {
            b: [os.path.join(table.path, f) for f in table.manifest["files"].get(str(b), [])]
            for b in fragmented
        },
        sc.defaultParallelism,
    )
    spec = {**bucket_spec(table), "drop_tombstones": drop_tombstones}
    written = (
        sc.parallelize(groups, len(groups))
        .flatMap(lambda group: [rewrite_bucket(spec, b, paths) for b, paths in group])
        .collect()
    )
    new_files = {str(b): [rel] for b, rel in written if rel is not None}
    table.register_files(new_files)
    table.replace_buckets(
        new_files,
        fragmented,
        summary={"operation": "compact", "buckets": fragmented,
                 "dropped_tombstones": drop_tombstones},
    )
    return fragmented


def bucket_spec(table: LakeTable) -> dict:
    """What :func:`rewrite_bucket` needs to know of ``table``, shipped
    to the Python workers: :func:`read_spec` of its snapshot and a fresh
    data directory of the next snapshot. Tombstones are kept unless
    ``drop_tombstones`` is set."""
    return {
        **read_spec(table.manifest),
        "drop_tombstones": False,
        "root": table.path,
        "rel_dir": table.new_data_dir(),
    }


def rewrite_bucket(spec: dict, bucket: int, paths: list[str], batch=None) -> tuple[int, str | None]:
    """Runs in a Python worker: the one writer of resolved bucket files,
    for :func:`compact` and :func:`spark_cdc.lake.merge.merge_changes`.
    It resolves the bucket's stored ``paths`` and a merge's ``batch``
    with :func:`read_latest`, dropping tombstones under
    ``drop_tombstones``, and writes one key-sorted file into
    ``data/snap<id>-<uuid>/_bucket=<k>/``. Returns the bucket and the
    file's path relative to the table root, or None when no row
    survives."""
    import pyarrow.parquet as pq

    data = read_latest(spec, paths, batch, drop_tombstones=spec["drop_tombstones"])
    if data.num_rows == 0:
        return bucket, None
    rel = os.path.join(
        spec["rel_dir"], f"{BUCKET_COL}={bucket}", f"part-{uuid.uuid4().hex}.parquet"
    )
    out = os.path.join(spec["root"], rel)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    # what Spark writes: snappy, INT64 UTC microsecond timestamps, no
    # Arrow schema blob in the footer, dictionaries only where they pay
    pq.write_table(
        data,
        out,
        compression="snappy",
        use_dictionary=_dictionary_columns(data),
        store_schema=False,
        coerce_timestamps="us",
    )
    return bucket, rel


def _dictionary_columns(data) -> list[str]:
    """Columns worth dictionary-encoding, by parquet-mr's fallback rule:
    a dictionary pays when the dictionary plus the bit-packed indices
    are smaller than the plain values. pyarrow's default encodes every
    column, which makes unique columns (free text, sequence numbers)
    larger than Spark writes them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for field, col in zip(data.schema, data.columns):
        t = field.type
        if pa.types.is_boolean(t) or pa.types.is_nested(t) or pa.types.is_null(t):
            continue
        values = col.drop_null()
        if len(values) == 0:
            continue
        distinct = pc.unique(values)
        if pa.types.is_binary(t) or pa.types.is_string(t):
            plain = pc.sum(pc.binary_length(values)).as_py() + 4 * len(values)
            dictionary = pc.sum(pc.binary_length(distinct)).as_py() + 4 * len(distinct)
        else:
            width = t.bit_width // 8
            plain = width * len(values)
            dictionary = width * len(distinct)
        dictionary += (len(values) * max(len(distinct) - 1, 1).bit_length() + 7) // 8
        if dictionary < plain:
            out.append(field.name)
    return out


def _zone_bounds_from_footers(
    table: LakeTable, cols: list[str]
) -> dict[str, tuple[float, float]] | None:
    """Global [min, max] per z-order column, in the same numeric space
    as ``zorder_compact``'s ``as_num`` (seconds for timestamps, days →
    seconds for dates, plain float otherwise), read from the live
    files' parquet footers on the driver — replaces one full-table
    aggregation job per OPTIMIZE. The bounds only normalize curve
    ranks (row content and zone maps are unaffected), so the
    footer-derived range being marginally wider on a multi-generation
    (MoR) table — superseded row versions count — is harmless. Returns
    None when any live file lacks usable stats for any column (caller
    falls back to the aggregate)."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    rels = table.selected_files()
    if not rels:
        return None

    def one(rel: str):
        try:
            md = pq.read_metadata(os.path.join(table.path, rel))
        except Exception:
            return None
        out = {}
        if not md.num_row_groups:
            return out  # empty file constrains nothing
        schema_names = {
            md.row_group(0).column(j).path_in_schema: j
            for j in range(md.num_columns)
        }
        for c in cols:
            j = schema_names.get(c)
            if j is None:
                continue  # pre-evolution file: column all-null here
            lo = hi = None
            for g in range(md.num_row_groups):
                cc = md.row_group(g).column(j)
                st = cc.statistics
                if st is None or not st.has_min_max:
                    return None  # stats gap → caller must aggregate
                pt = cc.physical_type
                lt = str(st.logical_type.type).upper()
                try:
                    mn, mx = st.min_raw, st.max_raw
                    if lt == "TIMESTAMP":
                        import json as _json

                        unit = _json.loads(st.logical_type.to_json()).get(
                            "timeUnit", "microseconds"
                        )
                        div = {
                            "microseconds": 1e6,
                            "milliseconds": 1e3,
                            "nanoseconds": 1e9,
                        }[unit]
                        mn, mx = mn / div, mx / div
                    elif lt == "DATE":
                        mn, mx = mn * 86400.0, mx * 86400.0
                    elif pt in ("INT32", "INT64", "FLOAT", "DOUBLE"):
                        mn, mx = float(mn), float(mx)
                    else:
                        return None  # decimals/strings: not handled here
                except (TypeError, KeyError, ValueError):
                    return None
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if lo is not None:
                out[c] = (lo, hi)
        return out

    with ThreadPoolExecutor(min(8, len(rels))) as ex:
        per_file = list(ex.map(one, rels))
    if any(p is None for p in per_file):
        return None
    bounds: dict[str, tuple[float, float]] = {}
    for p in per_file:
        for c, (lo, hi) in p.items():
            cur = bounds.get(c)
            bounds[c] = (
                (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
            )
    # a column with no stats in ANY file (all-null everywhere) gets the
    # same (0, 0) degenerate range the aggregate would produce
    for c in cols:
        bounds.setdefault(c, (0.0, 0.0))
    return bounds


def zorder_compact(
    table: LakeTable,
    cols: list[str],
    files_per_bucket: int = 4,
    normalization: str = "minmax",
) -> list[str]:
    """Rewrite the whole table clustered by the Z-order (Morton)
    interleave of ``cols``, and record per-file [min, max] zone maps
    for them — Delta's ``OPTIMIZE ... ZORDER BY`` / Iceberg's
    sort-order rewrite, and the explicit Spark rendering of the
    reference's multi-column primary index ``ORDER BY (campaign_id,
    event_date)`` (/root/reference/etl/clickhouse_schema/init.sql:41):
    ClickHouse gets 2-D locality from its sorted parts + sparse index;
    a hash-bucketed lake table gets it from this rewrite + manifest
    zone maps consumed by ``read(zone_between={col: (lo, hi)})``.

    Why not just sort by (c1, c2)? Lexicographic order gives tight
    file ranges on c1 only — a predicate on c2 alone scans every file.
    Bit-interleaving gives every listed column ~|file|^(1/k)-tight
    ranges, so single- and multi-column range probes all skip files.

    Scale shape: one bounded min/max aggregate for normalization, one
    range-repartition by (bucket, z) — Spark's sampled range
    partitioner, no global sort — with ``files_per_bucket`` output
    files per bucket so zone maps have sub-bucket granularity, and a
    presorted bucket-dir write. Cost is one full rewrite, the same as
    any OPTIMIZE; run it at the cadence ClickHouse runs part merges.

    ``cols`` must be numeric, date, timestamp or string columns
    (strings cluster by exact 5-byte-prefix lexicographic rank).
    Returns the written column list (== stats_columns afterwards).

    Ranks are linearly min/max-normalized by default — scale-cheap
    (one bounded aggregate, no sampling pass), but a heavily skewed
    value distribution bunches into few cells and widens per-file
    ranges; a low-cardinality clumped string (language tags) belongs
    in a bucket/partition spec, not a z-order — z-order earns its keep
    on high-cardinality range-probed columns (timestamps, external
    ids). ``normalization="quantile"`` switches numeric/date/timestamp
    dims to EQUAL-FREQUENCY ranks: 255 approximate quantile boundaries
    (one approxQuantile pass, 0.001 relative error) define the cells,
    and a row's rank is how many boundaries it clears (a
    ≤255-comparison JVM fold per row) scaled up to the 12-bit rank
    range — every cell then holds ~equal row counts
    no matter the skew, so per-file zones stay tight where the data is
    dense. String dims keep their (already data-adaptive) mixed-radix
    ranks in either mode. Hash bucketing by the merge key is
    preserved — point lookups and MERGE routing are untouched; this
    only reorders rows WITHIN buckets across files.

    Interaction with ongoing ingest: later merges/appends still record
    zone maps (stats_columns persists), but write key-sorted files, so
    freshly-ingested data carries wide zone ranges until the next
    z-order pass — exactly ClickHouse's fresh-part / merged-part
    story. A plain binpack :func:`compact` likewise re-sorts by key;
    schedule ``zorder_compact`` as the periodic OPTIMIZE instead of
    binpack on tables that serve multi-column range probes."""
    from pyspark.sql import Window

    schema = {f.name: f.dataType.simpleString() for f in table.schema.fields}
    for c in cols:
        t = schema.get(c)
        if t is None:
            raise ValueError(f"unknown column {c!r}")
        ok = t.startswith(("int", "bigint", "smallint", "tinyint", "float",
                           "double", "decimal", "date", "timestamp", "string"))
        if not ok:
            raise ValueError(f"zorder column {c!r} has unorderable-for-zone type {t}")

    string_cols = [c for c in cols if schema[c] == "string"]
    char_stats: dict[str, list[tuple[int, int]]] = {}
    if string_cols:
        # per-position observed char range over the first 5 bytes: the
        # string rank is the MIXED-RADIX number in those ranges —
        # monotone lexicographic (digit-wise comparison of a mixed-
        # radix number IS lexicographic comparison), and DENSE for
        # structured ids. A plain base-128 prefix number is formally
        # monotone too, but real ids ("c01234", hex uuids) occupy a
        # log-sparse sliver of base-128 space, so linear min/max
        # normalization collapses most ranks into a few cells and the
        # z-curve loses the dimension entirely (measured: median
        # per-file id span ≈ half the id space). One bounded extra
        # aggregate buys dense ranks.
        src = table.read()

        def ch(c, i):
            return F.ascii(F.substring(F.coalesce(F.col(c), F.lit("")), i, 1))

        row = src.agg(*[
            f(ch(c, i)).alias(f"{tag}_{k}_{i}")
            for k, c in enumerate(string_cols)
            for i in range(1, 6)
            for tag, f in (("mn", F.min), ("mx", F.max))
        ]).first()
        for k, c in enumerate(string_cols):
            char_stats[c] = [
                (int(row[f"mn_{k}_{i}"] or 0), int(row[f"mx_{k}_{i}"] or 0))
                for i in range(1, 6)
            ]

    def as_num(c):
        t = schema[c]
        col = F.col(c)
        if t.startswith("timestamp"):
            # TIMESTAMP_NTZ refuses a direct double cast
            return col.cast("timestamp").cast("double")
        if t == "date":
            return col.cast("timestamp").cast("double")
        if t == "string":
            num = F.lit(0.0)
            for i in range(1, 6):
                mn, mx = char_stats[c][i - 1]
                radix = max(mx - mn + 1, 1)
                chi = F.least(
                    F.greatest(
                        F.coalesce(F.ascii(F.substring(col, i, 1)), F.lit(0))
                        - F.lit(mn),
                        F.lit(0),
                    ),
                    F.lit(radix - 1),
                )
                num = num * float(radix) + chi
            return num
        return col.cast("double")

    # persist stats_columns FIRST (its own snapshot, like ALTER TABLE
    # SET ...), so the rewrite's _write_data — and every future write —
    # records zone maps for these columns
    prior = set(table.properties.get("stats_columns", []))
    table.set_properties({"stats_columns": sorted(prior | set(cols))})

    if normalization not in ("minmax", "quantile"):
        raise ValueError(f"normalization must be minmax|quantile, got {normalization!r}")
    df = table.read(include_hidden=True, resolve=True)
    # normalization bounds: prefer the driver-side footer walk (zero
    # Spark jobs — saves one full-table pass per OPTIMIZE); strings
    # (mixed-radix ranks need per-position char stats, computed above)
    # and stats-gap files fall back to the aggregate
    footer_cols = [c for c in cols if c not in string_cols]
    fb = _zone_bounds_from_footers(table, footer_cols) if footer_cols else {}
    if fb is None or string_cols:
        agg_cols = cols if fb is None else string_cols
        row = df.agg(
            *[F.min(as_num(c)).alias(f"lo_{i}") for i, c in enumerate(agg_cols)],
            *[F.max(as_num(c)).alias(f"hi_{i}") for i, c in enumerate(agg_cols)],
        ).first()
        agg_bounds = {
            c: (row[f"lo_{i}"], row[f"hi_{i}"]) for i, c in enumerate(agg_cols)
        }
        if fb is None:
            fb = agg_bounds
        else:
            fb.update(agg_bounds)
    bounds = {}
    for i, c in enumerate(cols):
        bounds[f"lo_{i}"], bounds[f"hi_{i}"] = fb[c]
    quantile_cols = (
        [c for c in cols if c not in string_cols] if normalization == "quantile" else []
    )
    boundaries: dict[str, list[float]] = {}
    if quantile_cols:
        q = 256
        probs = [j / q for j in range(1, q)]
        nums = df.select(
            *[as_num(c).alias(f"_q_{i}") for i, c in enumerate(quantile_cols)]
        )
        got = nums.approxQuantile(
            [f"_q_{i}" for i in range(len(quantile_cols))], probs, 0.001
        )
        for c, bs in zip(quantile_cols, got):
            boundaries[c] = [float(b) for b in bs]
    n, bits = len(cols), 12
    scale = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo = float(bounds[f"lo_{i}"] or 0.0)
        hi = float(bounds[f"hi_{i}"] or 0.0)
        if c in boundaries:
            # equal-frequency rank: boundaries cleared, rescaled to the
            # shared bit range so the interleave loop stays uniform
            bs = boundaries[c]
            x = F.coalesce(as_num(c), F.lit(lo))
            cleared = F.size(F.filter(F.lit(bs), lambda bnd: bnd <= x))
            rank = F.floor(
                cleared.cast("double") * F.lit(float(scale)) / F.lit(float(len(bs)))
            ).cast("long")
        else:
            width = (hi - lo) or 1.0
            rank = F.least(
                F.lit(scale),
                F.greatest(
                    F.lit(0),
                    F.floor((F.coalesce(as_num(c), F.lit(lo)) - F.lit(lo))
                            / F.lit(width) * F.lit(scale)).cast("long"),
                ),
            )
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(rank, b).bitwiseAND(F.lit(1)), b * n + i
            )
    if table.bucket_column:
        df = df.withColumn(BUCKET_COL, bucket_expr(table.bucket_column, table.num_buckets))
    else:
        df = df.withColumn(BUCKET_COL, F.lit(0))
    all_buckets = sorted({int(b) for b in table.manifest["files"]})
    n_parts = max(len(all_buckets), 1) * max(files_per_bucket, 1)
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_parts, F.col(BUCKET_COL), F.col("_z"))
        .sortWithinPartitions(BUCKET_COL, "_z")
        .drop("_z")
    )
    table.overwrite_buckets(
        out,
        all_buckets,
        summary={"operation": "zorder_compact", "cols": cols, "bits": bits},
        presorted=True,
    )
    return sorted(prior | set(cols))


def expire_snapshots(table: LakeTable, keep_last: int = 3) -> dict:
    """Delete manifests older than the last ``keep_last`` snapshots and
    any data directory no retained snapshot references."""
    history = table.history()
    retained = history[-keep_last:]
    expired = history[:-keep_last]
    live_dirs: set[str] = set()
    for m in retained:
        for files in m["files"].values():
            for rel in files:
                live_dirs.add(rel.split(os.sep)[1])  # data/<snapdir>/...
    # re-root the retained history FIRST (fsync'd tmp+replace, same
    # discipline as LakeTable._commit): a crash after deletions but
    # before the rewrite would leave retained manifests whose parent
    # chain points at deleted snap-*.json files, breaking history()/
    # time travel. Rewrite-then-delete is crash-safe in every prefix.
    if expired and retained:
        import json

        root = dict(retained[0])
        root["parent_id"] = None
        final = os.path.join(table.path, META_DIR, f"snap-{root['snapshot_id']}.json")
        tmp = os.path.join(table.path, META_DIR, f".snap.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(root, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
    removed_files = 0
    data_root = os.path.join(table.path, DATA_DIR)
    for entry in list(os.listdir(data_root)):
        if entry not in live_dirs:
            shutil.rmtree(os.path.join(data_root, entry), ignore_errors=True)
            removed_files += 1
    removed_manifests = 0
    for m in expired:
        p = os.path.join(table.path, META_DIR, f"snap-{m['snapshot_id']}.json")
        if os.path.exists(p):
            os.remove(p)
            removed_manifests += 1
    return {"removed_data_dirs": removed_files, "removed_manifests": removed_manifests}


def _overlap_fraction(ranges: list[tuple]) -> float:
    """Fraction of file pairs whose [min, max] ranges overlap — the
    clustering-quality signal. Disjoint sorted files → 0.0 (every
    probe hits ≤1 file); freshly-merged unclustered files → ~1.0
    (every probe scans the bucket). Type-agnostic: works on any
    ordered stats values (ints, floats, ISO date strings). O(n²) per
    bucket on the handful of files a bucket holds — driver arithmetic
    over the manifest, no I/O."""
    n = len(ranges)
    if n < 2:
        return 0.0
    hits = 0
    for i in range(n):
        lo_i, hi_i = ranges[i]
        for j in range(i + 1, n):
            lo_j, hi_j = ranges[j]
            if lo_i <= hi_j and lo_j <= hi_i:
                hits += 1
    return hits / (n * (n - 1) / 2)


def plan_maintenance(
    table: LakeTable,
    max_files_per_bucket: int = 4,
    keep_last: int = 3,
    zorder_overlap_threshold: float = 0.5,
) -> dict:
    """Advise maintenance actions from the manifest ALONE — zero Spark
    jobs, zero data I/O. The planning half of what ClickHouse's
    background merge scheduler decides implicitly (the reference never
    schedules merges; the MergeTree engine does,
    /root/reference/etl/clickhouse_schema/init.sql:14) and what
    Iceberg leaves to table-service cron. Returns::

        {"compact_buckets": [...],        # over-fragmented / delta-carrying
         "expire_snapshots": n,           # manifests beyond the travel window
         "zone_overlap": {col: frac},     # mean per-bucket overlap fraction
         "zorder": {"recommend": bool, "columns": [...]},
         "file_count": n, "bucket_count": n, "delta_buckets": [...]}

    Policy mirrors the executors: ``compact_buckets`` is exactly what
    ``compact(fold_all_deltas=False, max_files_per_bucket=...)`` would
    rewrite; ``zorder.recommend`` fires only when the caller opted
    into clustering (``stats_columns`` property set) AND at least 8
    files exist for skipping to matter AND the recorded zone maps have
    degraded past ``zorder_overlap_threshold`` (fresh ingest writes
    key-sorted files with wide zone ranges — overlap creeps up between
    OPTIMIZE passes; see :func:`zorder_compact`)."""
    m = table.manifest
    files: dict[str, list[str]] = m.get("files", {})
    deltas = sorted(int(b) for b in m.get("delta_buckets", []))
    compact_buckets = sorted(
        int(b) for b, fl in files.items() if len(fl) > max_files_per_bucket
    )
    n_files = sum(len(fl) for fl in files.values())
    expire_n = max(0, len(table.history()) - keep_last)

    col_stats: dict[str, dict[str, list]] = m.get("col_stats", {})
    stats_cols = list(table.properties.get("stats_columns", []))
    zone_overlap: dict[str, float] = {}
    for col in stats_cols:
        per_bucket: list[float] = []
        for fl in files.values():
            ranges = [
                tuple(col_stats[rel][col])
                for rel in fl
                if rel in col_stats and col in col_stats[rel]
                and col_stats[rel][col][0] is not None
            ]
            if len(ranges) >= 2:
                per_bucket.append(_overlap_fraction(ranges))
        if per_bucket:
            zone_overlap[col] = round(sum(per_bucket) / len(per_bucket), 4)
    degraded = [c for c, f in zone_overlap.items() if f > zorder_overlap_threshold]
    recommend_z = bool(degraded) and n_files >= 8
    return {
        "compact_buckets": compact_buckets,
        "expire_snapshots": expire_n,
        "zone_overlap": zone_overlap,
        "zorder": {"recommend": recommend_z, "columns": stats_cols if recommend_z else []},
        "file_count": n_files,
        "bucket_count": len(files),
        "delta_buckets": deltas,
    }


def run_maintenance(
    table: LakeTable,
    plan: dict | None = None,
    max_files_per_bucket: int = 4,
    keep_last: int = 3,
) -> dict:
    """Execute a :func:`plan_maintenance` plan (computing one if not
    given): z-order rewrite when recommended (it also folds every
    bucket, superseding binpack compaction), else binpack-compact the
    fragmented buckets, then expire snapshots beyond the window.
    Returns the plan augmented with what actually ran."""
    if plan is None:
        plan = plan_maintenance(
            table, max_files_per_bucket=max_files_per_bucket, keep_last=keep_last
        )
    did: dict = {"plan": plan}
    if plan["zorder"]["recommend"]:
        did["zordered_columns"] = zorder_compact(table, plan["zorder"]["columns"])
    elif plan["compact_buckets"]:
        did["compacted_buckets"] = compact(
            table, max_files_per_bucket=max_files_per_bucket,
            fold_all_deltas=False,
        )
    if plan["expire_snapshots"] > 0:
        did["expired"] = expire_snapshots(table, keep_last=keep_last)
    return did
