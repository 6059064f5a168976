"""Z-order clustering + multi-column zone maps: after zorder_compact,
range probes on EITHER clustered column skip most data files while
results stay exactly equal to a full-scan filter; MoR multi-version
buckets are never zone-pruned (stale-resurrection guard)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.lake.maintenance import zorder_compact
from spark_cdc.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)

EPOCH = datetime.datetime(2024, 1, 1)


def _mk_table(spark, path, n=40_000, buckets=4):
    tbl = LakeTable.create(spark, path, SCHEMA, key_columns=["k"], num_buckets=buckets)
    # ts decorrelated from k's hash-bucket: every bucket spans the full
    # 64-day range, so pre-clustering a time probe can prune nothing
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.lit(EPOCH) + F.make_interval(mins=F.pmod(F.col("id") * 7919, F.lit(64 * 1440)))).alias("ts"),
        (F.col("id") % 100).alias("v"),
    )
    tbl.append(df)
    return tbl


def _rows(df):
    return sorted((r["k"], r["ts"], r["v"]) for r in df.collect())


def test_zorder_prunes_files_and_preserves_results(spark, tmp_path):
    tbl = _mk_table(spark, str(tmp_path / "t"))
    lo, hi = EPOCH + datetime.timedelta(days=10), EPOCH + datetime.timedelta(days=14)
    window = {"ts": (lo, hi)}
    want = _rows(tbl.read().where(F.col("ts").between(F.lit(lo), F.lit(hi))))
    assert len(want) > 1000

    # before clustering: no zone maps → the probe reads every file
    before = tbl.selected_files(zone_between=window)
    assert len(before) == len(tbl.selected_files())

    cols = zorder_compact(tbl, ["k", "ts"], files_per_bucket=16)
    assert cols == ["k", "ts"]
    assert tbl.properties["stats_columns"] == ["k", "ts"]

    total = tbl.selected_files()
    assert len(total) >= 32  # multiple files per bucket → sub-bucket zones
    pruned = tbl.selected_files(zone_between=window)
    # a 4/64-day window must skip well over half the files
    assert len(pruned) <= len(total) // 2, (len(pruned), len(total))
    assert _rows(tbl.read(zone_between=window)) == want

    # the OTHER clustered column prunes too (the property lexicographic
    # key-sort cannot give): a narrow k range
    kwin = {"k": (1000, 4999)}
    kpruned = tbl.selected_files(zone_between=kwin)
    assert len(kpruned) <= len(total) // 2, (len(kpruned), len(total))
    got = _rows(tbl.read(zone_between=kwin))
    assert got == _rows(tbl.read().where(F.col("k").between(1000, 4999)))


def test_zone_maps_recorded_on_subsequent_writes(spark, tmp_path):
    tbl = _mk_table(spark, str(tmp_path / "t"), n=5_000)
    zorder_compact(tbl, ["ts"], files_per_bucket=2)
    # a later plain append (post-OPTIMIZE ingest) records zone maps too
    extra = spark.range(5_000, 6_000).select(
        F.col("id").alias("k"),
        F.lit(EPOCH + datetime.timedelta(days=400)).alias("ts"),
        F.lit(7).alias("v"),
    )
    tbl.append(extra)
    far = {"ts": (EPOCH + datetime.timedelta(days=399),
                  EPOCH + datetime.timedelta(days=401))}
    sel = tbl.selected_files(zone_between=far)
    # only the freshly-appended files can hold day-400 rows
    assert 0 < len(sel) < len(tbl.selected_files())
    assert tbl.read(zone_between=far).count() == 1000


def test_zone_pruning_never_resurrects_mor_versions(spark, tmp_path):
    """An update that moves a key's ts OUT of the probed window must
    make the key vanish from the windowed read — even though the delta
    file holding the new version has out-of-range stats. Guarded by
    (a) no zone file-pruning in delta buckets, (b) the row predicate
    applying after MoR resolution."""
    from spark_cdc.lake.merge import merge_changes

    tbl = _mk_table(spark, str(tmp_path / "t"), n=2_000)
    zorder_compact(tbl, ["ts"], files_per_bucket=2)
    lo, hi = EPOCH + datetime.timedelta(days=10), EPOCH + datetime.timedelta(days=14)
    window = {"ts": (lo, hi)}
    in_window = _rows(tbl.read(zone_between=window))
    moved_k = in_window[0][0]
    # MoR-append a newer version of that key far outside the window
    newer = spark.createDataFrame(
        [(moved_k, EPOCH + datetime.timedelta(days=500), 99)], SCHEMA
    ).select("*", F.lit("u").alias("op"), F.lit(10_000_000).cast("long").alias("op_seq"))
    merge_changes(tbl, newer, mode="mor")
    got = _rows(tbl.read(zone_between=window))
    assert moved_k not in {r[0] for r in got}
    assert got == [r for r in in_window if r[0] != moved_k]
    # and the moved key resolves to its NEW version on a plain read
    row = tbl.read().where(F.col("k") == moved_k).collect()
    assert len(row) == 1 and row[0]["v"] == 99


def test_zorder_string_column_prefix_clustering(spark, tmp_path):
    """String columns cluster by lexicographic prefix rank: a range
    probe on an external string id (crawl/source ids — high
    cardinality, roughly uniform prefix space) skips most files. (A
    LOW-cardinality bunched-prefix string like a language tag gets
    coarse cells under the linear rank normalization — that use-case
    is bucketing's, not z-order's; documented in zorder_compact.)"""
    tbl = LakeTable.create(
        spark, str(tmp_path / "docs"),
        T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("ext_id", T.StringType(), True),
            T.StructField("n_tokens", T.LongType(), True),
        ]),
        key_columns=["doc_id"], num_buckets=4,
    )
    tbl.append(spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.format_string("c%05d", F.pmod(F.col("id") * 7919, F.lit(20_000))).alias("ext_id"),
        (F.col("id") % 512).alias("n_tokens"),
    ))
    zorder_compact(tbl, ["ext_id", "n_tokens"], files_per_bucket=16)
    total = tbl.selected_files()
    win = {"ext_id": ("c01000", "c01999")}  # 1/20 of the id space
    kept = tbl.selected_files(zone_between=win)
    assert len(kept) <= len(total) // 2, (len(kept), len(total))
    got = sorted(r["doc_id"] for r in tbl.read(zone_between=win).collect())
    want = sorted(
        r["doc_id"]
        for r in tbl.read().where(F.col("ext_id").between("c01000", "c01999")).collect()
    )
    assert got == want and len(want) == 1000


def test_zorder_rejects_bad_columns(spark, tmp_path):
    tbl = _mk_table(spark, str(tmp_path / "t"), n=100)
    import pytest

    tbl2 = LakeTable.create(
        spark, str(tmp_path / "s"),
        T.StructType([T.StructField("a", T.ArrayType(T.LongType()), True)]),
    )
    tbl2.append(spark.createDataFrame([([1, 2],)], "a array<bigint>"))
    with pytest.raises(ValueError, match="zorder column"):
        zorder_compact(tbl2, ["a"])
    with pytest.raises(ValueError, match="unknown column"):
        zorder_compact(tbl, ["nope"])


def test_zorder_quantile_normalization_under_skew(spark, tmp_path):
    """Skewed value distribution: linear min/max normalization dumps
    the dense 90% of rows into one z-cell (their file zones all cover
    the dense range, so a dense-region probe reads almost everything);
    equal-frequency quantile normalization spreads them across cells
    and the same probe prunes most files. Results stay exactly equal
    to a full-scan filter in both modes."""
    n = 40_000

    def mk():
        # 90% of rows have v in [0, 100); 10% long-tail to 1e9
        return spark.range(n).select(
            F.col("id").alias("k"),
            (F.lit(EPOCH) + F.make_interval(
                mins=F.pmod(F.col("id") * 7919, F.lit(64 * 1440)))).alias("ts"),
            F.when(F.pmod("id", F.lit(10)) < 9, F.pmod(F.col("id") * 31, F.lit(100)))
            .otherwise(F.pmod(F.col("id") * 2654435761, F.lit(1_000_000_000)))
            .cast("long").alias("v"),
        )

    probe = {"v": (10, 20)}

    kept = {}
    rows = {}
    for mode in ("minmax", "quantile"):
        tbl = LakeTable.create(spark, str(tmp_path / mode), SCHEMA,
                               key_columns=["k"], num_buckets=4)
        tbl.append(mk())
        zorder_compact(tbl, ["ts", "v"], files_per_bucket=16, normalization=mode)
        total = len(tbl.selected_files())
        kept[mode] = len(tbl.selected_files(zone_between=probe)) / total
        rows[mode] = _rows(tbl.read(zone_between=probe).where(
            F.col("v").between(10, 20)))
    assert rows["minmax"] == rows["quantile"]
    assert len(rows["minmax"]) > 1000
    # minmax reads nearly everything (dense cell collapse); quantile
    # prunes hard — at least 2x fewer files, typically much more
    assert kept["quantile"] <= kept["minmax"] / 2, kept
    assert kept["quantile"] <= 0.5, kept
