"""Compaction + snapshot expiry are state-preserving."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.lake.maintenance import compact, expire_snapshots
from spark_cdc.lake.table import LakeTable
from spark_cdc.sources.changelog import generate_change_log
from tests.conftest import assert_df_equal


def _fragment(spark, path, n_batches=6):
    """Append-mode fragmentation with DISJOINT keys per append (a
    keyed table legitimately holds one version per key outside MoR
    deltas; compaction resolves versions, so overlapping plain appends
    would collapse — that collapse is exercised in test_mor.py)."""
    log = generate_change_log(spark, n_events=1500, n_convs=25, seed=6, pct_delete=0.0)
    uniq = log.dropDuplicates(["conv_id", "turn_idx"])
    table = LakeTable.create(spark, path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=2)
    apply_batch(table, uniq.where(F.pmod("turn_idx", F.lit(n_batches)) == 0), batch_id=0)
    for i in range(1, n_batches):
        batch = uniq.where(F.pmod("turn_idx", F.lit(n_batches)) == i)
        table.append(batch.drop("op", "lsn", "op_seq"))
    return table


def test_compact_preserves_state(spark, tmp_table_path):
    table = _fragment(spark, tmp_table_path)
    before = sorted(tuple(r) for r in table.read().collect())
    compacted = compact(table, max_files_per_bucket=1)
    assert compacted, "expected fragmented buckets"
    after = sorted(tuple(r) for r in table.read().collect())
    assert before == after
    # fewer files now
    n_files = sum(len(v) for v in table.manifest["files"].values())
    assert n_files <= table.num_buckets + 1


def test_expire_snapshots(spark, tmp_table_path):
    table = _fragment(spark, tmp_table_path)
    compact(table, max_files_per_bucket=1)
    state = sorted(tuple(r) for r in table.read().collect())
    n_hist_before = len(table.history())
    res = expire_snapshots(table, keep_last=2)
    assert res["removed_manifests"] > 0 and res["removed_data_dirs"] >= 0
    # current state unaffected, reload works
    t2 = LakeTable.load(spark, table.path)
    assert sorted(tuple(r) for r in t2.read().collect()) == state
    assert len(t2.history()) == 2 < n_hist_before


def test_expire_snapshots_removes_orphan_write_dirs(spark, tmp_path):
    """A crash between data write and manifest commit leaves an orphan
    snap-dir no snapshot references; expire_snapshots GCs it (Iceberg
    remove_orphan_files semantics)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spark_cdc.lake.maintenance import expire_snapshots
    from spark_cdc.lake.table import DATA_DIR, LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "t"), T.StructType.fromDDL("id bigint, v string"),
        key_columns=["id"], num_buckets=2,
    )
    for i in range(5):
        table.append(
            spark.range(10).select(
                (F.col("id") + i * 10).alias("id"), F.lit(f"b{i}").alias("v")
            )
        )
    # simulate a crashed write: orphan data dir, never committed
    orphan = os.path.join(str(tmp_path / "t"), DATA_DIR, "snap99-deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-orphan.parquet"), "wb").close()
    before = table.read().count()
    expire_snapshots(table, keep_last=2)
    assert not os.path.exists(orphan)
    assert table.read().count() == before  # live data untouched


def test_compact_selective_delta_policy(spark, tmp_path):
    """fold_all_deltas=False is the steady-state maintenance policy: a
    delta (merge-on-read) bucket compacts only once its file count
    exceeds the threshold, so a pass rewrites O(fragmented buckets) —
    lightly-touched delta buckets keep their files AND their delta
    flag, and reads stay correct through both the partial and the
    final full fold."""
    from spark_cdc.cdc.apply import replay_changes_df

    log = generate_change_log(spark, n_events=1200, n_convs=12, seed=9,
                              pct_delete=0.0).cache()
    table = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD_SCHEMA,
                             key_columns=KEY_COLUMNS, num_buckets=2)
    # batches 0-2 touch all conversations (delta files in BOTH buckets);
    # batches 3-5 are restricted to one conversation, fragmenting ONLY
    # its bucket past the threshold
    for i in range(3):
        b = log.where((F.col("lsn") % 3) == i)
        apply_batch(table, b, batch_id=i, collect_lineage=False, mode="mor")
    hot = log.where(F.col("conv_id") == "conv-0")
    for i in range(3, 6):
        b = hot.where((F.col("lsn") % 3) == i - 3).withColumn(
            "lsn", F.col("lsn") + i * 10_000
        ).withColumn("op_seq", F.col("op_seq") + i * 10_000)
        apply_batch(table, b, batch_id=i, collect_lineage=False, mode="mor")
    per_bucket = {int(b): len(fl) for b, fl in table.manifest["files"].items()}
    assert max(per_bucket.values()) > 4 >= min(per_bucket.values()), per_bucket
    before = sorted(tuple(r) for r in table.read().collect())

    folded = compact(table, max_files_per_bucket=4, fold_all_deltas=False)
    deltas = {int(b) for b in table.manifest.get("delta_buckets", [])}
    assert folded and set(folded).isdisjoint(deltas)
    assert deltas, "the lightly-touched delta bucket must survive the pass"
    assert all(
        len(table.manifest["files"].get(str(b), [])) <= 4 for b in deltas
    )
    assert sorted(tuple(r) for r in table.read().collect()) == before

    # the default full fold clears every delta flag; state still equals
    # the one-shot replay oracle
    compact(table, max_files_per_bucket=1, fold_all_deltas=True)
    assert not table.manifest.get("delta_buckets")
    assert sorted(tuple(r) for r in table.read().collect()) == before


def test_plan_maintenance_manifest_only(spark, tmp_table_path):
    """The planner reads only the manifest: fragmented buckets are
    exactly what compact(fold_all_deltas=False) would rewrite, expiry
    counts the manifests beyond the window, and executing the plan
    clears it without changing table state."""
    from spark_cdc.lake.maintenance import plan_maintenance, run_maintenance

    table = _fragment(spark, tmp_table_path)
    before = sorted(tuple(r) for r in table.read().collect())
    plan = plan_maintenance(table, max_files_per_bucket=1, keep_last=2)
    assert plan["compact_buckets"], "fragmented buckets expected"
    assert plan["expire_snapshots"] > 0
    assert plan["file_count"] > plan["bucket_count"]
    did = run_maintenance(table, plan, max_files_per_bucket=1, keep_last=2)
    assert did.get("compacted_buckets") == plan["compact_buckets"]
    assert did["expired"]["removed_manifests"] > 0
    assert sorted(tuple(r) for r in table.read().collect()) == before
    # plan is now clean
    again = plan_maintenance(table, max_files_per_bucket=1, keep_last=2)
    assert again["compact_buckets"] == [] and again["expire_snapshots"] == 0


def test_plan_maintenance_zorder_degradation(spark, tmp_path):
    """Zone-map degradation drives the recluster advice: a z-ordered
    table starts with low overlap (no recommendation); unclustered
    ingest on top pushes the recorded per-file ranges to near-total
    overlap and trips the recommendation; run_maintenance's z-order
    rewrite restores low overlap."""
    import datetime

    from pyspark.sql import types as T

    from spark_cdc.lake.maintenance import (
        plan_maintenance,
        run_maintenance,
        zorder_compact,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("v", T.LongType(), True),
    ])
    epoch = datetime.datetime(2024, 1, 1)
    tbl = LakeTable.create(spark, str(tmp_path / "t"), schema,
                           key_columns=["k"], num_buckets=2)

    def mk(n, start):
        return spark.range(start, start + n).select(
            F.col("id").alias("k"),
            (F.lit(epoch) + F.make_interval(
                mins=F.pmod(F.col("id") * 7919, F.lit(64 * 1440)))).alias("ts"),
            (F.col("id") % 100).alias("v"),
        )

    tbl.append(mk(8000, 0))
    zorder_compact(tbl, ["ts"], files_per_bucket=8)
    clean = plan_maintenance(tbl)
    assert clean["zone_overlap"]["ts"] < 0.5
    assert not clean["zorder"]["recommend"]
    # unclustered ingest: every append spans the full ts range, so the
    # recorded zone maps of the new files all overlap
    for i in range(4):
        tbl.append(mk(2000, 100_000 + i * 2000))
    degraded = plan_maintenance(tbl)
    assert degraded["zone_overlap"]["ts"] > clean["zone_overlap"]["ts"]
    assert degraded["zorder"]["recommend"]
    assert degraded["zorder"]["columns"] == ["ts"]
    before = sorted((r["k"], r["ts"], r["v"]) for r in tbl.read().collect())
    did = run_maintenance(tbl, degraded)
    assert did.get("zordered_columns") == ["ts"]
    assert sorted((r["k"], r["ts"], r["v"]) for r in tbl.read().collect()) == before
    healed = plan_maintenance(tbl)
    assert not healed["zorder"]["recommend"]
    assert healed["zone_overlap"]["ts"] <= clean["zone_overlap"]["ts"] + 0.05


def test_maintain_cli(spark, tmp_table_path, capsys):
    """`python -m spark_cdc maintain` prints the JSON plan; --apply
    executes it and reports what ran."""
    import json as _json

    from spark_cdc.__main__ import main

    table = _fragment(spark, tmp_table_path)
    state = sorted(tuple(r) for r in table.read().collect())
    assert main(["maintain", "--table", tmp_table_path,
                 "--max-files-per-bucket", "1"]) == 0
    plan = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert plan["compact_buckets"]
    assert main(["maintain", "--table", tmp_table_path,
                 "--max-files-per-bucket", "1", "--apply"]) == 0
    did = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert did["plan"]["compact_buckets"] == plan["compact_buckets"]
    assert did["compacted_buckets"] == plan["compact_buckets"]
    t2 = LakeTable.load(spark, tmp_table_path)
    assert sorted(tuple(r) for r in t2.read().collect()) == state


def _mor_table(spark, path, properties=None):
    """A MoR table with delta buckets: three overlapping batches."""
    log = generate_change_log(spark, n_events=900, n_convs=10, seed=4).cache()
    table = LakeTable.create(spark, path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS,
                             num_buckets=4, properties=properties)
    for i in range(3):
        apply_batch(table, log.where(F.pmod("lsn", F.lit(3)) == i), batch_id=i,
                    mode="mor", collect_lineage=False)
    return table


def test_compact_registers_files_like_a_spark_write(spark, tmp_path):
    """Compaction's files go through the same registration as a Spark
    write: per-file key ranges and zone maps (a timestamp column
    included) equal the values in the written data, the rewritten
    buckets leave ``delta_buckets``, fsck is clean, and the new
    snapshot's ``snap<id>-`` directory tag finds exactly the new
    files, one per bucket."""
    import datetime

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from spark_cdc.lake.fsck import fsck

    table = _mor_table(spark, str(tmp_path / "t"),
                       properties={"stats_columns": ["ts", "turn_idx"]})
    deltas = sorted(table.manifest["delta_buckets"])
    assert deltas
    before = sorted(tuple(r) for r in table.read().collect())
    stored = table.read(include_hidden=True).count()
    compacted = compact(table)
    assert compacted == deltas
    assert sorted(tuple(r) for r in table.read().collect()) == before
    assert table.manifest["summary"]["operation"] == "compact"
    assert not set(table.manifest["delta_buckets"]) & set(compacted)
    tag = f"snap{table.snapshot_id}-"
    files = table.manifest["files"]
    assert all(len(files[str(b)]) == 1 and tag in files[str(b)][0] for b in compacted)

    def rng(data, c):
        out = []
        for v in pc.min_max(data.column(c)).values():
            v = v.as_py()
            if isinstance(v, datetime.datetime):
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None).isoformat(sep=" ")
            out.append(v)
        return out

    for b in compacted:
        rel = files[str(b)][0]
        data = pq.read_table(os.path.join(table.path, rel))
        assert table.manifest["file_stats"][rel] == rng(data, "conv_id")
        assert table.manifest["col_stats"][rel] == {
            "ts": rng(data, "ts"), "turn_idx": rng(data, "turn_idx")
        }
    assert table.last_write_rows == stored
    rep = fsck(table, deep=True)
    assert rep["ok"] and not rep["errors"] and not rep["warnings"], rep


def test_compact_crash_before_commit_leaves_collectable_orphan(spark, tmp_path, monkeypatch):
    """A crash between the per-bucket writes and the commit leaves the
    table at its old snapshot and the written files in an unreferenced
    ``data/snap<id>-*`` directory, which ``expire_snapshots`` removes."""
    from spark_cdc.lake.table import DATA_DIR

    table = _mor_table(spark, str(tmp_path / "t"))
    snap = table.snapshot_id
    before = sorted(tuple(r) for r in table.read().collect())
    dirs = set(os.listdir(os.path.join(table.path, DATA_DIR)))

    def crash(*_a, **_k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(LakeTable, "replace_buckets", crash)
    try:
        compact(table)
    except RuntimeError:
        pass
    else:
        raise AssertionError("compact did not reach the commit")
    monkeypatch.undo()
    orphans = set(os.listdir(os.path.join(table.path, DATA_DIR))) - dirs
    assert len(orphans) == 1 and next(iter(orphans)).startswith(f"snap{snap + 1}-")
    orphan = os.path.join(table.path, DATA_DIR, next(iter(orphans)))
    assert any(f.endswith(".parquet") for _, _, fs in os.walk(orphan) for f in fs)
    table = LakeTable.load(spark, table.path)
    assert table.snapshot_id == snap
    assert sorted(tuple(r) for r in table.read().collect()) == before
    expire_snapshots(table, keep_last=1)
    assert not os.path.exists(orphan)
    assert sorted(tuple(r) for r in table.read().collect()) == before


def test_compacted_file_types_match_a_spark_written_file(spark, tmp_path):
    """Spark and DuckDB read a compacted file back with the types they
    read from a file Spark wrote for the same table, and Spark's types
    are the table's: UTC-adjusted INT64 microsecond timestamps, dates,
    decimals, lists and maps included."""
    import datetime
    import decimal

    import duckdb
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "id bigint, s string, i int, d double, ts timestamp, dt date, "
        "dec decimal(10,2), flag boolean, vec array<float>, tags map<string,int>"
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), schema, key_columns=["id"],
                             num_buckets=1)
    t0 = datetime.datetime(2024, 1, 1, 12, 30, 0, 123456)
    rows = [
        (k, f"s{k}", k % 7, k / 3, t0 + datetime.timedelta(minutes=k),
         datetime.date(2024, 1, 1 + k % 28), decimal.Decimal(k) / 4,
         k % 2 == 0, [float(k), 0.5], {"a": k})
        for k in range(60)
    ]
    for lo in (0, 20, 40):
        table.append(spark.createDataFrame(rows[lo:lo + 20], schema))
    spark_file = os.path.join(table.path, table.manifest["files"]["0"][0])
    before = sorted(tuple(r) for r in table.read().collect())
    compact(table, max_files_per_bucket=0)
    (rel,) = table.manifest["files"]["0"]
    arrow_file = os.path.join(table.path, rel)
    assert sorted(tuple(r) for r in table.read().collect()) == before

    def spark_types(path):
        return {f.name: f.dataType.simpleString() for f in spark.read.parquet(path).schema}

    want = {f.name: f.dataType.simpleString() for f in table.schema}
    assert spark_types(arrow_file) == spark_types(spark_file) == want

    def duck_types(path):
        return duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()

    assert [r[:2] for r in duck_types(arrow_file)] == [r[:2] for r in duck_types(spark_file)]
    assert dict((r[0], r[1]) for r in duck_types(arrow_file))["ts"] == "TIMESTAMP WITH TIME ZONE"

    # a merge writes its files with the same kernel, in both modes
    from spark_cdc.lake.merge import merge_changes

    changes = spark.createDataFrame(rows[:10], schema).select(
        "*", F.lit("u").alias("op"), F.col("id").alias("op_seq")
    )
    for mode in ("mor", "cow"):
        res = merge_changes(table, changes, mode=mode, collect_stats=False)
        (rel,) = [f for f in table.manifest["files"]["0"] if f"snap{res.snapshot_id}-" in f]
        merged_file = os.path.join(table.path, rel)
        assert spark_types(merged_file) == spark_types(spark_file), mode
        assert [r[:2] for r in duck_types(merged_file)] == [
            r[:2] for r in duck_types(spark_file)
        ], mode
