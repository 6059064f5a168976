"""LakeTable format: snapshot isolation, append, time travel, schema
evolution (ADD COLUMN null backfill), bucket pruning."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.cdc.envelope import PAYLOAD_SCHEMA
from spark_cdc.lake.table import LakeTable, bucket_expr, bucket_ids
from spark_cdc.sources.changelog import generate_transcripts


def test_create_append_read(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=["conv_id", "turn_idx"], num_buckets=8
    )
    assert t.snapshot_id == 0
    assert t.read().count() == 0
    df = generate_transcripts(spark, n_convs=20, turns_per_conv=4)
    t.append(df)
    assert t.snapshot_id == 1
    assert t.read().count() == 80
    # reload from disk sees the same snapshot
    t2 = LakeTable.load(spark, tmp_table_path)
    assert t2.snapshot_id == 1
    assert t2.read().count() == 80


def test_time_travel(spark, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=["conv_id", "turn_idx"])
    t.append(generate_transcripts(spark, 5, 2))
    t.append(generate_transcripts(spark, 3, 2))
    assert t.read().count() == 16
    assert t.read(snapshot_id=1).count() == 10
    assert t.read(snapshot_id=0).count() == 0
    assert [m["snapshot_id"] for m in t.history()] == [0, 1, 2]


def test_bucket_pruning_reads_subset(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=["conv_id", "turn_idx"], num_buckets=8
    )
    df = generate_transcripts(spark, 50, 2)
    t.append(df)
    # rows in bucket b, read via pruning, equal rows filtered by the same hash
    want = (
        df.withColumn("_b", bucket_expr("conv_id", 8)).where(F.col("_b") == 3).drop("_b").count()
    )
    got = t.read(buckets=[3]).count()
    assert got == want and got > 0


def test_schema_evolution_null_backfill(spark, tmp_table_path):
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, tmp_table_path, schema, key_columns=["conv_id", "turn_idx"])
    old = spark.createDataFrame(
        [("c1", 0, "hello")], "conv_id string, turn_idx int, text string"
    )
    t.append(old)
    t.add_columns([T.StructField("tool", T.StringType(), True)])
    # old files read back with the evolved schema: tool is null
    rows = t.read().collect()
    assert rows[0]["tool"] is None
    new = spark.createDataFrame(
        [("c2", 0, "hi", "search")], "conv_id string, turn_idx int, text string, tool string"
    )
    t.append(new)
    got = {r["conv_id"]: r["tool"] for r in t.read().collect()}
    assert got == {"c1": None, "c2": "search"}


def test_read_changes_net_diff(spark, tmp_table_path):
    import datetime

    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import CHANGE_SCHEMA
    from spark_cdc.lake.maintenance import compact

    t = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=["conv_id", "turn_idx"], num_buckets=8
    )

    def ev(lsn, op, conv, turn, text, ts):
        return (lsn, lsn, op, conv, turn, "user", text, None, ts)

    ts0 = datetime.datetime(2024, 1, 1)
    ts1 = datetime.datetime(2024, 1, 2)
    b0 = spark.createDataFrame(
        [ev(1, "c", "c1", 0, "a", ts0), ev(2, "c", "c1", 1, "b", ts0), ev(3, "c", "c2", 0, "c", ts0)],
        CHANGE_SCHEMA,
    )
    apply_batch(t, b0, batch_id=0, collect_lineage=False)
    snap_a = t.snapshot_id
    b1 = spark.createDataFrame(
        [
            ev(4, "u", "c1", 0, "a2", ts1),
            ev(5, "c", "c1", 1, "b", ts0),  # identical payload rewrite -> nets out
            ev(6, "d", "c2", 0, "c", ts1),
            ev(7, "c", "c3", 0, "d", ts1),
        ],
        CHANGE_SCHEMA,
    )
    apply_batch(t, b1, batch_id=1, collect_lineage=False)
    feed = {
        (r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"])
        for r in t.read_changes(snap_a).collect()
    }
    assert feed == {
        ("c1", 0): ("update_postimage", "a2"),
        ("c2", 0): ("delete", "c"),
        ("c3", 0): ("insert", "d"),
    }
    # identical snapshots and maintenance-only commits net to an empty feed
    snap_b = t.snapshot_id
    compact(t, drop_tombstones=True)
    assert t.read_changes(snap_a, snap_a).count() == 0
    assert t.read_changes(snap_b).count() == 0
    # the same net diff holds when the 'to' side was compacted meanwhile
    feed2 = {
        (r["conv_id"], r["turn_idx"]): r["_change_type"]
        for r in t.read_changes(snap_a).collect()
    }
    assert feed2 == {
        ("c1", 0): "update_postimage",
        ("c2", 0): "delete",
        ("c3", 0): "insert",
    }


def test_file_stats_pruning_and_lookup(spark, tmp_table_path):
    """Manifest-level data-file skipping: per-file key min/max recorded
    at write time prunes files inside a bucket for point/range reads,
    and MoR resolution still sees every generation covering the key."""
    import datetime

    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import CHANGE_SCHEMA

    t = LakeTable.create(
        spark, tmp_table_path, PAYLOAD_SCHEMA, key_columns=["conv_id", "turn_idx"], num_buckets=1
    )

    def batch(lsns, convs, text, day):
        return spark.createDataFrame(
            [
                (lsn, lsn, "c", f"c{c:03d}", 0, "user", text, None,
                 datetime.datetime(2024, 1, day))
                for lsn, c in zip(lsns, convs)
            ],
            CHANGE_SCHEMA,
        )

    # three MoR generations in ONE bucket with known key ranges:
    # gen1 c000-c099, gen2 c100-c199, gen3 updates c000 only
    apply_batch(t, batch(range(0, 100), range(0, 100), "v1", 1),
                batch_id=0, mode="mor", collect_lineage=False)
    apply_batch(t, batch(range(100, 200), range(100, 200), "v1", 1),
                batch_id=1, mode="mor", collect_lineage=False)
    apply_batch(t, batch([200], [0], "v2", 2),
                batch_id=2, mode="mor", collect_lineage=False)

    stats = t.manifest["file_stats"]
    all_files = [f for fl in t.manifest["files"].values() for f in fl]
    assert len(all_files) == 3 and set(stats) == set(all_files)
    assert sorted(tuple(s) for s in stats.values()) == [
        ("c000", "c000"), ("c000", "c099"), ("c100", "c199"),
    ]
    # file skipping prunes to the covering generation only (the list
    # read() resolves)...
    assert len(t.selected_files(key_between=("c150", "c150"))) == 1
    pruned = t.read(key_between=("c150", "c150"))
    # ...and the built-in row predicate keeps out-of-range keys from
    # surfacing (possibly stale-resolved) rows
    assert [(r["conv_id"], r["text"]) for r in pruned.collect()] == [("c150", "v1")]
    assert t.read().count() == 200
    # an out-of-range key whose newest version lives in a pruned file
    # must not resurface its older version from a kept file
    assert t.read(key_between=("c001", "c099")).where("conv_id = 'c000'").count() == 0
    # point lookup: both covering generations kept, latest version wins
    got = t.lookup("c000").collect()
    assert [(r["conv_id"], r["text"]) for r in got] == [("c000", "v2")]
    want = [(r["conv_id"], r["text"])
            for r in t.read().where("conv_id = 'c150'").collect()]
    assert [(r["conv_id"], r["text"]) for r in t.lookup("c150").collect()] == want


def test_bucket_column_must_be_a_key(spark, tmp_path):
    """Buckets resolve on their own and key predicates on the bucket
    column apply before resolution, so a keyed table must bucket on one
    of its keys. Bucketed on ``role``, a key (a, 0) that moves from
    ``user`` to ``assistant`` would keep its stale version in the other
    bucket; ``create`` refuses that table. Bucketed on the second key
    column, the same two versions resolve to the newer one."""
    import datetime

    import pytest

    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import CHANGE_SCHEMA

    keys = ["conv_id", "turn_idx"]
    with pytest.raises(ValueError, match="bucket_column"):
        LakeTable.create(spark, str(tmp_path / "role"), PAYLOAD_SCHEMA,
                         key_columns=keys, bucket_column="role", num_buckets=4)
    assert not (tmp_path / "role").exists()
    t = LakeTable.create(spark, str(tmp_path / "turn"), PAYLOAD_SCHEMA,
                         key_columns=keys, bucket_column="turn_idx", num_buckets=4)
    day = datetime.datetime(2024, 1, 1)
    changes = spark.createDataFrame(
        [(0, 0, "c", "a", 0, "user", "v1", None, day),
         (1, 1, "u", "a", 0, "assistant", "v2", None, day + datetime.timedelta(seconds=1))],
        CHANGE_SCHEMA,
    )
    apply_batch(t, changes.where("lsn = 0"), batch_id=0, mode="mor", collect_lineage=False)
    apply_batch(t, changes.where("lsn = 1"), batch_id=1, mode="mor", collect_lineage=False)
    want = [("a", 0, "assistant", "v2")]
    for df in (t.read(), t.lookup(0)):
        assert [tuple(r) for r in df.select("conv_id", "turn_idx", "role", "text").collect()] == want
    assert t.lookup(7).collect() == []  # no file holds the key


def test_commit_conflict_detected_not_lost(spark, tmp_path):
    """Two writers from the same base snapshot: the second commit must
    raise CommitConflictError, never silently overwrite the winner
    (lost update). refresh() + re-merge recovers."""
    import datetime

    import pytest

    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import CHANGE_SCHEMA
    from spark_cdc.lake.table import CommitConflictError

    path = str(tmp_path / "t")
    a = LakeTable.create(spark, path, PAYLOAD_SCHEMA,
                         key_columns=["conv_id", "turn_idx"], num_buckets=2)
    b = LakeTable.load(spark, path)

    def ev(lsn, conv, text):
        return (lsn, lsn, "c", conv, 0, "user", text,
                None, datetime.datetime(2024, 1, 1))

    apply_batch(a, spark.createDataFrame([ev(1, "c1", "from-a")], CHANGE_SCHEMA),
                batch_id=0, collect_lineage=False)
    # b is stale at snapshot 0; its merge must fail the commit
    with pytest.raises(CommitConflictError):
        apply_batch(b, spark.createDataFrame([ev(2, "c2", "from-b")], CHANGE_SCHEMA),
                    batch_id=0, collect_lineage=False)
    # a's committed row is intact; recovery = refresh + re-run
    b.refresh()
    apply_batch(b, spark.createDataFrame([ev(2, "c2", "from-b")], CHANGE_SCHEMA),
                batch_id=1, collect_lineage=False)
    got = {(r["conv_id"], r["text"]) for r in b.read().collect()}
    assert got == {("c1", "from-a"), ("c2", "from-b")}


def test_fsck_repairs_manifest_ahead_of_version(spark, tmp_path, capsys):
    """A crashed commit's manifest ahead of VERSION is reported as a
    warning, blocks the next writer's O_EXCL claim, and `check
    --repair` clears it so writes proceed."""
    import datetime
    import json as _json
    import os as _os

    import pytest

    from spark_cdc.__main__ import main
    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import CHANGE_SCHEMA
    from spark_cdc.lake.fsck import fsck
    from spark_cdc.lake.table import META_DIR, CommitConflictError

    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, PAYLOAD_SCHEMA,
                         key_columns=["conv_id", "turn_idx"], num_buckets=2)
    # simulate the crash: manifest for snapshot 1 exists, VERSION still 0
    with open(_os.path.join(path, META_DIR, "snap-1.json"), "w") as f:
        f.write("{}")
    rep = fsck(t)
    assert rep["ok"] and any("ahead of VERSION" in w for w in rep["warnings"])
    batch = spark.createDataFrame(
        [(1, 1, "c", "c1", 0, "user", "x", None, datetime.datetime(2024, 1, 1))],
        CHANGE_SCHEMA)
    with pytest.raises(CommitConflictError):
        apply_batch(t, batch, batch_id=0, collect_lineage=False)
    # age guard (round-4 advisory): a FRESH ahead-of-VERSION manifest is
    # indistinguishable from a live in-flight commit — repair must
    # refuse it and say so
    assert main(["check", "--table", path, "--repair"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "repaired_manifests" not in out
    assert any("in-flight" in w for w in out["warnings"])
    # once demonstrably stale (mtime past the age bound) repair clears it
    snap1 = _os.path.join(path, META_DIR, "snap-1.json")
    import time as _time

    past = _time.time() - 3600
    _os.utime(snap1, (past, past))
    assert main(["check", "--table", path, "--repair"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["repaired_manifests"] == [1]
    apply_batch(t, batch, batch_id=0, collect_lineage=False)
    assert t.read().count() == 1


def test_create_race_fresh_claim_conflicts_stale_reclaims(spark, tmp_path):
    """Creation-path OCC (round-4 advisory): while a concurrent CREATE's
    snap-0 claim is fresh and VERSION absent, a second CREATE must raise
    CommitConflictError instead of truncating the claim (lost update);
    once the orphan claim is stale (crashed CREATE), re-claim succeeds."""
    import os as _os
    import time as _time

    import pytest

    from spark_cdc.lake.table import META_DIR, VERSION_FILE, CommitConflictError

    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, PAYLOAD_SCHEMA,
                         key_columns=["conv_id", "turn_idx"], num_buckets=2)
    # rewind to the mid-CREATE state: snap-0 claimed, VERSION not yet written
    _os.remove(_os.path.join(path, META_DIR, VERSION_FILE))
    with pytest.raises(CommitConflictError, match="in flight"):
        LakeTable.create(spark, path, PAYLOAD_SCHEMA,
                         key_columns=["conv_id", "turn_idx"], num_buckets=2)
    # crashed CREATE: the claim ages past the grace window -> re-claimable
    snap0 = _os.path.join(path, META_DIR, "snap-0.json")
    past = _time.time() - 120
    _os.utime(snap0, (past, past))
    t2 = LakeTable.create(spark, path, PAYLOAD_SCHEMA,
                          key_columns=["conv_id", "turn_idx"], num_buckets=2)
    assert t2.snapshot_id == 0 and t2.read().count() == 0


HASH_STRINGS = [
    None, "", "a", "conv-17", "é", "日本語のテキスト", "emoji 🙂 tail",
    "x" * 7, "x" * 8, "x" * 12, "x" * 31, "x" * 32, "x" * 33, "y" * 100,
    "ab" * 40 + "é",
]
HASH_INTS = [None, 0, 1, -1, 7, 2**31 - 1, -(2**31), 123456789]


def test_bucket_ids_match_spark_xxhash64(spark):
    """The driver-side hash is Spark's: ``pmod(xxhash64(v), n)`` for
    string, int and bigint values, null included (it hashes to the
    seed), for both word paths of XXH64 (< 32 and >= 32 bytes) and
    multi-byte UTF-8. An int and a bigint of the same value hash
    differently, as in Spark."""
    for n in (1, 7, 32):
        got = bucket_ids(HASH_STRINGS, T.StringType(), n)
        want = [
            r[0] for r in spark.createDataFrame([(v,) for v in HASH_STRINGS], "s string")
            .select(F.pmod(F.xxhash64("s"), F.lit(n))).collect()
        ]
        assert got == want, n
        for ddl, dtype in (("int", T.IntegerType()), ("bigint", T.LongType())):
            want = [
                r[0] for r in spark.createDataFrame([(v,) for v in HASH_INTS], f"i {ddl}")
                .select(F.pmod(F.xxhash64("i"), F.lit(n))).collect()
            ]
            assert bucket_ids(HASH_INTS, dtype, n) == want, (ddl, n)
    assert bucket_ids([5], T.IntegerType(), 1000) != bucket_ids([5], T.LongType(), 1000)
    # outside the ported set: the caller falls back to Spark
    assert bucket_ids(["a"], T.DateType(), 4) is None
    assert bucket_ids([1], T.StringType(), 4) is None
    assert bucket_ids([True], T.IntegerType(), 4) is None
    assert bucket_ids([2**31], T.IntegerType(), 4) is None


def test_buckets_for_unchanged(spark, tmp_path):
    """``buckets_for`` returns what the Spark hash job returned, for
    each ported bucket-column type and for a date column, which still
    runs the job."""
    import datetime

    cases = [
        ("k string", [v for v in HASH_STRINGS if v is not None] + [None]),
        ("k int", HASH_INTS),
        ("k bigint", HASH_INTS + [2**40, -(2**40)]),
        ("k date", [datetime.date(2024, 1, d) for d in range(1, 20)]),
    ]
    for i, (ddl, values) in enumerate(cases):
        schema = T.StructType.fromDDL(f"{ddl}, v string")
        t = LakeTable.create(spark, str(tmp_path / f"t{i}"), schema,
                             key_columns=["k"], num_buckets=8)
        want = sorted(
            r[0] for r in spark.createDataFrame([(v,) for v in values], ddl)
            .select(bucket_expr("k", 8)).distinct().collect()
        )
        assert t.buckets_for(values) == want, ddl
