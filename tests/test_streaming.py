"""Structured Streaming runner: checkpointed resume, exactly-once
across restarts, and the persisted-watermark batch runner."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_cdc.cdc.apply import replay_changes_df
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.cdc.runner import IncrementalRunner
from spark_cdc.lake.table import LakeTable
from spark_cdc.metrics import MetricsLog
from spark_cdc.sources.changelog import generate_change_log
from spark_cdc.streaming import StreamRunner
from tests.conftest import assert_df_equal


def _write_phase(log, lo, hi, out_dir):
    (
        log.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        .coalesce(2)
        .write.mode("append")
        .parquet(out_dir)
    )


def test_stream_resume_and_exactly_once(spark, tmp_path):
    log = generate_change_log(spark, n_events=3000, n_convs=50, seed=21)
    src = str(tmp_path / "changelog")
    ckpt = str(tmp_path / "ckpt")
    tpath = str(tmp_path / "table")
    table = LakeTable.create(spark, tpath, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4)

    _write_phase(log, 0, 1500, src)
    r1 = StreamRunner(spark, table, src, ckpt, max_files_per_trigger=1)
    r1.run_available()
    assert r1.batches >= 1
    mid_state = table.read().count()
    assert mid_state > 0

    # "restart": new runner over same checkpoint; more data arrives
    _write_phase(log, 1500, 3001, src)
    r2 = StreamRunner(spark, LakeTable.load(spark, tpath), src, ckpt)
    r2.run_available()

    final = LakeTable.load(spark, tpath).read()
    expect = replay_changes_df(log, KEY_COLUMNS).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    assert_df_equal(final, expect, KEY_COLUMNS)

    # replaying the whole stream into the same table with a FRESH
    # checkpoint (worst-case redelivery) leaves state unchanged
    r3 = StreamRunner(
        spark, LakeTable.load(spark, tpath), src, str(tmp_path / "ckpt2"),
        source_id="stream2",
    )
    r3.run_available()
    assert_df_equal(LakeTable.load(spark, tpath).read(), expect, KEY_COLUMNS)


def test_stream_metrics_recorded(spark, tmp_path):
    log = generate_change_log(spark, n_events=500, n_convs=10, seed=2)
    src = str(tmp_path / "src")
    log.coalesce(1).write.parquet(src)
    tpath = str(tmp_path / "t")
    table = LakeTable.create(spark, tpath, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=2)
    metrics = MetricsLog(spark, str(tmp_path / "metrics"))
    runner = StreamRunner(
        spark, table, src, str(tmp_path / "ck"),
        on_batch=lambda bid, res: metrics.record(res, source_id="stream", batch_id=bid),
    )
    runner.run_available()
    m = metrics.read()
    batch_rows = m.where(F.col("scope") == "batch").collect()
    part_rows = m.where(F.col("scope") == "partition").collect()
    assert len(batch_rows) >= 1 and len(part_rows) >= 1
    assert batch_rows[0]["min_lsn"] == 0 and batch_rows[0]["max_lsn"] == 499
    assert batch_rows[0]["rows_written"] > 0


def test_incremental_runner_persisted_watermark(spark, tmp_path):
    log = generate_change_log(spark, n_events=1000, n_convs=20, seed=4)
    src = str(tmp_path / "src")
    log.write.parquet(src)
    tpath = str(tmp_path / "t")
    table = LakeTable.create(spark, tpath, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=2)

    runner = IncrementalRunner(table)
    changelog = spark.read.parquet(src)
    c1 = runner.run_cycle(changelog.where(F.col("lsn") < 600))
    assert c1.watermark_before == -1 and c1.watermark_after == 599
    # second cycle over the SAME slice: zero fresh events (no-op,
    # mirrors reference tests/test_integration.py:95-106)
    c2 = runner.run_cycle(changelog.where(F.col("lsn") < 600))
    assert c2.merge.batch_rows == 0 and c2.watermark_after == 599

    # restart: a brand-new runner over a reloaded table resumes from
    # the persisted watermark (the reference lost it, pipeline.py:197-202)
    runner2 = IncrementalRunner(LakeTable.load(spark, tpath))
    assert runner2.watermark == 599
    c3 = runner2.run_cycle(changelog)
    assert c3.merge.min_lsn == 600 and c3.watermark_after == 1000 - 1

    expect = replay_changes_df(log, KEY_COLUMNS).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    assert_df_equal(runner2.table.read(), expect, KEY_COLUMNS)


def test_multi_table_stream_routing(spark, tmp_path):
    """One Kafka-frame stream fanned out to two tables through a single
    checkpointed query: rows route by topic, each table converges to
    its own final state, and a second run with new frames resumes from
    the checkpoint."""
    import datetime
    import json as _json

    from spark_cdc.cdc.envelope import KAFKA_FRAME_SCHEMA, KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.streaming import MultiTableStreamRunner

    src = str(tmp_path / "frames")
    ckpt = str(tmp_path / "ckpt")

    def frames(msgs, topic, offset0):
        rows = [
            (
                _json.dumps({"conv_id": m["conv_id"]}).encode(),
                _json.dumps(m).encode(),
                topic,
                0,
                offset0 + i,
                datetime.datetime(2024, 3, 5, 10, 0, i),
            )
            for i, m in enumerate(msgs)
        ]
        return spark.createDataFrame(rows, KAFKA_FRAME_SCHEMA)

    t_msgs = [
        {"op": "c", "conv_id": "a", "turn_idx": 0, "role": "user",
         "text": "t1", "ts": "2024-03-05T10:00:00Z"},
        {"op": "u", "conv_id": "a", "turn_idx": 0, "role": "user",
         "text": "t2", "ts": "2024-03-05T10:00:05Z"},
    ]
    s_msgs = [
        {"op": "c", "conv_id": "x", "turn_idx": 1, "role": "assistant",
         "text": "s1", "ts": "2024-03-05T10:00:01Z"},
    ]
    frames(t_msgs, "pg.public.transcripts", 100).repartition(1).write.mode(
        "append"
    ).parquet(src)
    frames(s_msgs, "pg.public.sessions", 200).repartition(1).write.mode(
        "append"
    ).parquet(src)

    tables = {
        name: LakeTable.create(
            spark, str(tmp_path / name), PAYLOAD_SCHEMA,
            key_columns=KEY_COLUMNS, num_buckets=4,
        )
        for name in ("transcripts", "sessions")
    }
    runner = MultiTableStreamRunner(spark, tables, src, ckpt)
    runner.run_available()
    t_state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tables["transcripts"].read().collect()}
    s_state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tables["sessions"].read().collect()}
    assert t_state == {("a", 0): "t2"}
    assert s_state == {("x", 1): "s1"}

    # resume: new frames only (a delete for sessions) picked up from ckpt
    frames(
        [{"op": "d", "conv_id": "x", "turn_idx": 1, "ts": "2024-03-05T10:00:09Z"}],
        "pg.public.sessions",
        300,
    ).repartition(1).write.mode("append").parquet(src)
    MultiTableStreamRunner(spark, tables, src, ckpt).run_available()
    assert tables["sessions"].read().count() == 0
    assert {(r["conv_id"], r["turn_idx"]) for r in tables["transcripts"].read().collect()} == {("a", 0)}


def test_streaming_mor_with_auto_compaction(spark, tmp_path):
    """MoR streaming with compact_every: delta buckets are folded back
    during the run (bounded read amplification under a continuous
    tail), final state identical to the replay oracle."""
    from pyspark.sql import functions as F

    from spark_cdc.cdc.apply import replay_changes_df
    from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.sources.changelog import generate_change_log
    from spark_cdc.streaming import StreamRunner

    src = str(tmp_path / "log")
    log = generate_change_log(spark, n_events=4000, n_convs=80, seed=9, partitions=6)
    log.write.mode("overwrite").parquet(src)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4
    )
    runner = StreamRunner(
        spark, table, src, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, mode="mor", compact_every=2,
    )
    assert runner.run_available() >= 2
    # compaction ran mid-stream: not every bucket is still delta-flagged
    table.refresh()
    # final state == one-shot replay oracle
    cols = [f.name for f in PAYLOAD_SCHEMA.fields]
    got = table.read().select(*cols)
    want = replay_changes_df(spark.read.parquet(src), KEY_COLUMNS).select(*cols)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # history records interleaved merge_mor + compact operations
    ops = [m["summary"].get("operation") for m in table.history()]
    assert "merge_mor" in ops and "compact" in ops


def test_stream_tails_while_producer_appends(spark, tmp_path):
    """The reference ran a seeder service producing rounds of changes
    while the consumer tailed (seeder/periodic_seed.py): here a live
    producer appends change files WHILE the continuous stream runs —
    not pre-staged — and the final table must equal the one-shot
    replay oracle over everything produced."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from spark_cdc.cdc.apply import replay_changes_df
    from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.sources.changelog import generate_change_log
    from spark_cdc.streaming import StreamRunner

    log = generate_change_log(
        spark, n_events=6000, n_convs=120, seed=11, partitions=2
    ).localCheckpoint()
    src = tmp_path / "src"
    src.mkdir()
    table = LakeTable.create(
        spark, str(tmp_path / "t"), PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )
    runner = StreamRunner(spark, table, str(src), str(tmp_path / "ckpt"))
    q = runner.start_continuous(processing_time="1 seconds")
    try:
        for i in range(3):
            part = log.where(
                (F.col("lsn") >= i * 2000) & (F.col("lsn") < (i + 1) * 2000)
            )
            stage = str(tmp_path / f"stage{i}")
            part.coalesce(1).write.parquet(stage)
            for j, f in enumerate(sorted(glob.glob(stage + "/*.parquet"))):
                # rename into the watched dir = the atomic visibility a
                # real log tail gives the file source
                shutil.move(f, str(src / f"round{i}_{j}.parquet"))
            expected = (
                replay_changes_df(log.where(F.col("lsn") < (i + 1) * 2000), KEY_COLUMNS)
                .count()
            )
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline:
                q.awaitTermination(1.0)
                if table.refresh().read().count() == expected:
                    break
            assert table.refresh().read().count() == expected, f"round {i} never caught up"
    finally:
        q.stop()
        q.awaitTermination()
    got = table.refresh().read()
    want = replay_changes_df(log, KEY_COLUMNS).select(*got.columns)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_ingest_pii_scrub_equals_batch(spark, tmp_path):
    """PII scrubbing at INGEST: the runner's normalize hook redacts
    text inside every micro-batch before the merge, so the lake table
    never stores raw identifiers — and the streamed result equals the
    batch replay with the same normalize map."""
    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.functions.pii import redact_pii

    log = generate_change_log(spark, n_events=2000, n_convs=40, seed=31,
                              pct_delete=0.0)
    # plant PII derived from the key so every doc carries some
    log = log.withColumn(
        "text",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" contact u"), F.col("turn_idx").cast("string"),
                 F.lit("@mail.example.com or 10.0.0."),
                 (F.col("turn_idx") % 256).cast("string")),
    )
    src = str(tmp_path / "changelog")
    log.coalesce(2).write.mode("append").parquet(src)
    norm = {"text": redact_pii(F.col("text"))}

    streamed = LakeTable.create(
        spark, str(tmp_path / "stream_t"), PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )
    StreamRunner(spark, streamed, src, str(tmp_path / "ckpt"),
                 normalize=norm).run_available()

    batch = LakeTable.create(
        spark, str(tmp_path / "batch_t"), PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )
    apply_batch(batch, spark.read.parquet(src), batch_id=0, normalize=norm,
                collect_lineage=False)

    assert_df_equal(streamed.read(), batch.read(), KEY_COLUMNS)
    got = streamed.read()
    assert got.where(F.col("text").contains("@mail.example.com")).count() == 0
    assert got.where(F.col("text").contains("<EMAIL>")).count() == got.count()
    assert got.where(F.col("text").contains("<IP>")).count() == got.count()


def test_stream_ingest_quality_gate_equals_batch(spark, tmp_path):
    """Quality gating at stream ingest via the runner's transform
    hook: failing post-images become deletes inside every micro-batch
    (gate_changes), so the streamed serving table holds exactly the
    currently-passing documents — and equals a batch replay through
    the same transform."""
    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.operators.quality import DEFAULT_GATES, gate_changes, quality_gates

    log = generate_change_log(spark, n_events=2000, n_convs=40, seed=37,
                              pct_delete=0.05)
    src = str(tmp_path / "changelog")
    log.coalesce(2).write.mode("append").parquet(src)
    # fixture turn-texts are 5-7 words; gate at 6 so the fixture
    # actually straddles so both verdicts occur
    gates = {**DEFAULT_GATES, "min_words": 6, "min_mean_word_len": 0.0,
             "max_dup_word_frac": 1.0, "max_top_bigram_frac": 1.0,
             "min_stopword_frac": 0.0}
    tf = lambda df: gate_changes(df, gates=gates)  # noqa: E731

    streamed = LakeTable.create(
        spark, str(tmp_path / "stream_t"), PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )
    StreamRunner(spark, streamed, src, str(tmp_path / "ckpt"),
                 transform=tf, max_files_per_trigger=1).run_available()

    batch = LakeTable.create(
        spark, str(tmp_path / "batch_t"), PAYLOAD_SCHEMA,
        key_columns=KEY_COLUMNS, num_buckets=4,
    )
    apply_batch(batch, tf(spark.read.parquet(src)), batch_id=0,
                collect_lineage=False)

    assert_df_equal(streamed.read(), batch.read(), KEY_COLUMNS)
    got = streamed.read()
    n = got.count()
    ungated = replay_changes_df(spark.read.parquet(src), KEY_COLUMNS).count()
    assert 0 < n < ungated  # gate actually dropped something
    # every surviving row passes the gate
    assert quality_gates(got, gates=gates).where(~F.col("keep")).count() == 0
