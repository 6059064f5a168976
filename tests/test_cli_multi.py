"""`python -m spark_cdc stream-multi` smoke test: Kafka-shaped frames,
two topics → two tables, one bad row per table dead-lettered under its
own per-table lineage, one unknown topic quarantined."""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

from tests.conftest import REPO_ROOT


def _frames(spark, tmp_path):
    from spark_cdc.cdc.envelope import KAFKA_FRAME_SCHEMA

    def frame(i, topic, msg):
        return (
            json.dumps({"conv_id": msg.get("conv_id")}).encode(),
            json.dumps(msg).encode(),
            topic,
            0,
            i,
            datetime.datetime(2024, 3, 5, 10, 0, i),
        )

    rows = [
        frame(0, "db.public.chats", {"op": "c", "conv_id": "a", "turn_idx": 0,
                                     "role": "user", "text": "hi"}),
        frame(1, "db.public.chats", {"op": "c", "conv_id": None, "turn_idx": 0,
                                     "role": "user", "text": "bad-chats"}),
        frame(2, "db.public.audit", {"op": "c", "conv_id": "x", "turn_idx": 0,
                                     "role": "system", "text": "logged"}),
        frame(3, "db.public.audit", {"op": "c", "conv_id": None, "turn_idx": 0,
                                     "role": "system", "text": "bad-audit"}),
        frame(4, "db.public.typo_topic", {"op": "c", "conv_id": "z", "turn_idx": 0,
                                          "role": "user", "text": "lost?"}),
    ]
    src = str(tmp_path / "frames")
    spark.createDataFrame(rows, KAFKA_FRAME_SCHEMA).coalesce(1).write.parquet(src)
    return src


def test_stream_multi_cli(spark, tmp_path):
    src = _frames(spark, tmp_path)
    chats, audit = str(tmp_path / "chats"), str(tmp_path / "audit")
    dlq, metrics = str(tmp_path / "dlq"), str(tmp_path / "metrics")
    proc = subprocess.run(
        [
            sys.executable, "-m", "spark_cdc", "stream-multi",
            "--source", src,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--table", f"chats={chats}",
            "--table", f"audit={audit}",
            "--topic-map", "db.public.chats=chats",
            "--topic-map", "db.public.audit=audit",
            "--quarantine", dlq,
            "--metrics", metrics,
            "--num-buckets", "4",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=REPO_ROOT,
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["tables"]["chats"]["rows"] == 1
    assert out["tables"]["audit"]["rows"] == 1
    # one bad row per table + one unknown-topic row, each under its own
    # per-table source lineage (the round-2 suppression bug regression)
    assert out["quarantined"] == 3

    from spark_cdc.lake.table import LakeTable

    q = {(r["source_id"], r["reason"]) for r in LakeTable.load(spark, dlq).read().collect()}
    assert ("routed:chats", "null_key:conv_id") in q
    assert ("routed:audit", "null_key:conv_id") in q
    assert ("routed:_unknown", "unknown_table:typo_topic") in q
    m = LakeTable.load(spark, metrics).read()
    assert {r["source_id"] for r in m.select("source_id").distinct().collect()} >= {
        "stream:chats", "stream:audit"
    }


def test_corpus_clean_cli(spark, tmp_path, capsys):
    """corpus-clean: gate + scrub a parquet corpus in one shot; counts
    reported, output readable, no raw identifiers survive."""
    import json as _json

    from pyspark.sql import functions as F

    from spark_cdc.__main__ import main

    src = str(tmp_path / "corpus")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("text", F.concat(F.col("text"), F.lit(" ping x@y.co")))
        .write.parquet(src)
    )
    out = str(tmp_path / "clean")
    assert main(["corpus-clean", "--input", src, "--output", out]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_in"] == 500 and 0 < stats["rows_out"] < 500
    got = spark.read.parquet(out)
    assert got.where(F.col("text").contains("x@y.co")).count() == 0
    assert got.where(F.col("text").contains("<EMAIL>")).count() == got.count()
    # --no-gate keeps every row; --no-pii keeps identifiers
    out2 = str(tmp_path / "clean2")
    assert main(["corpus-clean", "--input", src, "--output", out2,
                 "--no-gate", "--no-pii"]) == 0
    s2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["rows_out"] == 500
    assert spark.read.parquet(out2).where(
        F.col("text").contains("x@y.co")).count() == 500
