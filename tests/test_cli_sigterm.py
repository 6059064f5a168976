"""Graceful shutdown of ``python -m spark_cdc stream --continuous``:
SIGTERM mid-run → query.stop() → clean exit with a consistent table,
and a later run resumes from the checkpoint (reference parity:
stream_etl/core/consumer.py:111-139 signal handlers)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

from pyspark.sql import functions as F

from spark_cdc.lake.table import LakeTable
from spark_cdc.sources.changelog import generate_change_log
from tests.conftest import REPO_ROOT


def _wait_for(cond, timeout=120, interval=0.5):
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        if cond():
            return True
        time.sleep(interval)
    return False


def test_continuous_sigterm_clean_stop_and_resume(spark, tmp_path):
    src = str(tmp_path / "changelog")
    tbl = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    log = generate_change_log(spark, n_events=2000, n_convs=50, seed=3, partitions=2).cache()
    n = log.count()
    half = log.where(F.col("lsn") < n // 2)
    rest = log.where(F.col("lsn") >= n // 2)
    half.write.mode("overwrite").parquet(src)

    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_CDC_SHUFFLE_PARTITIONS="4")
    proc = subprocess.Popen(
        [sys.executable, "-m", "spark_cdc", "stream",
         "--source", src, "--table", tbl, "--checkpoint", ckpt,
         "--num-buckets", "4", "--continuous"],
        cwd=REPO_ROOT,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        # wait until the first micro-batch committed (snapshot > 0)
        version = os.path.join(tbl, "_meta", "VERSION")
        ok = _wait_for(
            lambda: os.path.exists(version) and int(open(version).read() or 0) >= 1
        )
        assert ok, "stream never committed a batch"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=90)
        assert proc.returncode == 0, f"exit code {proc.returncode}"
        summary = json.loads(out.strip().splitlines()[-1])
        assert summary["stopped"] and summary["batches"] >= 1
    finally:
        if proc.poll() is None:
            proc.kill()

    # table state after the clean stop == replay of what was delivered
    table = LakeTable.load(spark, tbl)
    from spark_cdc.cdc.apply import replay_changes_df

    oracle = replay_changes_df(half, ["conv_id", "turn_idx"]).select(
        "conv_id", "turn_idx", "text"
    )
    got = table.read().select("conv_id", "turn_idx", "text")
    assert got.exceptAll(oracle).count() == 0 and oracle.exceptAll(got).count() == 0

    # restart resumes from the checkpoint: deliver the rest, run-once mode
    rest.write.mode("append").parquet(src)
    out2 = subprocess.run(
        [sys.executable, "-m", "spark_cdc", "stream",
         "--source", src, "--table", tbl, "--checkpoint", ckpt,
         "--num-buckets", "4"],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    table.refresh()
    full_oracle = replay_changes_df(log, ["conv_id", "turn_idx"]).select(
        "conv_id", "turn_idx", "text"
    )
    got2 = table.read().select("conv_id", "turn_idx", "text")
    assert got2.exceptAll(full_oracle).count() == 0
    assert full_oracle.exceptAll(got2).count() == 0
