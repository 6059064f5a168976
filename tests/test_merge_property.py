"""Property-based check (hypothesis): for ANY change log — adversarial
ties and null op_seq included — ANY batch split, either merge mode,
with or without the stats pre-pass and with or without a compaction
before the read, incrementally merging every batch into a LakeTable
ends in exactly the state of the one-shot replay oracle. This is the
engine's core identity; the generator deliberately produces duplicate
(ts, op_seq) versions, deletes, redeliveries and out-of-order lsn to
hit the tie-break lattice of the version order (ts, op_seq, gen,
lsn)."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_cdc.cdc.apply import apply_batch, replay_changes_df
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.lake.maintenance import compact
from spark_cdc.lake.table import LakeTable

BASE = datetime.datetime(2024, 1, 1, 0, 0, 0)

# a deliberately tiny key/time space maximizes collisions
events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),          # conv_id
        st.integers(0, 2),                          # turn_idx
        st.sampled_from(["c", "u", "d"]),          # op
        st.integers(0, 5),                          # ts offset (seconds)
        st.one_of(st.none(), st.integers(0, 3)),    # op_seq
        st.sampled_from(["x", "y", "z"]),          # text
    ),
    min_size=1,
    max_size=40,
)


@pytest.fixture(scope="module")
def mk_table(spark, tmp_path_factory):
    counter = [0]

    def make():
        counter[0] += 1
        path = str(tmp_path_factory.mktemp("prop") / f"t{counter[0]}")
        return LakeTable.create(
            spark, path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4
        )

    return make


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    evs=events,
    n_batches=st.integers(1, 4),
    mode=st.sampled_from(["cow", "mor"]),
    stats=st.booleans(),
    compact_first=st.booleans(),
)
def test_incremental_merge_equals_oracle_on_any_log(
    spark, mk_table, evs, n_batches, mode, stats, compact_first
):
    rows = [
        (
            lsn,
            seq,
            op,
            conv,
            turn,
            "user",
            text,
            None,
            BASE + datetime.timedelta(seconds=ts_off),
        )
        for lsn, (conv, turn, op, ts_off, seq, text) in enumerate(evs)
    ]
    log = spark.createDataFrame(
        rows,
        "lsn long, op_seq long, op string, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )
    table = mk_table()
    step = max(len(rows) // n_batches, 1)
    for i in range(n_batches):
        lo = i * step
        hi = len(rows) if i == n_batches - 1 else (i + 1) * step
        if lo >= len(rows):
            break
        apply_batch(
            table,
            log.where((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
            batch_id=i,
            mode=mode,
            collect_stats=stats,
            collect_lineage=False,
        )
    if compact_first:
        compact(table, max_files_per_bucket=0)
    cols = [f.name for f in PAYLOAD_SCHEMA.fields]
    got = sorted(tuple(r) for r in table.read().select(*cols).collect())
    want = sorted(
        tuple(r) for r in replay_changes_df(log, KEY_COLUMNS).select(*cols).collect()
    )
    assert got == want
