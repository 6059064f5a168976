"""Property-based check (hypothesis): for ANY change log — adversarial
ties and null op_seq included — ANY batch split, either merge mode,
with or without the batch stats and with or without a compaction
before the read, incrementally merging every batch into a LakeTable
ends in exactly the state of the one-shot replay oracle. This is the
engine's core identity; the generator deliberately produces duplicate
(ts, op_seq) versions, deletes, redeliveries and out-of-order lsn to
hit the tie-break lattice of the version order (ts, op_seq, gen,
lsn).

The first property also checks ``lookup`` of every drawn conversation
against the oracle. The second pins the engine's one resolver
(``latest_arrow``) to the independent reference
``cdc/dedup.py::latest_version_per_key`` ordered by ``VERSION_ORDER``:
for any multi-generation bucket content, both pick the same rows, and
so does ``compact`` end to end."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_cdc.cdc.apply import apply_batch, replay_changes_df
from spark_cdc.cdc.dedup import latest_version_per_key
from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.lake.maintenance import compact
from spark_cdc.lake.table import (
    V_DEL,
    VERSION_ORDER,
    LakeTable,
    latest_arrow,
)

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
    for conv in {e[0] for e in evs}:
        looked_up = sorted(tuple(r) for r in table.lookup(conv).select(*cols).collect())
        assert looked_up == [r for r in want if r[0] == conv], conv


# one stored row version: (conv_id, turn_idx, text, tool, _v_ts offset,
# _v_seq, _deleted, _gen) — null key parts and null order fields included
versions = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.one_of(st.none(), st.integers(0, 1)),
        st.sampled_from(["x", "y", "z"]),
        st.sampled_from(["t1", None]),
        st.one_of(st.none(), st.integers(0, 2)),
        st.one_of(st.none(), st.integers(0, 1)),
        st.sampled_from([True, False, None]),
        st.one_of(st.none(), st.integers(0, 3)),
    ),
    min_size=1,
    max_size=24,
    # a full tie on (ts, seq, gen) is a free pick in the resolver and the reference
    unique_by=lambda v: (v[0], v[1], v[4], v[5], v[7]),
)


def _rows(arrow_table):
    return sorted(
        (tuple(sorted(r.items())) for r in arrow_table.to_pylist()), key=repr
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    vs=versions,
    n_files=st.integers(1, 3),
    keyed=st.booleans(),
    bucket_on_second_key=st.booleans(),
    pre_evolution=st.booleans(),
    drop_tombstones=st.booleans(),
)
def test_resolver_equals_reference_dedup(
    spark, tmp_path_factory, vs, n_files, keyed, bucket_on_second_key,
    pre_evolution, drop_tombstones,
):
    """Multi-generation content of one bucket, written as up to three
    files (the first optionally before ``tool`` was added): the
    resolver over the raw rows equals the reference window dedup over
    the same rows, ordered by ``VERSION_ORDER`` with nulls losing, and
    ``compact`` leaves exactly that state (tombstones dropped only under
    ``drop_tombstones``). An unkeyed table is concatenated."""
    from pyspark.sql import types as T

    base = T.StructType.fromDDL(
        "conv_id string, turn_idx int, text string, _v_ts timestamp, "
        "_v_seq bigint, _deleted boolean, _gen bigint"
    )
    keys = ["conv_id", "turn_idx"] if keyed else None
    table = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("twin") / "t"), base,
        key_columns=keys,
        bucket_column="turn_idx" if bucket_on_second_key else "conv_id",
        num_buckets=1,
    )
    rows = [
        (conv, turn, text, tool,
         None if ts is None else BASE + datetime.timedelta(seconds=ts), seq, dl, gen)
        for conv, turn, text, tool, ts, seq, dl, gen in vs
    ]
    step = -(-len(rows) // n_files)
    for i in range(0, len(rows), step):
        if i or not pre_evolution:
            table.add_columns([T.StructField("tool", T.StringType(), True)])
        df = spark.createDataFrame(
            rows[i:i + step],
            "conv_id string, turn_idx int, text string, tool string, "
            "_v_ts timestamp, _v_seq bigint, _deleted boolean, _gen bigint",
        )
        table.append(df.drop("tool") if "tool" not in table.schema.names else df)
    raw = table.read(include_hidden=True, resolve=False)
    if keyed:
        want = latest_version_per_key(raw, keys, VERSION_ORDER)
        twin = latest_arrow(raw.toArrow(), keys, table.bucket_column)
        assert _rows(twin) == _rows(want.toArrow())
    else:
        want = raw
    if drop_tombstones:
        want = want.where(~F.coalesce(F.col(V_DEL), F.lit(False)))
    compact(table, max_files_per_bucket=0, drop_tombstones=drop_tombstones)
    assert len(table.manifest["files"].get("0", [])) <= 1
    got = table.read(include_hidden=True, resolve=False)
    assert _rows(got.toArrow()) == _rows(want.select(*got.columns).toArrow())
