"""Physical-plan assertions: the optimizations SURVEY.md §4 claims are
'built-in' must actually show up in the plans (pushdown, pruning,
broadcast, no Python in JVM-only paths)."""

from __future__ import annotations

from spark_cdc.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name) -> str:
    df = QUERIES[name](spark, SF)
    df.collect()  # finalize AQE so the plan shows actual stages
    return df._jdf.queryExecution().executedPlan().toString()


def test_watermark_filter_pushed_to_scan(spark):
    plan = _plan(spark, "s1_incremental_scan")
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts" in plan, plan


def test_column_pruning_reaches_scan(spark):
    # the asof entry selects (event_id, user_id, ts) from events: the
    # pruned projection must reach every parquet scan — no props/value
    plan = _plan(spark, "j_asof_latest_order")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads
    for read in reads:
        assert "props" not in read and "value" not in read, read


def test_dim_join_is_broadcast(spark):
    plan = _plan(spark, "j1_orders_customer_segment")
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_has_partial_combine_not_window(spark):
    # the skew-proof dedup must have a map-side partial aggregate
    # (partial_max_by before the exchange), never a Window sort of the
    # raw stream (Window = all duplicates of a hot key on one reducer)
    plan = _plan(spark, "w1_latest_event_per_user_type")
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan


def test_jvm_only_text_path_has_no_python(spark):
    # text quality/lang-id are pure column expressions: no
    # BatchEvalPython / ArrowEvalPython stages in the plan
    plan = _plan(spark, "text_profile")
    assert "EvalPython" not in plan, plan


def test_ann_lsh_plan_has_no_cartesian(spark):
    # the LSH scale path must candidate via equi-joins on (table,
    # bucket) — a cartesian/nested-loop product would mean the O(n·q)
    # brute force snuck back in
    plan = _plan(spark, "ann_topk_lsh")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_dedup_plan_has_no_cartesian(spark):
    for name in ("dedup_minhash_lsh", "dedup_simhash"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_merge_plan_is_single_exchange(spark, tmp_path):
    """The merge's one Spark job must shuffle exactly once (on the
    bucket) into one Arrow map in both modes, with no Spark-side
    resolve or sort and no scan of the table's own files: the per-bucket
    kernel in the Python workers resolves, sorts and reads stored
    files — the one-exchange property the 10^10-event ingest path
    depends on."""
    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.merge import _merge_plan
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.sources.changelog import generate_change_log

    table = LakeTable.create(
        spark, str(tmp_path / "t"), PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=8
    )
    src = generate_change_log(spark, n_events=2000, n_convs=50, seed=1, partitions=4)
    # stored rows for the CoW side of the kernel to read
    apply_batch(table, src, batch_id=0, collect_stats=False, collect_lineage=False)
    data_dir = str(tmp_path / "t" / "data")
    for mode in ("cow", "mor"):
        plan_df = _merge_plan(table, src, mode)
        plan_df.collect()
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        # AQE prints the final AND the initial plan; count only the final
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1, (mode, final)
        assert final.count("MapInArrow") == 1, (mode, final)
        for node in ("SortAggregate", "Sort ", "max_by"):
            assert node not in final, (mode, node, final)
        assert data_dir not in plan, (mode, plan)


def test_batch_stats_start_no_job(spark, tmp_path):
    """The batch stats and lineage ride the merge's own job: a merge
    with ``collect_stats`` runs no more Spark jobs than one without."""
    from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.merge import merge_changes
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.sources.changelog import generate_change_log

    sc = spark.sparkContext
    src = generate_change_log(spark, n_events=2000, n_convs=50, seed=1, partitions=4)
    for mode in ("cow", "mor"):
        jobs = {}
        for stats in (False, True):
            table = LakeTable.create(
                spark, str(tmp_path / f"{mode}{stats}"), PAYLOAD_SCHEMA,
                key_columns=KEY_COLUMNS, num_buckets=8,
            )
            group = f"merge_{mode}_{stats}"
            sc.setJobGroup(group, group)
            try:
                res = merge_changes(
                    table, src, batch_id=0, mode=mode, collect_stats=stats, collect_lineage=stats
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[stats] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert res.batch_keys > 0 and res.partition_lineage, mode
        assert 0 < jobs[True] <= jobs[False], (mode, jobs)


def _jobs(spark, group, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _delta_table(spark, path):
    """A table whose every bucket carries MoR delta files."""
    from pyspark.sql import functions as F

    from spark_cdc.cdc.apply import apply_batch
    from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.sources.changelog import generate_change_log

    table = LakeTable.create(spark, path, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=4)
    src = generate_change_log(spark, n_events=2000, n_convs=50, seed=1, partitions=4)
    for i in range(2):
        apply_batch(table, src.where(F.col("lsn") % 2 == i), batch_id=i, mode="mor",
                    collect_lineage=False)
    assert len(table.manifest["delta_buckets"]) == 4
    return table


def test_lookup_runs_no_job(spark, tmp_path):
    """A lookup on a delta-carrying table resolves the key's versions on
    the driver and returns a local relation: no Spark job."""
    table = _delta_table(spark, str(tmp_path / "t"))
    conv = table.read().first()["conv_id"]
    rows, jobs = _jobs(spark, "lookup", lambda: table.lookup(conv).collect())
    assert rows and {r["conv_id"] for r in rows} == {conv}
    assert jobs == 0, jobs


def test_resolved_read_is_one_job_without_exchange(spark, tmp_path):
    """A read that resolves delta buckets is one Spark job: each task
    resolves its group of buckets in a Python worker, so nothing is
    exchanged."""
    table = _delta_table(spark, str(tmp_path / "t"))
    df = table.read()
    rows, jobs = _jobs(spark, "read", df.collect)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert rows and jobs == 1, jobs
    assert "MapInArrow" in plan and "Exchange" not in plan, plan


def test_resolved_read_is_never_broadcast(spark, tmp_path):
    """The planner cannot see the size of a resolved read, which runs in
    Python workers, so a join must not plan to broadcast it: joined to
    a 5M-row relation, the resolved side is not broadcast."""
    from pyspark.sql import functions as F

    table = _delta_table(spark, str(tmp_path / "t"))
    big = spark.range(5_000_000).select(F.col("id").cast("string").alias("conv_id"))
    joined = big.join(table.read(resolve=True), "conv_id")
    plan = joined._jdf.queryExecution().sparkPlan().toString()
    assert "Broadcast" not in plan, plan


def test_feed_diff_is_one_job_without_exchange(spark, tmp_path):
    """The change-feed diff of a MoR poll, with pre-images, is one Spark
    job: both sides of a key sit in its bucket, so each task diffs its
    group of changed buckets in a Python worker and nothing is
    exchanged."""
    table = _delta_table(spark, str(tmp_path / "t"))
    df = table.read_changes(table.snapshot_id - 1, include_preimage=True)
    rows, jobs = _jobs(spark, "feed", df.collect)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert rows and jobs == 1, jobs
    assert "MapInArrow" in plan and "Exchange" not in plan, plan


def test_wholestage_codegen_in_flagship(spark):
    # '*(n)' prefixes mark whole-stage-codegen stages in the plan text
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert "*(1)" in plan, plan
    assert "HashAggregate" in plan and "partial_sum" in plan, plan


def test_dedup_corpus_plan_scales(spark):
    """dedup_corpus(exact): no cartesian product, no per-group array
    aggregation, map-side partial combine present — the constructs that
    decide whether the op survives a 10^8-member duplicate group."""
    from spark_cdc.operators.dedup_ops import dedup_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = dedup_corpus(docs, method="exact")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "collect_list" not in plan
    assert "partial_count" in plan or "Partial" in plan


def test_decode_media_plan_no_shuffle(spark):
    """Media decode is a stateless per-batch map: zero exchanges."""
    from spark_cdc.operators import multimodal

    dec = multimodal.decode_media(multimodal.generate_decodable_media_fixture(spark, 50))
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_topk_is_distributed_takeordered(spark):
    """Round-4 finding #2: the BM25 top-k must plan as TakeOrdered
    (per-partition local k + driver combine), NOT a global row_number
    window that funnels every matching doc through one task. With a
    prebuilt index, docs=None proves structurally that the corpus is
    never rescanned on the query path."""
    from pyspark.sql import functions as F

    from spark_cdc.operators.search import bm25_index, bm25_topk, index_stats

    docs = spark.read.parquet(SF + "/documents.parquet")
    idx = bm25_index(docs).cache()
    try:
        df = bm25_topk(None, "spark merge window", k=10, index=idx,
                       stats=index_stats(idx))
        rows = df.collect()
        assert len(rows) == 10 and [r["rank"] for r in rows] == list(range(1, 11))
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE prints "Final Plan" then "Initial Plan"; assert on final
        final = plan.split("== Initial Plan ==")[0]
        assert "TakeOrderedAndProject" in final, plan
        # the only Window is the rank assignment OVER the k survivors:
        # it must be a PARENT of the TakeOrdered limit (printed above
        # it), never below it scanning the corpus-wide score stream
        assert final.index("Window") < final.index("TakeOrderedAndProject"), plan
        assert final.count("Window") == 1, plan
        # scores equal the docs-path form (stats from index vs corpus
        # agree on this fixture: every doc has >= 1 token)
        direct = {r["doc_id"]: round(r["score"], 9)
                  for r in bm25_topk(docs, "spark merge window", k=10).collect()}
        got = {r["doc_id"]: round(r["score"], 9) for r in rows}
        assert got == direct
    finally:
        idx.unpersist()


def test_bm25_batch_join_count_invariant_in_query_count(spark):
    """bm25_batch_scores: N queries ride ONE probe pass — the plan has
    exactly the same join structure (one df-stats broadcast join + one
    query-membership broadcast join over one postings filter) whether
    the batch carries 2 queries or 4. Per-query jobs would scale scans
    and shuffles with N; the batch form must not."""
    from spark_cdc.operators.search import bm25_batch_scores, bm25_index

    docs = spark.read.parquet(SF + "/documents.parquet")
    idx = bm25_index(docs).cache()
    try:
        q2 = [(1, "spark merge"), (2, "vector hash")]
        q4 = q2 + [(3, "stream batch"), (4, "scan window")]
        plans = []
        for qs in (q2, q4):
            df = bm25_batch_scores(None, qs, index=idx)
            df.collect()
            plans.append(
                df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )
        for marker in ("BroadcastHashJoin", "HashAggregate", "Exchange"):
            assert plans[0].count(marker) == plans[1].count(marker), marker
        assert plans[1].count("BroadcastHashJoin") == 2, plans[1]
    finally:
        idx.unpersist()


def test_incremental_lsh_probe_never_shuffles_index(spark):
    """Re-crawl probe: the maintained bucket index must STREAM through
    a broadcast join with the new batch's exploded bands — no sort-merge
    join, so the 10^9-doc index side is never exchanged/sorted to
    co-partition with a small crawl batch. (The only Exchange left is
    the distinct over the collision output, which is bounded.)"""
    from pyspark.sql import functions as F

    from spark_cdc.operators.dedup_ops import (
        incremental_lsh_candidates,
        minhash_band_buckets,
    )

    docs = spark.read.parquet(SF + "/documents.parquet").select("doc_id", "text")
    idx = minhash_band_buckets(docs.where(F.col("doc_id") < 400))
    new = docs.where(F.col("doc_id") >= 400).limit(50)
    cand = incremental_lsh_candidates(new, idx)
    cand.collect()
    plan = (
        cand._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scan_memo_released_with_its_session(spark, tmp_path):
    """The input-scan memo keys on the session without keeping it
    alive: once a session is dropped, its entry goes."""
    import gc

    from spark_cdc.plans import queries

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    other = spark.newSession()
    assert queries._t(other, str(tmp_path), "t").count() == 3
    assert queries._t(other, str(tmp_path), "t").count() == 3  # memo hit
    held = len(queries._SCAN_MEMO)
    del other
    # pyspark's RDD.toDF patch closes over the newest session; move it on
    spark.newSession()
    gc.collect()
    assert len(queries._SCAN_MEMO) == held - 1
