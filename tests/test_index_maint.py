"""Feed-driven incremental index maintenance: the maintained BM25
postings / vector-code tables must equal a from-scratch rebuild after
mixed insert/update/delete batches, stay exactly-once under redelivery,
and serve queries without rescanning the corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.lake.feed import ChangeFeedConsumer
from spark_cdc.lake.table import LakeTable, read_latest, read_spec
from spark_cdc.operators.index_maint import (
    BM25_INDEX_KEYS,
    BM25_INDEX_SCHEMA,
    CODES_KEYS,
    CODES_SCHEMA,
    MaintainedBM25Index,
    MaintainedVectorCodes,
    bm25_postings_changes,
)
from spark_cdc.operators.search import bm25_index, bm25_scores

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _env(spark, rows, i, op):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.select(
        F.col("doc_id").alias("lsn"),
        F.lit(i).cast("long").alias("op_seq"),
        F.lit(op).alias("op"),
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(i)).alias("ts"),
    )


def _mk_maintained(spark, base):
    docs = LakeTable.create(
        spark, os.path.join(base, "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    idx = LakeTable.create(
        spark, os.path.join(base, "bm25"), BM25_INDEX_SCHEMA,
        key_columns=BM25_INDEX_KEYS, num_buckets=4,
    )
    maint = MaintainedBM25Index(
        idx, ChangeFeedConsumer(docs, os.path.join(base, "cursor"))
    )
    return docs, maint


def _texts(n=50):
    return [(i, f"alpha beta w{i} gamma " + "delta " * (i % 5)) for i in range(n)]


def test_bm25_maintained_equals_rebuilt(spark, tmp_path):
    """Insert-all, update-every-7th, delete-every-11th: the maintained
    postings table must equal bm25_index() over the final corpus state,
    row for row — a stale posting (missed retraction), a lost posting
    (over-retraction) or a duplicate all fail the exceptAll."""
    docs, maint = _mk_maintained(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(), 0, "c"), batch_id=0,
                collect_lineage=False)
    assert maint.catch_up() == 1
    apply_batch(
        docs,
        _env(spark, [(i, f"updated zeta w{i}") for i in range(0, 50, 7)], 1, "c"),
        batch_id=1, collect_lineage=False,
    )
    apply_batch(
        docs, _env(spark, [(i, None) for i in range(0, 50, 11)], 2, "d"),
        batch_id=2, collect_lineage=False,
    )
    assert maint.catch_up() >= 1  # one poll covers both commits (net diff)
    maintained = maint.read()
    rebuilt = bm25_index(docs.read().select("doc_id", "text")).select(
        "doc_id", "token", "tf", "dl"
    )
    assert maintained.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maintained).count() == 0
    # updated docs' OLD tokens are really gone
    toks = {r["token"] for r in maintained.where(F.col("doc_id") == 7).collect()}
    assert "zeta" in toks and "alpha" not in toks
    # deleted docs have no postings at all
    assert maintained.where(F.col("doc_id") == 11).count() == 0


def test_bm25_maintained_scores_match_recompute(spark, tmp_path):
    """scores() from the maintained index == bm25_scores over the final
    corpus — and the maintained query path never touches the corpus."""
    docs, maint = _mk_maintained(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(), 0, "c"), batch_id=0,
                collect_lineage=False)
    apply_batch(
        docs, _env(spark, [(i, None) for i in range(0, 50, 9)], 1, "d"),
        batch_id=1, collect_lineage=False,
    )
    maint.catch_up()
    got = {r["doc_id"]: round(r["score"], 9)
           for r in maint.scores("alpha delta").collect()}
    want = {r["doc_id"]: round(r["score"], 9)
            for r in bm25_scores(docs.read().select("doc_id", "text"),
                                 "alpha delta").collect()}
    assert got == want
    top = maint.topk("alpha delta", k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_bm25_maintenance_redelivery_is_noop(spark, tmp_path):
    """Crash between index merge and cursor commit: the redelivered
    poll re-merges the same diff under the same batch id — the batch-id
    guard makes it a no-op (exactly-once end to end)."""
    docs, maint = _mk_maintained(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(20), 0, "c"), batch_id=0,
                collect_lineage=False)
    # poll + apply manually, "crash" before cursor commit
    diff, to_snap = maint.consumer.poll(include_preimage=True)
    changes = bm25_postings_changes(diff, to_snap)
    apply_batch(maint.table, changes, batch_id=to_snap,
                source_id=maint.source_id, collect_lineage=False,
                collect_stats=False)
    before = maint.table.snapshot_id
    # recovery: normal poll loop redelivers the same diff
    assert maint.catch_up() == 1
    res_snapshot = maint.table.snapshot_id
    assert res_snapshot == before  # merge skipped, no new snapshot
    rebuilt = bm25_index(docs.read().select("doc_id", "text")).select(
        "doc_id", "token", "tf", "dl"
    )
    assert maint.read().exceptAll(rebuilt).count() == 0


def test_bm25_postings_changes_requires_preimage(spark):
    diff = spark.createDataFrame(
        [(1, "x", "insert")], "doc_id long, text string, _change_type string"
    )
    with pytest.raises(ValueError, match="include_preimage"):
        bm25_postings_changes(diff, 1)


def test_vector_codes_maintained_equals_reencode(spark, tmp_path):
    """Changed vectors re-encoded with FROZEN quantizers == encoding
    the final corpus wholesale with the same quantizers; deletes drop
    code rows."""
    from spark_cdc.operators.ann import train_ivf_centroids, train_pq_codebooks

    dim, n = 16, 40
    rng_free = [
        (i, [float(((i * 31 + j * 7) % 13) - 6) / 6.0 for j in range(dim)])
        for i in range(n)
    ]
    vecs_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    vt = LakeTable.create(
        spark, str(tmp_path / "vecs"), vecs_schema,
        key_columns=["vec_id"], num_buckets=4,
    )
    ct = LakeTable.create(
        spark, str(tmp_path / "codes"), CODES_SCHEMA,
        key_columns=CODES_KEYS, num_buckets=4,
    )
    base_df = spark.createDataFrame(
        rng_free, "vec_id long, embedding array<double>"
    )
    centroids = train_ivf_centroids(base_df, dim, n_lists=4, seed=7, sample_size=n)
    codebooks = train_pq_codebooks(base_df, dim, m=4, n_codes=8, seed=7, sample_size=n)
    maint = MaintainedVectorCodes(
        ct, ChangeFeedConsumer(vt, str(tmp_path / "vcursor")),
        centroids, codebooks,
    )

    def venv(rows, i, op):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        return df.select(
            F.col("vec_id").alias("lsn"), F.lit(i).cast("long").alias("op_seq"),
            F.lit(op).alias("op"), "vec_id", "embedding",
            F.timestamp_seconds(F.lit(i)).alias("ts"),
        )

    apply_batch(vt, venv(rng_free, 0, "c"), batch_id=0, collect_lineage=False)
    maint.catch_up()
    # update 5 vectors (negate), delete 4
    upd = [(i, [-x for x in v]) for i, v in rng_free if i % 8 == 0]
    apply_batch(vt, venv(upd, 1, "c"), batch_id=1, collect_lineage=False)
    apply_batch(
        vt, venv([(i, None) for i in (3, 13, 23, 33)], 2, "d"),
        batch_id=2, collect_lineage=False,
    )
    maint.catch_up()
    got = {r["vec_id"]: (r["list_id"], tuple(r["codes"]))
           for r in maint.read().collect()}
    # wholesale re-encode of the final state with the same frozen quantizers
    from spark_cdc.operators.index_maint import vector_codes_changes

    final = vt.read().select("vec_id", "embedding").withColumn(
        "_change_type", F.lit("insert")
    )
    want_df = vector_codes_changes(final, 99, centroids, codebooks)
    want = {r["vec_id"]: (r["list_id"], tuple(r["codes"]))
            for r in want_df.where(F.col("op") == "c")
            .select("vec_id", "list_id", "codes").collect()}
    assert got == want
    assert 3 not in got and len(got) == len(rng_free) - 4
    # updated vector's codes actually changed
    orig = {r["vec_id"]: tuple(r["codes"]) for r in
            vector_codes_changes(
                spark.createDataFrame(rng_free, "vec_id long, embedding array<double>")
                .withColumn("_change_type", F.lit("insert")),
                1, centroids, codebooks,
            ).select("vec_id", "codes").collect()}
    changed = [i for i, _ in upd if got[i][1] != orig[i]]
    assert changed, "negating vectors should change PQ codes"


def test_index_rebuild_after_feed_expiry(spark, tmp_path):
    """Snapshot retention overtakes the index's cursor mid-lag:
    ``follow(on_expired=rebuild)`` self-heals with a full recompute
    keyed on the observed head (stale keys tombstoned), instead of
    dying — and the result equals a from-scratch index."""
    from spark_cdc.lake.feed import follow
    from spark_cdc.lake.maintenance import expire_snapshots

    docs, maint = _mk_maintained(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(30), 0, "c"), batch_id=0,
                collect_lineage=False)
    maint.catch_up()  # index current at snapshot 1
    # corpus moves on: update + delete, several commits
    apply_batch(docs, _env(spark, [(i, f"fresh omega w{i}") for i in range(0, 30, 5)],
                           1, "c"), batch_id=1, collect_lineage=False)
    apply_batch(docs, _env(spark, [(i, None) for i in (2, 12)], 2, "d"),
                batch_id=2, collect_lineage=False)
    # retention laps the cursor (keep only the head snapshot)
    expire_snapshots(docs, keep_last=1)
    with pytest.raises(Exception):  # FeedExpiredError surfaces without on_expired
        follow(maint.consumer, maint.apply_diff, max_idle_polls=1,
               include_preimage=maint.include_preimage)
    polls = follow(maint.consumer, maint.apply_diff, interval_sec=0.0,
                   max_idle_polls=1, include_preimage=maint.include_preimage,
                   on_expired=lambda _c: maint.rebuild())
    assert polls >= 1
    rebuilt = bm25_index(docs.read().select("doc_id", "text")).select(
        "doc_id", "token", "tf", "dl"
    )
    assert maint.read().exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maint.read()).count() == 0
    assert maint.consumer.position() == docs.snapshot_id


def test_index_follow_cli(spark, tmp_path, capsys):
    """`python -m spark_cdc index-follow` catch-up mode: creates the
    index table, drains the feed, serves a query from the maintained
    postings; a second invocation after new commits applies only the
    increment."""
    import json as _json

    from spark_cdc.__main__ import main

    docs, _ = _mk_maintained(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(25), 0, "c"), batch_id=0,
                collect_lineage=False)
    idx_path = str(tmp_path / "cli_idx")
    cursor = str(tmp_path / "cli_cursor")
    argv = ["index-follow", "--docs-table", docs.path,
            "--index-table", idx_path, "--cursor", cursor,
            "--num-buckets", "4", "--query", "alpha"]
    assert main(argv) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["polls"] == 1 and out["postings"] > 0
    assert out["topk"] and out["topk"][0]["rank"] == 1
    # incremental second pass
    apply_batch(docs, _env(spark, [(99, "alpha alpha alpha")], 1, "c"),
                batch_id=1, collect_lineage=False)
    assert main(argv) == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["polls"] == 1 and out2["postings"] == out["postings"] + 1
    assert out2["topk"][0]["doc_id"] == 99  # tf=3 short doc dominates 'alpha'


def test_maintained_projection_minhash_signatures(spark, tmp_path):
    """MaintainedProjection keeps a keyed row-wise derived table (here:
    the MinHash signature table LSH dedup candidates read) current
    under insert/update/delete — maintained == re-projecting the final
    corpus; rebuild() self-heals after retention laps the cursor."""
    from spark_cdc.lake.maintenance import expire_snapshots
    from spark_cdc.operators.dedup_ops import text_minhash_np
    from spark_cdc.lake.feed import follow
    from spark_cdc.operators.index_maint import MaintainedProjection

    sig_udf = text_minhash_np(num_hashes=8, shingle_k=4)

    def project(df):
        return df.select("doc_id", sig_udf(F.col("text")).alias("sig"))

    docs = LakeTable.create(
        spark, str(tmp_path / "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    st = LakeTable.create(
        spark, str(tmp_path / "sigs"), sig_schema,
        key_columns=["doc_id"], num_buckets=4,
    )
    maint = MaintainedProjection(
        st, ChangeFeedConsumer(docs, str(tmp_path / "cursor")), project
    )
    apply_batch(docs, _env(spark, _texts(30), 0, "c"), batch_id=0,
                collect_lineage=False)
    maint.catch_up()
    apply_batch(docs, _env(spark, [(i, f"totally new text {i}") for i in (3, 9)],
                           1, "c"), batch_id=1, collect_lineage=False)
    apply_batch(docs, _env(spark, [(i, None) for i in (5, 15)], 2, "d"),
                batch_id=2, collect_lineage=False)
    maint.catch_up()

    def as_map(df):
        return {r["doc_id"]: tuple(r["sig"]) for r in df.collect()}

    want = as_map(project(docs.read().select("doc_id", "text")))
    assert as_map(maint.read()) == want
    assert 5 not in as_map(maint.read())
    # expiry self-heal through the shared service loop
    apply_batch(docs, _env(spark, [(60, "late arrival doc")], 3, "c"),
                batch_id=3, collect_lineage=False)
    apply_batch(docs, _env(spark, [(i, None) for i in (1,)], 4, "d"),
                batch_id=4, collect_lineage=False)
    expire_snapshots(docs, keep_last=1)
    polls = follow(maint.consumer, maint.apply_diff, interval_sec=0.0,
                   max_idle_polls=1, on_expired=lambda _c: maint.rebuild())
    assert polls >= 1
    want2 = as_map(project(docs.read().select("doc_id", "text")))
    assert as_map(maint.read()) == want2 and 60 in want2 and 1 not in want2


def _salad(i, n_words=40, edit=False):
    words = [f"w{(i * 37 + j * 101) % 4096}" for j in range(n_words)]
    if edit:
        words[-1] = "edited"
    return " ".join(words)


def test_incremental_lsh_candidates_equals_full(spark):
    """Re-crawl dedup: candidates from (new batch × maintained bucket
    index) must equal the full-corpus LSH run restricted to pairs
    touching the new ids — without re-signing the corpus."""
    from spark_cdc.operators import dedup_ops

    corpus = spark.createDataFrame(
        [(i, _salad(i)) for i in range(60)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100, _salad(7, edit=True)),      # near-dup of corpus doc 7
         (101, _salad(900)),               # unique
         (103, _salad(800)), (104, _salad(800, edit=True))],  # new×new pair
        "doc_id long, text string",
    )
    kw = dict(num_hashes=32, bands=4)
    index = dedup_ops.minhash_band_buckets(corpus, **kw)
    inc = {(r["id_a"], r["id_b"]) for r in
           dedup_ops.incremental_lsh_candidates(new, index, **kw).collect()}
    assert (7, 100) in inc and (103, 104) in inc
    full = {(r["id_a"], r["id_b"]) for r in
            dedup_ops.minhash_lsh_candidates(corpus.unionByName(new), **kw).collect()}
    new_ids = {100, 101, 103, 104}
    assert inc == {p for p in full if p[0] in new_ids or p[1] in new_ids}


def test_maintained_lsh_bucket_index_recrawl(spark, tmp_path):
    """The LSH bucket index as a MaintainedProjection: crawl 1 indexes
    the corpus through the change feed; crawl 2's batch is checked
    against the maintained index (planted near-dup of an old doc
    found) and the index rolls forward to cover it — no corpus
    re-signing at any point."""
    from spark_cdc.operators import dedup_ops
    from spark_cdc.operators.index_maint import MaintainedProjection

    kw = dict(num_hashes=32, bands=4)

    def project(df):
        return dedup_ops.minhash_band_buckets(df, **kw)

    docs = LakeTable.create(
        spark, str(tmp_path / "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    bschema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("buckets", T.ArrayType(T.LongType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    bt = LakeTable.create(
        spark, str(tmp_path / "buckets"), bschema,
        key_columns=["doc_id"], num_buckets=4,
    )
    maint = MaintainedProjection(
        bt, ChangeFeedConsumer(docs, str(tmp_path / "cursor")), project
    )
    crawl1 = [(i, _salad(i)) for i in range(40)]
    apply_batch(docs, _env(spark, crawl1, 0, "c"), batch_id=0,
                collect_lineage=False)
    maint.catch_up()
    # crawl 2: one near-dup of an indexed doc, one fresh doc
    crawl2 = [(200, _salad(13, edit=True)), (201, _salad(700))]
    new = spark.createDataFrame(crawl2, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup_ops.incremental_lsh_candidates(new, maint.read(), **kw).collect()}
    assert (13, 200) in pairs
    assert not any(a not in (200, 201) and b not in (200, 201) for a, b in pairs)
    # the crawl lands in the docs table; the index follows and now
    # covers crawl 2 for the NEXT crawl's check
    apply_batch(docs, _env(spark, crawl2, 1, "c"), batch_id=1,
                collect_lineage=False)
    maint.catch_up()
    assert maint.read().count() == 42
    crawl3 = spark.createDataFrame([(300, _salad(700, edit=True))],
                                   "doc_id long, text string")
    pairs3 = {(r["id_a"], r["id_b"]) for r in
              dedup_ops.incremental_lsh_candidates(crawl3, maint.read(), **kw).collect()}
    assert (201, 300) in pairs3  # collides with a doc indexed in crawl 2


def _mk_servable(spark, base):
    from spark_cdc.operators.index_maint import create_bm25_index_table

    docs = LakeTable.create(
        spark, os.path.join(base, "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    idx = create_bm25_index_table(spark, os.path.join(base, "bm25"), num_buckets=8)
    maint = MaintainedBM25Index(
        idx, ChangeFeedConsumer(docs, os.path.join(base, "cursor"))
    )
    return docs, maint


def test_bm25_servable_stats_maintained_not_recomputed(spark, tmp_path):
    """The (n_docs, sum_dl) corpus stats ride in the SAME poll commit
    as the postings and must equal index_stats() over the maintained
    postings after mixed insert/update/delete batches — including a
    doc updated to EMPTY text (leaves the index, leaves the stats).
    Serving must read them from snapshot properties without touching
    the index at all."""
    from spark_cdc.operators.search import index_stats

    docs, maint = _mk_servable(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(40), 0, "c"), batch_id=0,
                collect_lineage=False)
    maint.catch_up()
    apply_batch(
        docs,
        _env(spark, [(i, f"updated zeta w{i}") for i in range(0, 40, 7)], 1, "c"),
        batch_id=1, collect_lineage=False,
    )
    apply_batch(docs, _env(spark, [(5, "")], 2, "c"), batch_id=2,
                collect_lineage=False)
    apply_batch(
        docs, _env(spark, [(i, None) for i in range(0, 40, 11)], 3, "d"),
        batch_id=3, collect_lineage=False,
    )
    maint.catch_up()
    n_m, avg_m = maint.stats()
    n_i, avg_i = index_stats(maint.read())
    assert n_m == n_i
    assert abs(avg_m - avg_i) < 1e-9
    # serving the stats is a manifest read, never an index scan
    orig = maint.read
    maint.read = lambda: (_ for _ in ()).throw(
        AssertionError("stats() scanned the index")
    )
    try:
        assert maint.stats() == (n_m, avg_m)
    finally:
        maint.read = orig
    # redelivery can't double-count: re-apply last poll's diff manually
    before = maint.stats_raw()
    assert maint.poll_apply() is False  # caught up — nothing re-applied
    assert maint.stats_raw() == before


def test_bm25_servable_probe_prunes_files_and_scores_match(spark, tmp_path):
    """Token-bucketed layout: a query probe must read strictly fewer
    files than the index holds (bucket pruning + per-file token range
    stats) and still produce exactly the full-scan scores."""
    docs, maint = _mk_servable(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(60), 0, "c"), batch_id=0,
                collect_lineage=False)
    apply_batch(
        docs, _env(spark, [(i, None) for i in range(0, 60, 9)], 1, "d"),
        batch_id=1, collect_lineage=False,
    )
    maint.catch_up()
    idx_tbl = maint.table
    total = len(idx_tbl.selected_files())
    probed = len(
        idx_tbl.selected_files(
            buckets=idx_tbl.buckets_for(["alpha"]), key_in=["alpha"]
        )
    )
    assert 0 < probed < total
    # probed serving path == full-index recompute (index-path stats)
    want = {r["doc_id"]: round(r["score"], 9)
            for r in bm25_scores(
                None, "alpha delta",
                index=bm25_index(docs.read().select("doc_id", "text")),
            ).collect()}
    scored = maint.scores("alpha delta")
    got = {r["doc_id"]: round(r["score"], 9) for r in scored.collect()}
    assert got == want
    # the probe reads the postings through the resolving kernel, never
    # a Spark scan of the postings table
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert not [line for line in plan.splitlines()
                if "FileScan" in line and idx_tbl.path in line], plan
    # the kernel applies the token probe (the row-level twin of the
    # file pruning) before it resolves: from a file that holds other
    # tokens too, it returns only the probed token's rows
    import pyarrow.parquet as pq

    rel = idx_tbl.selected_files(buckets=idx_tbl.buckets_for(["alpha"]), key_in=["alpha"])[0]
    path = os.path.join(idx_tbl.path, rel)
    assert set(pq.read_table(path).column("token").to_pylist()) - {"alpha"}
    got = read_latest(read_spec(idx_tbl.manifest), [path], key_in=["alpha"])
    assert got.num_rows and set(got.column("token").to_pylist()) == {"alpha"}
    top = maint.topk("alpha delta", k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_bm25_batch_queries_equal_per_query(spark, tmp_path):
    """batch_scores/batch_topk over the maintained index == looping
    scores()/topk() per query — one probe pass instead of N."""
    docs, maint = _mk_servable(spark, str(tmp_path))
    apply_batch(docs, _env(spark, _texts(50), 0, "c"), batch_id=0,
                collect_lineage=False)
    maint.catch_up()
    queries = [(1, "alpha delta"), (2, "beta w3"), (3, "gamma alpha beta")]
    got = {(r["query_id"], r["doc_id"]): round(r["score"], 9)
           for r in maint.batch_scores(queries).collect()}
    want = {}
    for qid, q in queries:
        for r in maint.scores(q).collect():
            want[(qid, r["doc_id"])] = round(r["score"], 9)
    assert got == want
    topb = maint.batch_topk(queries, k=2).collect()
    assert len(topb) == 6
    for qid, q in queries:
        per = [(r["rank"], r["doc_id"]) for r in maint.topk(q, k=2).collect()]
        batch = sorted(
            (r["rank"], r["doc_id"]) for r in topb if r["query_id"] == qid
        )
        assert batch == per


def test_codes_rebuild_redelivery_noop(spark, tmp_path):
    """Crash between codes-rebuild commit and cursor commit: the
    redelivered rebuild is keyed on the same head snapshot, so the
    batch-id guard skips it (no new snapshot, same codes)."""
    from spark_cdc.operators.ann import train_ivf_centroids, train_pq_codebooks

    dim, n = 8, 20
    rows = [
        (i, [float(((i * 17 + j * 3) % 11) - 5) / 5.0 for j in range(dim)])
        for i in range(n)
    ]
    vecs_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    vt = LakeTable.create(
        spark, str(tmp_path / "vecs"), vecs_schema,
        key_columns=["vec_id"], num_buckets=4,
    )
    ct = LakeTable.create(
        spark, str(tmp_path / "codes"), CODES_SCHEMA,
        key_columns=CODES_KEYS, num_buckets=4,
    )
    base_df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = train_ivf_centroids(base_df, dim, n_lists=2, seed=3, sample_size=n)
    codebooks = train_pq_codebooks(base_df, dim, m=2, n_codes=4, seed=3, sample_size=n)
    maint = MaintainedVectorCodes(
        ct, ChangeFeedConsumer(vt, str(tmp_path / "vcursor")),
        centroids, codebooks,
    )
    env = base_df.select(
        F.col("vec_id").alias("lsn"), F.lit(0).cast("long").alias("op_seq"),
        F.lit("c").alias("op"), "vec_id", "embedding",
        F.timestamp_seconds(F.lit(0)).alias("ts"),
    )
    apply_batch(vt, env, batch_id=0, collect_lineage=False)
    # first rebuild (bootstrap) commits codes AND cursor
    maint.rebuild()
    snap_after = ct.snapshot_id
    codes_after = {r["vec_id"]: (r["list_id"], tuple(r["codes"]))
                   for r in maint.read().collect()}
    # "crash before cursor commit": reset the cursor, redeliver
    maint.consumer.commit(0)
    maint.rebuild()
    ct.refresh()
    assert ct.snapshot_id == snap_after  # guard skipped the merge
    assert {r["vec_id"]: (r["list_id"], tuple(r["codes"]))
            for r in maint.read().collect()} == codes_after
    assert maint.consumer.position() == vt.snapshot_id


def test_quantizer_drift_detection_and_versioned_retrain(spark, tmp_path):
    """FAISS-operations contract: a re-crawl that shifts the embedding
    distribution must TRIP the drift signal (per-poll assignment
    similarity EWMA falls below the training-time baseline, maintained
    in the same guarded commit as the codes), and retrain() must train
    fresh quantizers on the current corpus, re-encode everything, bump
    the codebook version, reset the baseline — and restore
    ann_topk_ivfpq == exact on the shifted fixture."""
    from spark_cdc.operators import ann
    from spark_cdc.sources.changelog import generate_embeddings

    dim = 32
    A = generate_embeddings(spark, n_vectors=400, dim=dim, n_clusters=4,
                            noise=0.05, seed=1)
    B = generate_embeddings(spark, n_vectors=400, dim=dim, n_clusters=4,
                            noise=0.05, seed=99).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    vs = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    vt = LakeTable.create(spark, str(tmp_path / "v"), vs,
                          key_columns=["vec_id"], num_buckets=4)
    ct = LakeTable.create(spark, str(tmp_path / "c"), CODES_SCHEMA,
                          key_columns=CODES_KEYS, num_buckets=4)
    adf = A.select("vec_id", "embedding")
    cents = ann.train_ivf_centroids(adf, dim, n_lists=4, seed=7, sample_size=400)
    books = ann.train_pq_codebooks(adf, dim, m=8, n_codes=16, seed=7,
                                   sample_size=400)
    maint = MaintainedVectorCodes(
        ct, ChangeFeedConsumer(vt, str(tmp_path / "cur")), cents, books)

    def env(df, i, op="c"):
        return df.select(
            F.col("vec_id").alias("lsn"), F.lit(i).cast("long").alias("op_seq"),
            F.lit(op).alias("op"), "vec_id", "embedding",
            F.timestamp_seconds(F.lit(i)).alias("ts"))

    apply_batch(vt, env(adf, 0), batch_id=0, collect_lineage=False)
    maint.catch_up()
    st0 = maint.drift_status()
    assert not st0["drifted"] and st0["version"] == 1
    assert st0["baseline_sim"] > 0.95  # tight clusters near own centroid
    # the re-crawl: a second population from DIFFERENT cluster centers
    apply_batch(vt, env(B, 1), batch_id=1, collect_lineage=False)
    maint.catch_up()
    st1 = maint.drift_status()
    assert st1["last_sim"] < st1["baseline_sim"] - 0.3  # far from frozen cells
    assert st1["sim_drifted"] and st1["drifted"]
    assert st1["version"] == 1  # drift detected, quantizers still frozen

    v = maint.retrain(sample_size=800)
    assert v == 2
    st2 = maint.drift_status()
    assert not st2["drifted"] and st2["version"] == 2
    assert st2["baseline_sim"] == st2["ewma_sim"]  # baseline reset
    # retrained serving == exact brute force on the shifted corpus
    corpus = vt.read().select("vec_id", "embedding")
    queries = B.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in ann.cosine_topk(corpus, queries, k=5,
                                      score_arrow=False).collect()}
    got = {(r["query_id"], r["rank"]): r["vec_id"]
           for r in ann.ann_topk_ivfpq(
               corpus, queries, dim=dim, k=5, n_lists=4, nprobe=1,
               m=8, n_codes=16, shortlist=150,
               centroids=maint.centroids, codebooks=maint.codebooks,
               score_arrow=False).collect()}
    assert got == exact
    # maintained codes equal a wholesale re-encode with the v2 quantizers
    from spark_cdc.operators.index_maint import vector_codes_changes

    want = {r["vec_id"]: (r["list_id"], tuple(r["codes"]))
            for r in vector_codes_changes(
                corpus.withColumn("_change_type", F.lit("insert")),
                99, maint.centroids, maint.codebooks,
            ).where(F.col("op") == "c")
            .select("vec_id", "list_id", "codes").collect()}
    have = {r["vec_id"]: (r["list_id"], tuple(r["codes"]))
            for r in maint.read().collect()}
    assert have == want
    # post-retrain polls keep the signal healthy against the NEW baseline
    more = generate_embeddings(spark, n_vectors=100, dim=dim, n_clusters=4,
                               noise=0.05, seed=99).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    apply_batch(vt, env(more, 2), batch_id=2, collect_lineage=False)
    maint.catch_up()
    assert not maint.drift_status()["sim_drifted"]


def test_mor_polls_append_deltas_probe_still_prunes(spark, tmp_path):
    """Polls merge on read: each poll appends
    O(change set) delta files instead of rewriting every token bucket
    (a diverse doc batch touches most of the token hash space, so CoW
    would be an O(index) rewrite per poll). With compaction disabled,
    polls must leave delta-flagged buckets behind — and the query
    probe must STILL prune files (delta files carry the same per-file
    token range stats) and score identically to a corpus recompute."""
    from spark_cdc.operators.index_maint import create_bm25_index_table

    base = str(tmp_path)
    docs = LakeTable.create(
        spark, os.path.join(base, "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    idx = create_bm25_index_table(spark, os.path.join(base, "bm25"), num_buckets=8)
    maint = MaintainedBM25Index(
        idx, ChangeFeedConsumer(docs, os.path.join(base, "cursor")),
        compact_every=None,
    )
    for i, rows in enumerate(
        [_texts(40), [(j, f"updated zeta w{j}") for j in range(0, 40, 7)],
         [(j, None) for j in range(0, 40, 11)]]
    ):
        apply_batch(docs, _env(spark, rows, i, "d" if i == 2 else "c"),
                    batch_id=i, collect_lineage=False)
        maint.catch_up()
    ops = [m["summary"]["operation"] for m in maint.table.history()[1:]]
    assert ops == ["merge_mor"] * 3, ops
    assert maint.table.manifest.get("delta_buckets"), "MoR polls must leave deltas"
    total = len(idx.selected_files())
    probed = len(idx.selected_files(buckets=idx.buckets_for(["alpha"]),
                                    key_in=["alpha"]))
    assert 0 < probed < total
    want = {r["doc_id"]: round(r["score"], 9)
            for r in bm25_scores(
                None, "alpha zeta",
                index=bm25_index(docs.read().select("doc_id", "text")),
            ).collect()}
    got = {r["doc_id"]: round(r["score"], 9)
           for r in maint.scores("alpha zeta").collect()}
    assert got == want


def test_selective_compaction_folds_only_fragmented_buckets(spark, tmp_path):
    """Every ``compact_every`` polls the maintenance loop folds ONLY
    buckets that accumulated more than ``compact_max_files`` files
    (fold_all_deltas=False) — steady-state maintenance is O(change
    set) per poll + an amortized O(fragmented) rewrite, never O(index).
    State must keep equalling a from-scratch rebuild through the fold,
    and lightly-touched delta buckets must survive untouched."""
    from spark_cdc.operators.index_maint import create_bm25_index_table

    base = str(tmp_path)
    docs = LakeTable.create(
        spark, os.path.join(base, "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    idx = create_bm25_index_table(spark, os.path.join(base, "bm25"), num_buckets=8)
    maint = MaintainedBM25Index(
        idx, ChangeFeedConsumer(docs, os.path.join(base, "cursor")),
        compact_every=3, compact_max_files=2,
    )
    batches = [
        (0, "c", _texts(40)),
        (1, "c", [(j, f"updated zeta w{j}") for j in range(0, 40, 5)]),
        (2, "c", [(j, f"again eta w{j}") for j in range(0, 40, 5)]),
    ]
    for i, op, rows in batches:
        apply_batch(docs, _env(spark, rows, i, op), batch_id=i,
                    collect_lineage=False)
        maint.catch_up()
    # the third poll tripped the policy: some buckets folded, and NO
    # remaining delta bucket exceeds the file threshold
    files = maint.table.manifest["files"]
    deltas = {int(b) for b in maint.table.manifest.get("delta_buckets", [])}
    assert all(len(files.get(str(b), [])) <= 2 for b in deltas), (
        "a fragmented bucket survived selective compaction"
    )
    folded = set(range(maint.table.num_buckets)) - deltas
    assert folded, "compaction folded nothing"
    maintained = maint.read()
    rebuilt = bm25_index(docs.read().select("doc_id", "text")).select(
        "doc_id", "token", "tf", "dl"
    )
    assert maintained.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maintained).count() == 0


def test_bm25_index_maintained_on_stream(spark, tmp_path):
    """A maintained BM25 index plugged into the streaming runner's
    on_batch hook stays in lockstep with the corpus table the stream
    merges into — the search-serving twin of MaintainedView-on-ingest.
    Exercises the full loop: micro-batch merge → feed drain → MoR
    postings merge (+ in-stream selective compaction)."""
    from spark_cdc.operators.index_maint import create_bm25_index_table
    from spark_cdc.streaming import StreamRunner

    base = str(tmp_path)
    src_dir = os.path.join(base, "changelog")
    batches = [
        _env(spark, _texts(30), 0, "c"),
        _env(spark, [(i, f"updated zeta w{i}") for i in range(0, 30, 7)], 1, "c"),
        _env(spark, [(i, None) for i in range(0, 30, 11)], 2, "d"),
    ]
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src_dir)
    docs = LakeTable.create(
        spark, os.path.join(base, "docs"), DOCS_SCHEMA,
        key_columns=["doc_id"], num_buckets=4,
    )
    idx = create_bm25_index_table(spark, os.path.join(base, "bm25"), num_buckets=8)
    maint = MaintainedBM25Index(
        idx, ChangeFeedConsumer(docs, os.path.join(base, "cursor")),
        compact_every=2, compact_max_files=1,
    )
    stream_schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    runner = StreamRunner(
        spark, docs, src_dir, os.path.join(base, "ckpt"),
        schema=stream_schema, max_files_per_trigger=1,
        on_batch=maint.on_batch,
    )
    runner.run_available()
    assert runner.batches >= 2
    # the stream really merged the docs corpus (keyed, not degenerate)
    assert docs.read().where(F.col("doc_id").isNull()).count() == 0
    assert docs.read().count() > 20
    maintained = maint.read()
    rebuilt = bm25_index(docs.read().select("doc_id", "text")).select(
        "doc_id", "token", "tf", "dl"
    )
    assert maintained.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maintained).count() == 0
    # stats stayed transactionally consistent through the stream
    from spark_cdc.operators.search import index_stats

    n_m, avg_m = maint.stats()
    n_i, avg_i = index_stats(maintained)
    assert n_m == n_i and abs(avg_m - avg_i) < 1e-9
