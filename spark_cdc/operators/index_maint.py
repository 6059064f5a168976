"""Feed-driven incremental maintenance of search/ANN indexes.

BM25 postings and IVF/PQ code tables were build-once/rebuild-only — a
re-crawled 100 TB corpus cannot afford to rebuild its indexes every
ingest batch. This module closes the loop: the SAME change-feed +
retraction discipline the rollup IVM layer uses
(:mod:`spark_cdc.operators.ivm`) maintains the inverted index and the
vector-code table, keyed so per-doc retraction is an ordinary keyed
MERGE into a :class:`~spark_cdc.lake.table.LakeTable`:

- **BM25 postings**, key ``(doc_id, token)``: an upserted document
  RETRACTS its old postings (delete ops derived from the change feed's
  PRE-image text — cost O(change set); neither the index nor the
  corpus is ever rescanned) and inserts its new ones in the same
  batch; a deleted document just retracts. Within the batch the
  retraction carries ``op_seq 0`` and the insertion ``op_seq 1``, so a
  token present in both old and new text resolves to the new posting.
  The SERVING side is covered too (:func:`create_bm25_index_table`):
  the postings table is bucketed by **token** with per-file token
  range stats, so a query probe reads only its terms' buckets/files,
  and the corpus stats ``(n_docs, sum_dl)`` are maintained in the
  snapshot properties of the same poll commit — a query is O(its
  terms' postings), never O(index) or O(corpus).
- **vector codes**, key ``(vec_id,)``: changed vectors are re-encoded
  with the FROZEN coarse (IVF) and product (PQ) quantizers and
  upserted; deletes drop the code row. Re-training the quantizers is a
  separate, rarer operation — the serving-tier contract of FAISS-style
  systems, where codebooks version independently of the data.

Every maintainer follows the feed protocol of :mod:`spark_cdc.lake.feed`:
its ``apply_diff`` is the apply of :func:`~spark_cdc.lake.feed.follow`'s
step, and each poll's merge uses the feed's target snapshot id as its
batch id, so a crash between index commit and cursor commit makes the
redelivered poll a no-op. Serve one as a loop with ``follow(m.consumer,
m.apply_diff, include_preimage=m.include_preimage, on_expired=lambda c:
m.rebuild())`` (``python -m spark_cdc index-follow``), drain it with
``catch_up``, or attach ``on_batch`` to a stream runner. Maintained ==
rebuilt equality after
mixed insert/update/delete batches is pinned by
tests/test_index_maint.py; the driver entry ``bm25_index_incremental``
scores a query from a feed-maintained index against DuckDB's
from-scratch BM25 over the final corpus state.

Reference analogue: the insert-driven materialized views of
/root/reference/etl/clickhouse_schema/kpi_views.sql:13-15 — the same
"derived structures follow the table" contract, extended to
update/delete via retraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.lake.feed import ChangeFeedConsumer, follow, poll_once
from spark_cdc.lake.table import LakeTable
from spark_cdc.operators.search import bm25_index, bm25_scores, bm25_topk

# sentinel: "key this rebuild on the observed head snapshot"
_HEAD = object()

BM25_INDEX_KEYS = ["doc_id", "token"]

BM25_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("tf", T.LongType(), True),
        T.StructField("dl", T.IntegerType(), True),
        # version column: the feed snapshot that last wrote this posting
        T.StructField("ts", T.TimestampType(), True),
    ]
)

CODES_KEYS = ["vec_id"]

CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("list_id", T.IntegerType(), True),
        T.StructField("codes", T.ArrayType(T.ShortType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def create_bm25_index_table(
    spark,
    path: str,
    num_buckets: int = 32,
    properties: dict | None = None,
) -> LakeTable:
    """Create the SERVABLE postings-table layout: keyed
    ``(doc_id, token)`` for per-doc retraction merges, but hash-bucketed
    by **token** with within-bucket token sort and per-file token
    [min, max] stats. A query's token probe then reads only the buckets
    its terms hash into and, within them, only files whose token range
    can hold a term (:meth:`spark_cdc.lake.table.LakeTable.probe`) —
    the reference's primary-key-probe semantics (ClickHouse ORDER BY
    token index, /root/reference/etl/clickhouse_schema/init.sql:41)
    instead of a full-index scan per query. Retraction cost is
    unchanged: MoR merges append O(change set) delta rows whatever the
    bucket column."""
    return LakeTable.create(
        spark,
        path,
        BM25_INDEX_SCHEMA,
        key_columns=BM25_INDEX_KEYS,
        bucket_column="token",
        num_buckets=num_buckets,
        properties=properties,
    )


def _envelope(df: DataFrame, ordinal: int, op: str) -> DataFrame:
    """Change events at ``ordinal``; a retraction ('d') carries op_seq 0
    and an insertion ('c') op_seq 1, so within one batch the insertion
    wins a key present in both."""
    return df.select(
        F.lit(ordinal).cast("long").alias("lsn"),
        F.lit(0 if op == "d" else 1).cast("long").alias("op_seq"),
        F.lit(op).alias("op"),
        F.timestamp_seconds(F.lit(ordinal)).alias("ts"),
        *df.columns,
    )


def bm25_postings_changes(
    diff: DataFrame,
    ordinal: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Change-event batch for the postings table from one
    ``read_changes(include_preimage=True)`` diff of the corpus table.

    Retraction ('d', op_seq 0) rows are keyed by the PRE-image text's
    postings — exact, no index scan; insertion ('c', op_seq 1) rows are
    the POST-image text's postings. Tombstone payloads carry the old
    tf/dl (ignored by readers)."""
    pre = f"_pre_{text_col}"
    if pre not in diff.columns:
        raise ValueError(
            "bm25_postings_changes needs a preimage diff — poll with "
            "include_preimage=True"
        )
    old_docs = diff.where(
        F.col("_change_type").isin("delete", "update_postimage")
    ).select(F.col(id_col), F.col(pre).alias(text_col))
    new_docs = diff.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(F.col(id_col), F.col(text_col))
    dels = _envelope(bm25_index(old_docs, text_col, id_col), ordinal, "d")
    ins = _envelope(bm25_index(new_docs, text_col, id_col), ordinal, "c")
    return dels.unionByName(ins)


def _corpus_stat_exprs(c):
    """(counted, dl) column pair matching :func:`~spark_cdc.operators.
    search.index_stats` semantics exactly: a doc is counted iff it has
    ≥1 nonempty token (otherwise it has no postings and can never
    match); its dl is the raw split size, as ``bm25_index`` records."""
    from spark_cdc.operators.search import _tokens

    toks = _tokens(c)
    counted = c.isNotNull() & F.exists(toks, lambda t: t != "")
    dl = F.when(counted, F.size(toks)).otherwise(F.lit(0))
    return counted, dl


def bm25_stats_delta(diff: DataFrame, text_col: str = "text") -> tuple[int, int]:
    """(Δn_docs, Δsum_dl) contributed by one preimage diff — the
    O(change set) driver aggregate that keeps corpus stats maintained
    instead of recomputed: post-image docs add their (1, dl), pre-image
    docs retract theirs."""
    post_counted, post_dl = _corpus_stat_exprs(F.col(text_col))
    pre_counted, pre_dl = _corpus_stat_exprs(F.col(f"_pre_{text_col}"))
    is_post = F.col("_change_type").isin("insert", "update_postimage")
    is_pre = F.col("_change_type").isin("delete", "update_postimage")
    pc = F.when(is_post & post_counted, F.lit(1)).otherwise(F.lit(0))
    qc = F.when(is_pre & pre_counted, F.lit(1)).otherwise(F.lit(0))
    pd_ = F.when(is_post, post_dl).otherwise(F.lit(0))
    qd = F.when(is_pre, pre_dl).otherwise(F.lit(0))
    row = diff.agg(
        F.sum(pc - qc).alias("dn"), F.sum(pd_ - qd).alias("ddl")
    ).first()
    return int(row["dn"] or 0), int(row["ddl"] or 0)


class _MorMaintenance:
    """The feed-follower half every maintained index shares: the apply
    step of :func:`spark_cdc.lake.feed.poll_once` (derive the change
    batch from the diff, MERGE it under batch id = the feed's
    ``to_snapshot``, maybe compact) and the drain loop around it. A
    subclass supplies only :meth:`_derive` (diff → change batch plus
    the snapshot properties that ride in the same commit) and
    ``rebuild`` (the :class:`~spark_cdc.lake.feed.FeedExpiredError`
    recovery: full recompute keyed on the source's head snapshot, then
    cursor commit).

    Write-amplification discipline: a CDC poll's change set scatters
    across the index's hash-bucket space — by token for postings, by id
    for projections/codes — so as soon as a poll touches more keys than
    there are buckets, a copy-on-write merge rewrites O(index) per poll.
    So every poll merges on read (O(change set) delta appends; probes
    stay pruned because delta files carry the same per-file
    bucket-column range stats, and reads resolve latest-version on the
    fly), and a SELECTIVE compaction runs every
    ``compact_every`` polls that folds only buckets which accumulated
    > ``compact_max_files`` files (``fold_all_deltas=False``) — the
    ClickHouse background-merge / Iceberg binpack discipline. The poll
    counter is in-memory: a service restart shifts the next compaction
    by at most one cycle.
    """

    # set True to self-heal a retention-lapped cursor via rebuild()
    # instead of raising FeedExpiredError out of catch_up/on_batch
    auto_rebuild = False
    # whether _derive needs the diff's pre-images
    include_preimage = False
    _polls_since_compact = 0

    def apply_diff(self, diff: DataFrame, to_snap: int) -> None:
        """The apply of one feed poll — pass it to
        :func:`~spark_cdc.lake.feed.follow` (with ``include_preimage=
        self.include_preimage``). Snapshot properties derived from the
        diff (corpus stats, drift state) ride in the guarded merge
        commit, so a redelivered poll can neither double-count nor
        drift them."""
        # _derive reads the diff in several jobs and union branches;
        # materialize it once instead of re-running the snapshot diff
        changes, props = self._derive(diff.localCheckpoint(), to_snap)
        self._merge(changes, to_snap, props, mode="mor")
        self._maybe_compact()

    def _merge(
        self, changes: DataFrame, batch_id: int | None,
        extra_properties: dict | None = None, mode: str = "cow",
    ) -> None:
        """MERGE a change batch into the index under this maintainer's
        guard. Rebuilds keep the copy-on-write default: they rewrite
        every bucket, so the table is single-version afterwards."""
        apply_batch(
            self.table,
            changes,
            batch_id=batch_id,
            source_id=self.source_id,
            collect_lineage=False,
            collect_stats=False,
            mode=mode,
            extra_properties=extra_properties,
        )

    def poll_apply(self) -> bool:
        """One feed step; False when caught up."""
        return poll_once(self.consumer, self.apply_diff, self.include_preimage)

    def catch_up(self) -> int:
        """Drain the feed; number of polls applied (a rebuild counts as
        one when ``auto_rebuild`` is set)."""
        return follow(
            self.consumer, self.apply_diff, interval_sec=0.0, max_idle_polls=1,
            include_preimage=self.include_preimage,
            on_expired=(lambda _c: self.rebuild()) if self.auto_rebuild else None,
        )

    def on_batch(self, batch_id: int | None = None, res=None) -> None:
        """Plug into ``StreamRunner(on_batch=...)`` — after every merged
        micro-batch the index drains the corpus table's change feed, so
        search/ANN serving stays in lockstep with ingest (the index twin
        of :meth:`spark_cdc.operators.ivm.MaintainedView.on_batch`). A
        crash between table commit and index maintenance is healed by
        the next batch's drain."""
        self.catch_up()

    def _maybe_compact(self) -> list[int]:
        """Runs inside :meth:`apply_diff`, before the cursor commit.
        Compaction rewrites this maintainer's own table, not the
        source, and carries no batch id: a crash after it redelivers
        the poll with the same ``to_snapshot``, whose merge the guard
        skips, so no change batch is lost or applied twice."""
        if not self.compact_every:
            return []
        self._polls_since_compact += 1
        if self._polls_since_compact < self.compact_every:
            return []
        from spark_cdc.lake.maintenance import compact

        self._polls_since_compact = 0
        return compact(
            self.table,
            max_files_per_bucket=self.compact_max_files,
            fold_all_deltas=False,
        )


class MaintainedBM25Index(_MorMaintenance):
    """BM25 inverted index that follows its corpus table via the
    change feed — poll → retract+insert postings MERGE → commit
    cursor. ``scores``/``topk`` serve queries straight from the
    maintained postings (corpus never rescanned).

    Serving-tier discipline (both maintained in the SAME poll commit,
    so they are transactionally consistent with the postings):

    - corpus stats ``(n_docs, sum_dl)`` live in the index table's
      snapshot properties and are adjusted by the change set's delta
      (:func:`bm25_stats_delta`) — a query never runs the O(index)
      ``groupBy(doc_id)`` stats aggregate;
    - on a token-bucketed table (:func:`create_bm25_index_table`) the
      query probe reads only the buckets/files its terms can live in
      (:meth:`~spark_cdc.lake.table.LakeTable.probe`) — query cost
      scales with the terms' postings, not the index. A legacy
      doc_id-bucketed table still works, falling back to the full read.
    """

    STATS_PROP = "bm25_stats"
    include_preimage = True

    def __init__(
        self,
        index_table: LakeTable,
        consumer: ChangeFeedConsumer,
        text_col: str = "text",
        id_col: str = "doc_id",
        source_id: str = "bm25_maint",
        compact_every: int | None = 8,
        compact_max_files: int = 8,
    ):
        self.table = index_table
        self.consumer = consumer
        self.text_col = text_col
        self.id_col = id_col
        self.source_id = source_id
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files

    def _derive(self, diff: DataFrame, to_snap: int) -> tuple[DataFrame, dict]:
        dn, ddl = bm25_stats_delta(diff, self.text_col)
        n0, s0 = self.stats_raw()
        changes = bm25_postings_changes(diff, to_snap, self.text_col, self.id_col)
        return changes, {self.STATS_PROP: {"n_docs": n0 + dn, "sum_dl": s0 + ddl}}

    def stats_raw(self) -> tuple[int, int]:
        """Maintained ``(n_docs, sum_dl)`` from snapshot properties.
        A table that predates stats maintenance pays the O(index)
        doc-level aggregate ONCE here; every maintained commit after
        that serves from the manifest (no Spark job at all)."""
        p = self.table.properties.get(self.STATS_PROP)
        if p is not None:
            return int(p["n_docs"]), int(p["sum_dl"])
        row = (
            self.read()
            .groupBy("doc_id")
            .agg(F.first("dl").alias("dl"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .first()
        )
        return int(row["n"] or 0), int(row["s"] or 0)

    def stats(self) -> tuple[int, float]:
        """(N, avgdl) in the shape :func:`~spark_cdc.operators.search.
        bm25_scores` consumes."""
        n, s = self.stats_raw()
        return n, (s / n if n else 0.0)

    def probe_postings(self, tokens: list[str]) -> DataFrame:
        """Postings restricted to ``tokens``, read through bucket +
        file pruning when the table is token-bucketed (the servable
        layout); full-scan fallback otherwise."""
        toks = sorted(set(tokens))
        if self.table.bucket_column == "token" and toks:
            df = self.table.probe(toks)
        else:
            df = self.table.read()
        return df.select("doc_id", "token", "tf", "dl")

    def read(self) -> DataFrame:
        return self.table.read().select("doc_id", "token", "tf", "dl")

    def rebuild(self) -> None:
        """:class:`~spark_cdc.lake.feed.FeedExpiredError` recovery —
        snapshot retention overtook the cursor, so the diff base is
        gone. Full recompute keyed on the observed head snapshot (the
        same discipline as ``IncrementalRollup.rebuild``): stale
        ``(doc_id, token)`` keys are tombstoned, fresh postings
        inserted, cursor committed to the head. O(corpus), which is
        the price of letting retention lap a consumer — a feed poll
        stays O(change set) on the healthy path."""
        self.consumer.table.refresh()
        to_snap = self.consumer.table.snapshot_id
        docs = self.consumer.table.read().select(
            F.col(self.id_col), F.col(self.text_col)
        )
        fresh = bm25_index(docs, self.text_col, self.id_col)
        stale = (
            self.read()
            .select("doc_id", "token")
            .join(fresh.select("doc_id", "token"), ["doc_id", "token"], "left_anti")
            .select(
                "doc_id",
                "token",
                F.lit(None).cast("long").alias("tf"),
                F.lit(None).cast("int").alias("dl"),
            )
        )
        changes = _envelope(stale, to_snap, "d").unionByName(
            _envelope(fresh, to_snap, "c")
        )
        counted, dl = _corpus_stat_exprs(F.col(self.text_col))
        srow = docs.agg(
            F.sum(F.when(counted, F.lit(1)).otherwise(F.lit(0))).alias("n"),
            F.sum(dl).alias("s"),
        ).first()
        self._merge(changes, to_snap, {
            self.STATS_PROP: {"n_docs": int(srow["n"] or 0), "sum_dl": int(srow["s"] or 0)}
        })
        self.consumer.commit(to_snap)

    def scores(self, query: str, k1: float = 1.2, b: float = 0.75) -> DataFrame:
        qtokens = sorted({t for t in query.lower().split() if t})
        idx = self.probe_postings(qtokens)
        return bm25_scores(None, query, k1=k1, b=b, index=idx, stats=self.stats())

    def topk(self, query: str, k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
        qtokens = sorted({t for t in query.lower().split() if t})
        idx = self.probe_postings(qtokens)
        return bm25_topk(None, query, k=k, k1=k1, b=b, index=idx, stats=self.stats())

    def batch_scores(
        self, queries: list[tuple], k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        """Score a batch of ``(query_id, text)`` queries in one pass:
        one pruned probe for the union of all terms, one shuffle —
        see :func:`spark_cdc.operators.search.bm25_batch_scores`."""
        from spark_cdc.operators.search import bm25_batch_scores

        toks = [t for _, q in queries for t in q.lower().split() if t]
        idx = self.probe_postings(toks)
        return bm25_batch_scores(
            None, queries, k1=k1, b=b, index=idx, stats=self.stats()
        )

    def batch_topk(
        self, queries: list[tuple], k: int = 10,
        k1: float = 1.2, b: float = 0.75,
    ) -> DataFrame:
        from spark_cdc.operators.search import bm25_batch_topk

        toks = [t for _, q in queries for t in q.lower().split() if t]
        idx = self.probe_postings(toks)
        return bm25_batch_topk(
            None, queries, k=k, k1=k1, b=b, index=idx, stats=self.stats()
        )


class MaintainedProjection(_MorMaintenance):
    """Generic CDC-live derived table: any deterministic ROW-WISE keyed
    projection of a corpus table (one output row per input key), kept
    current through the change feed — upserted keys re-projected,
    deleted keys tombstoned. MinHash signature tables, text-profile
    annotation tables and feature stores are all this shape; the
    PQ/IVF code table (:class:`MaintainedVectorCodes`) is the same
    pattern with frozen-quantizer state, and only the postings index
    (:class:`MaintainedBM25Index`) needs the stronger pre-image
    retraction because its key set EXPANDS per doc.

    ``project(df) -> DataFrame`` must map rows of the corpus's user
    columns to rows keyed by the same ``id_col`` (carrying it through
    unchanged) whose remaining columns match the target table's user
    schema minus ``ts``.
    """

    def __init__(
        self,
        proj_table: LakeTable,
        consumer: ChangeFeedConsumer,
        project,
        id_col: str = "doc_id",
        source_id: str = "proj_maint",
        compact_every: int | None = 8,
        compact_max_files: int = 8,
    ):
        self.table = proj_table
        self.consumer = consumer
        self.project = project
        self.id_col = id_col
        self.source_id = source_id
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files

    def _derive(self, diff: DataFrame, ordinal: int) -> tuple[DataFrame, None]:
        up = diff.where(F.col("_change_type").isin("insert", "update_postimage"))
        projected = self.project(up.drop("_change_type"))
        pay = [c for c in projected.columns if c != self.id_col]
        dels = diff.where(F.col("_change_type") == "delete").select(
            F.col(self.id_col),
            *[F.lit(None).cast(projected.schema[c].dataType).alias(c) for c in pay],
        )
        changes = _envelope(projected, ordinal, "c").unionByName(
            _envelope(dels, ordinal, "d")
        )
        return changes, None

    def read(self) -> DataFrame:
        drop = [c for c in ("ts",) if c in self.table.user_schema.names]
        return self.table.read().drop(*drop)

    def rebuild(self) -> None:
        """FeedExpired recovery / bootstrap: re-project the full corpus
        keyed on the observed head, tombstoning keys that vanished."""
        self.consumer.table.refresh()
        to_snap = self.consumer.table.snapshot_id
        full = self.consumer.table.read().withColumn(
            "_change_type", F.lit("insert")
        )
        gone = (
            self.read()
            .select(self.id_col)
            .join(full.select(self.id_col), self.id_col, "left_anti")
            .withColumn("_change_type", F.lit("delete"))
        )
        # null-fill the corpus payload columns the tombstones lack
        for c in full.columns:
            if c not in gone.columns:
                gone = gone.withColumn(c, F.lit(None).cast(full.schema[c].dataType))
        changes, _ = self._derive(full.unionByName(gone.select(full.columns)), to_snap)
        self._merge(changes, to_snap)
        self.consumer.commit(to_snap)


def vector_codes_changes(
    diff: DataFrame,
    ordinal: int,
    centroids,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Change-event batch for the codes table from one corpus diff:
    upserted vectors re-encoded with the FROZEN quantizers ('c');
    deleted vectors tombstoned ('d'). Preimage not needed — the key
    alone identifies the code row to replace/drop."""
    from spark_cdc.operators.ann import ivf_assign_udf, pq_encode_udf

    up = diff.where(F.col("_change_type").isin("insert", "update_postimage")).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col)
    )
    enc = up.select(
        "vec_id",
        F.element_at(
            ivf_assign_udf(centroids, nprobe=1)(F.col(vec_col).cast("array<double>")), 1
        )
        .cast("int")
        .alias("list_id"),
        pq_encode_udf(codebooks)(F.col(vec_col).cast("array<double>")).alias("codes"),
    )
    dels = diff.where(F.col("_change_type") == "delete").select(
        F.col(id_col).alias("vec_id"),
        F.lit(None).cast("int").alias("list_id"),
        F.lit(None).cast("array<smallint>").alias("codes"),
    )
    return _envelope(enc, ordinal, "c").unionByName(
        _envelope(dels, ordinal, "d")
    )


class MaintainedVectorCodes(_MorMaintenance):
    """IVF+PQ code table that follows its vector corpus via the change
    feed — the serving-tier index (skinny ``(vec_id, list_id, codes)``
    rows) stays current under re-crawls without re-encoding the whole
    corpus. Quantizers are frozen at construction; :meth:`retrain`
    versions them and refreshes the codes when drift demands it.

    **Drift monitoring** (the FAISS-operations problem every serving
    tier has: frozen codebooks silently lose recall as the corpus
    distribution shifts): each poll measures the mean nearest-centroid
    cosine similarity of the batch's re-encoded vectors
    (:func:`spark_cdc.operators.ann.ivf_assign_quality_udf`) — an
    O(change set) aggregate — and folds it into an EWMA stored in the
    SAME guarded commit as the codes. The first maintained batch
    (normally the bootstrap insert-all) sets the training-time
    baseline. :meth:`drift_status` compares EWMA to baseline and adds
    a list-size imbalance check; :meth:`retrain` trains fresh
    quantizers on the current corpus, re-encodes everything, resets
    the baseline and bumps the codebook version — all in one commit.
    """

    QUANT_PROP = "quantizer"
    EWMA_ALPHA = 0.3

    def __init__(
        self,
        codes_table: LakeTable,
        consumer: ChangeFeedConsumer,
        centroids,
        codebooks,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        source_id: str = "codes_maint",
        compact_every: int | None = 8,
        compact_max_files: int = 8,
    ):
        self.table = codes_table
        self.consumer = consumer
        self.centroids = centroids
        self.codebooks = codebooks
        self.vec_col = vec_col
        self.id_col = id_col
        self.source_id = source_id
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files

    def _batch_quality(self, upserts: DataFrame) -> tuple[int, float | None]:
        """(count, mean nearest-centroid cosine) of a change batch's
        new/updated vectors — bounded by the change set."""
        from spark_cdc.operators.ann import ivf_assign_quality_udf

        row = upserts.select(
            F.count(F.lit(1)).alias("n"),
            F.avg(
                ivf_assign_quality_udf(self.centroids)(
                    F.col(self.vec_col).cast("array<double>")
                )
            ).alias("sim"),
        ).first()
        n = int(row["n"] or 0)
        return n, (float(row["sim"]) if row["sim"] is not None else None)

    def _quality_props(self, n: int, sim: float | None) -> dict:
        """Next drift-state properties after observing a batch quality
        sample. Baseline fixes on the FIRST observed batch (bootstrap
        insert-all ≈ training distribution); later batches move the
        EWMA only."""
        q = dict(self.table.properties.get(self.QUANT_PROP) or {})
        q.setdefault("version", 1)
        if sim is not None and n > 0:
            if q.get("baseline_sim") is None:
                q["baseline_sim"] = sim
                q["ewma_sim"] = sim
            else:
                a = self.EWMA_ALPHA
                q["ewma_sim"] = a * sim + (1 - a) * float(
                    q.get("ewma_sim", sim)
                )
            q["last_sim"] = sim
            q["last_n"] = n
        return {self.QUANT_PROP: q}

    def _derive(self, diff: DataFrame, to_snap: int) -> tuple[DataFrame, dict]:
        changes = vector_codes_changes(
            diff, to_snap, self.centroids, self.codebooks, self.vec_col, self.id_col
        )
        n, sim = self._batch_quality(
            diff.where(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select(F.col(self.vec_col))
        )
        return changes, self._quality_props(n, sim)

    def drift_status(self, sim_drop: float = 0.05,
                     imbalance_factor: float = 4.0) -> dict:
        """Serving-health snapshot. ``drifted`` trips when the EWMA of
        per-batch assignment similarity has fallen more than
        ``sim_drop`` below the baseline, OR the fullest IVF list holds
        more than ``imbalance_factor`` × the mean list size (a shifted
        corpus piling into few cells degrades probe selectivity even
        if similarity holds). The similarity signal is maintained
        per-poll (no scan here); the list histogram is ONE groupBy over
        the skinny codes table — a monitoring call, not a query-path
        cost."""
        q = dict(self.table.properties.get(self.QUANT_PROP) or {})
        sizes = [
            int(r["n"])
            for r in self.read()
            .groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        mean_sz = (sum(sizes) / len(sizes)) if sizes else 0.0
        imbalance = (max(sizes) / mean_sz) if sizes and mean_sz else 0.0
        base, ewma = q.get("baseline_sim"), q.get("ewma_sim")
        sim_drifted = (
            base is not None and ewma is not None and (base - ewma) > sim_drop
        )
        return {
            "version": q.get("version", 1),
            "baseline_sim": base,
            "ewma_sim": ewma,
            "last_sim": q.get("last_sim"),
            "sim_drifted": sim_drifted,
            "list_imbalance": round(imbalance, 2),
            "imbalance_drifted": bool(imbalance > imbalance_factor),
            "drifted": bool(sim_drifted or imbalance > imbalance_factor),
        }

    def retrain(self, vectors: DataFrame | None = None,
                seed: int = 42, sample_size: int = 10_000) -> int:
        """Train FRESH quantizers on the current corpus distribution
        (same deterministic hash-ordered samplers as the originals,
        same shape parameters inferred from the frozen ones), re-encode
        every vector, and bump the codebook version — baseline/EWMA
        reset to the post-retrain distribution in the same commit.
        Returns the new version. Uses ``rebuild(batch_id=None)``: the
        corpus head is unchanged, so the exactly-once guard must be
        bypassed (re-running a retrain is content-idempotent)."""
        import numpy as np

        from spark_cdc.operators.ann import (
            train_ivf_centroids,
            train_pq_codebooks,
        )

        self.consumer.table.refresh()
        if vectors is None:
            vectors = self.consumer.table.read().select(
                F.col(self.id_col), F.col(self.vec_col)
            )
        dim = len(self.centroids[0])
        n_lists = len(self.centroids)
        m, n_codes, _sub = np.asarray(self.codebooks).shape
        # swap the quantizers in only for the rebuild and ROLL BACK if
        # it fails: a raise after the reassignment would otherwise
        # leave this maintainer encoding future polls with the new
        # quantizers against a table still holding old-version codes
        # (round-6 advisory)
        old_centroids, old_codebooks = self.centroids, self.codebooks
        self.centroids = train_ivf_centroids(
            vectors, dim, n_lists=n_lists, seed=seed,
            sample_size=sample_size, id_col=self.id_col, vec_col=self.vec_col,
        )
        self.codebooks = train_pq_codebooks(
            vectors, dim, m=int(m), n_codes=int(n_codes), seed=seed,
            sample_size=sample_size, id_col=self.id_col, vec_col=self.vec_col,
        )
        try:
            n, sim = self._batch_quality(vectors.select(F.col(self.vec_col)))
            q = dict(self.table.properties.get(self.QUANT_PROP) or {})
            new_version = int(q.get("version", 1)) + 1
            self.rebuild(
                vectors=vectors,
                batch_id=None,
                extra_properties={
                    self.QUANT_PROP: {
                        "version": new_version,
                        "baseline_sim": sim,
                        "ewma_sim": sim,
                        "last_sim": sim,
                        "last_n": n,
                    }
                },
            )
        except BaseException:
            self.centroids, self.codebooks = old_centroids, old_codebooks
            raise
        return new_version

    def read(self) -> DataFrame:
        return self.table.read().select("vec_id", "list_id", "codes")

    def rebuild(self, vectors: DataFrame | None = None,
                batch_id: int | object = _HEAD,
                extra_properties: dict | None = None) -> None:
        """Full re-encode with the frozen quantizers (FeedExpired
        recovery via ``follow(on_expired=...)`` or ``auto_rebuild``,
        post-retrain refresh, or bootstrap): one insert batch replacing every key, plus
        tombstones for code rows whose vectors vanished while the feed
        was expired. ``vectors`` defaults to the corpus table's current
        state.

        Exactly-once: ``batch_id`` defaults to the observed head
        snapshot (the same discipline as
        :meth:`MaintainedBM25Index.rebuild`), so a crash between the
        rebuild commit and the cursor commit makes the redelivered
        rebuild a no-op. Pass ``batch_id=None`` explicitly to bypass
        the guard — the post-retrain refresh at an UNCHANGED corpus
        head needs that, since its head snapshot id was already
        consumed by the pre-retrain state (re-running that refresh is
        content-idempotent)."""
        self.consumer.table.refresh()
        to_snap = self.consumer.table.snapshot_id
        if batch_id is _HEAD:
            batch_id = to_snap
        if vectors is None:
            vectors = self.consumer.table.read().select(
                F.col(self.id_col), F.col(self.vec_col)
            )
        fake_diff = vectors.select(
            F.col(self.id_col), F.col(self.vec_col),
            F.lit("insert").alias("_change_type"),
        )
        gone = (
            self.read()
            .select("vec_id")
            .join(
                vectors.select(F.col(self.id_col).alias("vec_id")),
                "vec_id",
                "left_anti",
            )
            .select(
                "vec_id",
                F.lit(None).cast("int").alias("list_id"),
                F.lit(None).cast("array<smallint>").alias("codes"),
                F.lit("delete").alias("_change_type"),
            )
        )
        changes = vector_codes_changes(
            fake_diff, to_snap, self.centroids, self.codebooks, self.vec_col, self.id_col
        ).unionByName(_envelope(gone.drop("_change_type"), to_snap, "d"))
        self._merge(changes, batch_id, extra_properties)
        self.consumer.commit(to_snap)
