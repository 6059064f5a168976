"""Deduplication family for training-data pipelines.

All candidate-generation stages are JVM column expressions (shingles
via ``sequence``+``transform``, MinHash via ``aggregate`` over
``xxhash64``); only SimHash uses a vectorized pandas UDF (bitwise
majority vote has no clean column-expression form). The LSH shapes
are the standard shingle→minhash→band→bucket-join pipeline:
candidates come from an equi-join on (band_id, band_hash) — a plain
shuffle join Catalyst can plan — never an all-pairs cross product,
so the cost at 100 TB is bounded by bucket collision counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.functions.text import fingerprint, normalize_text_expr


def _ensure_parallel(df: DataFrame, already_parallel: bool = False) -> DataFrame:
    """Small single-file inputs arrive as one partition and would run
    per-doc compute single-threaded; spread them across the cluster.
    (At real scale inputs are already many-partitioned — pass
    ``already_parallel=True`` or rely on the file-count probe's no-op.)

    Deliberately avoids ``df.rdd.getNumPartitions()``: touching ``.rdd``
    forces a full plan→RDD conversion per call just to read a count.
    ``inputFiles()`` is driver-side file-source metadata — for the
    at-scale case (many files) it is a cheap no-op decision."""
    if already_parallel:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = 0
    if nfiles >= max(target // 2, 2):
        return df
    return df.repartition(target)


# --------------------------------------------------------------- exact
def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    member_arrays: bool = False,
) -> DataFrame:
    """Exact (normalized) duplicate membership: md5-fingerprint groupBy.

    Returns membership as ROWS — ``(doc_id, fp, keep_id, n_docs)``, one
    per member of a duplicate group — not as a per-group id array. The
    row form is the only one that survives corpus scale: a boilerplate
    or template fingerprint can have 10^6–10^8 members, and a
    ``collect_list`` group array materializes them as one multi-GB row
    in a single aggregation task (arrays can't spill). Rows carry the
    same information (``keep_id`` marks the canonical survivor, same
    convention as :func:`duplicate_components`), are fully spillable
    (map-side-combinable count/min agg + an equi-join back on the
    fingerprint that AQE can skew-split), and feed an anti-join drop of
    non-keepers directly. The reference's ReplacingMergeTree analogue
    (/root/reference/etl/clickhouse_schema/init.sql:14) never
    materializes group membership either.

    ``member_arrays=True`` restores the one-row-per-group
    ``(fp, n_docs, doc_ids, keep_id)`` shape for SMALL corpora only
    (exploratory notebooks) — explicitly unsafe at scale.
    """
    if member_arrays:
        return (
            df.withColumn("fp", fingerprint(F.col(text_col)))
            .groupBy("fp")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
                F.min(id_col).alias("keep_id"),
            )
            .where(F.col("n_docs") > 1)
        )
    fp_df = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    groups = (
        fp_df.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )
    return fp_df.join(groups, "fp").select(id_col, "fp", "keep_id", "n_docs")


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Eval-set decontamination: which training documents share any
    word n-gram with any eval document (the GPT-3-style 13-gram
    collision check; default n=8 for shorter docs).

    Asymmetric by design — the eval set is small, the corpus is 100 TB:
    eval n-grams explode to a skinny (gram, eval_id) table that AQE
    broadcasts; corpus n-grams explode and equi-join it, so the corpus
    side is one scan + projection with the join map-side and the
    output bounded by actual collisions. Returns one row per
    contaminated (doc_id, eval_id) pair with the collision count —
    feed ``.select(id_col).distinct()`` to an anti-join to scrub.
    """
    ev = (
        eval_set.select(
            F.col(eval_id_col).alias("eval_id"),
            F.explode(word_ngrams(F.col(eval_text_col), n)).alias("gram"),
        )
        .where(F.length("gram") > 0)
        .distinct()
    )
    doc = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    ).where(F.length("gram") > 0)
    return (
        doc.join(F.broadcast(ev), "gram")
        .groupBy("doc_id", "eval_id")
        .agg(F.countDistinct("gram").alias("n_collisions"))
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "exact",
) -> DataFrame:
    """The end product of the dedup family: the corpus with every
    duplicate-group member except the keeper (min id) dropped.

    ``method='exact'``: normalized-fingerprint groups →
    left_anti join on the non-keeper ids (two shuffles total, both
    spillable, AQE-skew-splittable — works when a boilerplate group has
    10^8 members). ``method='components'``: also folds NEAR-duplicates
    — MinHash-LSH candidates verified by n-gram Jaccard, transitively
    closed with big-star/small-star, one survivor per component.
    """
    if method == "exact":
        losers = (
            exact_duplicates(df, text_col, id_col)
            .where(F.col(id_col) != F.col("keep_id"))
            .select(id_col)
        )
    elif method == "components":
        cand = minhash_lsh_candidates(df, id_col=id_col, text_col=text_col)
        pairs = ngram_jaccard_pairs(df, cand, id_col=id_col, text_col=text_col)
        comp = duplicate_components_star(pairs.select("id_a", "id_b"))
        losers = (
            comp.where(F.col("doc_id") != F.col("keep_id"))
            .select(F.col("doc_id").alias(id_col))
        )
    else:
        raise ValueError(f"unknown dedup method {method!r}")
    return df.join(losers, on=id_col, how="left_anti")


# ----------------------------------------------------------- shingles
def char_shingles(c, k: int = 5):
    """Character k-shingles of the lower-cased normalized text as an
    array column — ``sequence`` + ``transform``, fully JVM-side."""
    t = F.lower(normalize_text_expr(c))
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(k)))


def word_ngrams(c, n: int = 3):
    toks = F.split(F.lower(normalize_text_expr(c)), r"\s+")
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), cnt - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


# ------------------------------------------------------------ minhash
MERSENNE_P = (1 << 31) - 1  # 2^31-1, prime


def _affine_params(num_hashes: int, seed: int = 7):
    """Deterministic (a, b) pairs for h' = (a·h + b) mod p — the
    classic universal-hash MinHash permutation family."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def shingle_hashes(shingles):
    """Hash each shingle once: xxhash64 folded into [0, 2^31-1)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P)))


def minhash_signature(hashed, num_hashes: int = 32):
    """MinHash signature via universal affine permutations over a
    PRE-HASHED shingle array (materialize :func:`shingle_hashes` in
    its own projection first so it is evaluated once per row).

    Each permutation is a cheap ``min((a·h + b) mod p)`` —
    O(shingles + shingles·perms·{mul,add}) instead of re-running the
    string hash per permutation. All JVM expressions; arithmetic stays
    below 2^62 so ANSI overflow checking never trips."""
    return F.array(
        *[
            F.array_min(
                F.transform(hashed, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P))
            )
            for a, b in _affine_params(num_hashes)
        ]
    )


def text_minhash_np(num_hashes: int = 32, shingle_k: int = 5):
    """End-to-end Arrow MinHash: normalized text → byte k-shingles →
    rolling polynomial hash → affine permutations, all inside numpy.

    Profiling showed the JVM higher-order-function shingling
    (``transform(sequence(...), substr)``) is interpreted per element
    (~2 µs/op → tens of seconds on 10^7 shingles); here shingling is a
    zero-copy ``sliding_window_view`` and hashing one matmul per doc.
    """
    params = _affine_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    # polynomial rolling-hash weights (base 257 mod p)
    powers = np.array(
        [pow(257, j, MERSENNE_P) for j in range(shingle_k)], dtype=np.int64
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append([MERSENNE_P] * num_hashes)
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(b) < shingle_k:
                b = np.pad(b, (0, shingle_k - len(b)))
            win = np.lib.stride_tricks.sliding_window_view(b, shingle_k).astype(np.int64)
            h = (win @ powers) % MERSENNE_P  # (n_shingles,)
            sig = ((h[None, :] * A + B) % MERSENNE_P).min(axis=1)
            out.append(sig.tolist())
        return pd.Series(out)

    return _sig


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    use_arrow: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    rows/band = num_hashes/bands; two docs are candidates if any band
    of their signatures collides. Returns distinct (id_a, id_b) with
    id_a < id_b. ``use_arrow`` (default) computes signatures with the
    vectorized numpy UDF over normalized text; ``False`` uses the
    pure-JVM expression pipeline (xxhash shingles + affine perms) —
    same LSH structure, different hash family, so candidate sets may
    differ slightly; both are valid LSH instances.
    """
    df = _ensure_parallel(df)
    banded = _explode_buckets(
        minhash_band_buckets(
            df, id_col, text_col, num_hashes, bands, shingle_k, use_arrow
        ),
        id_col,
    )
    # merge-hint the self-join: both sides then shuffle identically on
    # (band, bucket) and AQE's exchange reuse computes the signature
    # UDF pass ONCE; the broadcast plan the optimizer otherwise picks
    # at medium corpus sizes evaluates it on both sides (measured
    # 1.9s → 1.2s at 5k docs, same rows). At 10^9 docs sort-merge is
    # the only feasible strategy anyway, so the hint changes nothing.
    pairs = (
        banded.alias("l").hint("merge")
        .join(banded.alias("r"), ["band", "bucket"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    use_arrow: bool = True,
) -> DataFrame:
    """ONE row per doc: the banded LSH bucket keys as a fixed-arity
    array (band index = array position) — the maintainable/servable
    form of the LSH index. Because it is a keyed ROW-WISE projection of
    the corpus, :class:`spark_cdc.operators.index_maint.
    MaintainedProjection` keeps it current under the change feed, and
    :func:`incremental_lsh_candidates` probes it with only a NEW
    batch's bands — re-crawl dedup without re-running all-pairs."""
    rows = num_hashes // bands
    if use_arrow:
        norm = F.lower(normalize_text_expr(F.col(text_col)))
        sig = df.select(
            F.col(id_col).alias("_id"),
            text_minhash_np(num_hashes, shingle_k)(norm).alias("sig"),
        )
    else:
        sig = df.select(
            F.col(id_col).alias("_id"),
            shingle_hashes(char_shingles(F.col(text_col), shingle_k)).alias("hb"),
        ).select("_id", minhash_signature(F.col("hb"), num_hashes).alias("sig"))
    buckets = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                )
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col("_id").alias(id_col), buckets.alias("buckets"))


def _explode_buckets(bb: DataFrame, id_col: str = "doc_id") -> DataFrame:
    # posexplode_outer, deliberately: the inner form makes the optimizer
    # infer `size(buckets) > 0` and push it below the parallelize
    # repartition, where it re-evaluates the whole signature UDF a
    # second time per side (guide §4.4 duplication — measured 2× the
    # ArrowEvalPython nodes in the plan). The bucket array is fixed
    # arity ≥ 1 (F.array of the band hashes), so outer vs inner emit
    # identical rows; a hypothetical null array yields null band/bucket
    # keys, which no equi-join ever matches.
    return bb.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer("buckets").alias("band", "bucket"),
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    bucket_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    use_arrow: bool = True,
    include_new_pairs: bool = True,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Near-dup candidate pairs between a NEW document batch and an
    already-indexed corpus — the asymmetric shape a re-crawling
    pipeline needs: only the new batch is signed and its skinny
    (id, band, bucket) rows equi-join the maintained
    :func:`minhash_band_buckets` index, so cost is O(new batch +
    collisions) and the corpus is NEVER re-signed or re-paired.

    ``broadcast_batch`` (default) BROADCASTS the new batch's exploded
    band rows, so the corpus-side index streams through the join with
    ZERO shuffle — at 10^9 indexed docs, exchanging the index to
    co-partition with a 10^5-doc crawl batch would dwarf the probe
    itself (plan-asserted shuffle-free in tests/test_plans.py). Set it
    False only for a bootstrap-sized "batch" where broadcasting would
    blow the driver; AQE then picks the join side.

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``, covering
    new×indexed collisions and (with ``include_new_pairs``) new×new
    collisions; pairs wholly inside the index are not produced — they
    were found when those docs were the new batch. Band parameters
    MUST match the ones the index was built with (same hash family,
    same band hash). Restricted to pairs touching the new ids, the
    result equals what a full-corpus :func:`minhash_lsh_candidates`
    over index∪batch would produce (pinned by pytest)."""
    nb = _explode_buckets(
        minhash_band_buckets(
            new_docs, id_col, text_col, num_hashes, bands, shingle_k, use_arrow
        ),
        id_col,
    )
    ie = _explode_buckets(bucket_index, id_col)
    probe = F.broadcast(nb) if broadcast_batch else nb
    cross = (
        ie.alias("i")
        .join(probe.alias("n"), ["band", "bucket"])
        .where(F.col("n._id") != F.col("i._id"))
        .select(
            F.least("n._id", "i._id").alias("id_a"),
            F.greatest("n._id", "i._id").alias("id_b"),
        )
    )
    if include_new_pairs:
        nn = (
            (F.broadcast(nb) if broadcast_batch else nb).alias("l")
            .join(nb.alias("r"), ["band", "bucket"])
            .where(F.col("l._id") < F.col("r._id"))
            .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        )
        cross = cross.unionByName(nn)
    return cross.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact word-n-gram Jaccard
    similarity; keeps pairs ≥ threshold. Join-then-array-intersect,
    no UDF. Grams are computed only for docs that appear in a
    candidate pair (semi-join pre-filter) — at scale the candidate set
    is usually tiny relative to the corpus, but NOT guaranteed bounded
    (boilerplate/template-heavy corpora can have near-dup rates where
    the candidate id set is itself huge), so no forced broadcast here:
    AQE picks broadcast when the built side is actually small and falls
    back to a shuffled semi-join when it isn't, instead of OOMing."""
    ids = candidates.select(F.col("id_a").alias("_id")).unionByName(
        candidates.select(F.col("id_b").alias("_id"))
    ).distinct()
    grams = (
        df.join(ids, df[id_col] == ids["_id"], "left_semi")
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(word_ngrams(F.col(text_col), n)).alias("grams"),
        )
    )
    # merge-hint both gram joins: the two sides shuffle the SAME
    # semi-joined gram table on its id, so AQE's exchange reuse
    # computes the n-gram projection once instead of once per join
    # (measured 2.3s → 1.6s on the sf0.1 verify); without the hint the
    # optimizer broadcast-builds each side separately.
    ga = grams.withColumnRenamed("_id", "id_a").withColumnRenamed("grams", "ga")
    gb = grams.withColumnRenamed("_id", "id_b").withColumnRenamed("grams", "gb")
    return (
        candidates.join(ga.hint("merge"), "id_a")
        .join(gb.hint("merge"), "id_b")
        .withColumn(
            "jaccard",
            F.try_divide(
                F.size(F.array_intersect("ga", "gb")).cast("double"),
                F.size(F.array_union("ga", "gb")).cast("double"),
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------ simhash
@F.pandas_udf(T.LongType())
def _simhash64(token_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash majority vote over PRE-HASHED tokens (arrays of
    signed int64 from JVM ``xxhash64``), numpy-vectorized per Arrow
    batch. Hashing happens JVM-side so signatures are deterministic
    across processes, executors and replays (Python's ``hash(str)`` is
    per-process seeded — the round-1 determinism bug)."""
    out = np.zeros(len(token_hashes), dtype=np.int64)
    for i, hs_list in enumerate(token_hashes):
        if hs_list is None or len(hs_list) == 0:
            continue
        hs = np.asarray(hs_list, dtype=np.int64).view(np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        votes = bits.sum(axis=0) * 2 - len(hs)
        sig = 0
        for b in np.nonzero(votes > 0)[0]:
            sig |= 1 << int(b)
        if sig >= 1 << 63:  # two's-complement into signed 64-bit
            sig -= 1 << 64
        out[i] = sig
    return pd.Series(out)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc 64-bit SimHash over word tokens.

    Tokens are hashed JVM-side (``transform(tokens, xxhash64)``) before
    the Arrow majority-vote UDF — deterministic everywhere, no Python
    string hashing in the loop.
    """
    toks = F.split(F.lower(normalize_text_expr(F.col(text_col))), r"\s+")
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    return _ensure_parallel(df).select(F.col(id_col), _simhash64(hs).alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``n_bands`` equal-width bit
    bands (any band match → candidate; by pigeonhole, Hamming ≤
    ``n_bands - 1`` guarantees ≥1 identical band — choose
    ``n_bands > max_hamming`` for recall 1.0), then filter by exact
    Hamming distance via ``bit_count(xor)``. Wider bands (fewer of
    them) keep bucket collision counts low at corpus scale; the
    default 4×16-bit blocking matches Hamming ≤ 3."""
    assert 64 % n_bands == 0, "n_bands must divide 64"
    width = 64 // n_bands
    mask = (1 << width) - 1
    sh = simhash(df, id_col, text_col)
    banded = sh.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "simhash", "bb.band", "bb.bucket")
    return (
        # merge-hint: identical shuffles on (band, bucket) are reused at
        # runtime, so the SimHash UDF pass runs once, not per join side
        banded.alias("l").hint("merge")
        .join(banded.alias("r"), ["band", "bucket"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------- duplicate grouping
def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → the actual
    dedup decision: one row per involved doc with ``keep_id`` = the
    smallest doc id in its component (keep the canonical one, drop the
    rest).

    Iterative min-label propagation, pure DataFrame ops: each round
    every node adopts the minimum label among itself and its
    neighbours; convergence in O(component diameter) rounds (near-dup
    components are tiny and dense — a handful of rounds in practice).
    Each round is one shuffle join + one aggregate; the loop runs on
    the driver but the DATA never does.

    Raises ``RuntimeError`` if the loop exits without converging
    (component diameter > ``max_iterations``) — partial labels would
    silently split one duplicate group into several keep groups. For
    high-diameter graphs use :func:`duplicate_components_star`
    (O(log n) rounds).
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        # lineage must be truncated per round (localCheckpoint, not
        # persist): persist caches data but the logical plan still
        # nests one level per iteration, and driver-side analysis cost
        # compounds until rounds dominate wall time
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iterations} "
            "iterations (component diameter too large); raise "
            "max_iterations or use duplicate_components_star"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("keep_id"))


def duplicate_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating **large-star / small-star**
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the at-scale upgrade over min-label propagation:
    converges in O(log n) rounds regardless of component diameter
    (label propagation needs O(diameter) rounds, pathological for
    chain-shaped duplicate graphs).

    Each round is two join+aggregate passes that rewire edges toward
    component minima; at fixpoint the edge set is a star forest
    (every node → its component's smallest id). Output schema matches
    :func:`duplicate_components`: (doc_id, keep_id), keep_id = min id
    of the component, including the kept doc labeling itself.
    """
    def edge_sig(df: DataFrame):
        # one-job convergence probe: (count, xor of edge hashes) — a
        # fixpoint keeps the exact edge set, so an unchanged signature
        # means converged (vs. two subtract shuffles per round); xor
        # can't overflow under ANSI mode, unlike sum
        return tuple(
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            ).collect()[0]
        )

    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col(id_a) != F.col(id_b))
        .distinct()
        # localCheckpoint (not persist): each round must TRUNCATE the
        # logical plan, or analysis cost compounds per iteration and
        # the driver eventually stack-overflows on the lineage
        .localCheckpoint()
    )
    prev_sig = edge_sig(edges)
    for _ in range(max_iterations):
        # large-star REPLACES the edge set: every neighbor v > u links
        # to m = min(Γ(u) ∪ {u}). (Applying it sequentially, not
        # unioned with small-star — a union accumulates both rewirings
        # and the edge set explodes quadratically.)
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(lmin, "u")
            # emitted as (bigger, smaller): v > u ≥ m, already canonical
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star REPLACES it again: all of u's smaller neighbors
        # (and u itself) link to their minimum
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        new_edges = (
            large.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = edge_sig(new_edges)
        edges = new_edges
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"duplicate_components_star did not converge in {max_iterations} rounds"
        )
    roots = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "keep_id", F.col("doc_id")
    )
    out = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("keep_id")
    ).unionByName(roots)
    return out


# ------------------------------------------- embedding near-duplicates
# above this row count the all-pairs theta join is out of contract:
# O(n²) at 10^8 vectors is never acceptable, LSH candidates are
BRUTE_FORCE_LIMIT = 20_000


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    mode: str = "auto",
    bits: int = 8,
    tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold.

    ``mode``:

    - ``"auto"`` (default): brute-force all-pairs below
      ``BRUTE_FORCE_LIMIT`` rows, LSH-candidate route above — a public
      caller on 10^8 vectors can no longer fall into the O(n²)
      theta join by default.
    - ``"exact"``: force the all-pairs form (the correctness baseline /
      DuckDB oracle shape).
    - ``"lsh"``: force the scale path — hyperplane-LSH bucket self-join
      produces candidate pairs (equi-join on (table, bucket), never a
      cross product), exact cosine verifies only collisions.
      tables=12/bits=8 gives ≥0.999 candidate probability at
      cosine ≥ 0.95 (p_plane = 1 - arccos(s)/π = 0.9 →
      1-(1-0.9^8)^12).
    """
    if mode == "auto":
        # existence probe, not a full count: LIMIT stops the scan as
        # soon as BRUTE_FORCE_LIMIT+1 rows are seen, so deciding the
        # route never pays a full pass over a 10^8-vector upstream plan
        probe = df.select(F.lit(1)).limit(BRUTE_FORCE_LIMIT + 1).count()
        mode = "exact" if probe <= BRUTE_FORCE_LIMIT else "lsh"
    if mode == "lsh":
        return _embedding_near_dup_lsh(
            df, id_col, vec_col, threshold, bits=bits, tables=tables, seed=seed
        )
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
    )
    pairs = (
        v.alias("l")
        .join(v.alias("r"), F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.try_divide(
                F.aggregate(
                    F.zip_with(F.col("l.v"), F.col("r.v"), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                F.col("l.norm") * F.col("r.norm"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return pairs


def _embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int,
    tables: int,
    seed: int,
) -> DataFrame:
    """Scale path: candidates from a hyperplane-LSH bucket self-join
    (plain shuffle equi-join Catalyst can plan), exact numpy cosine on
    collisions only. Cost ∝ bucket collision counts, not n²."""
    from spark_cdc.operators import ann

    dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    # skinny self-join: only (id, tbl, bucket) go through the ×tables
    # explode + collision shuffle; embeddings are re-joined once per
    # surviving candidate pair (same fix as ann_topk_lsh — carrying
    # dim-wide arrays through the self-join moves tables×dim doubles
    # per vector and dominates wall time at production dims)
    b = ann.hyperplane_lsh_buckets(
        df, dim=dim, bits=bits, seed=seed, tables=tables,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias("_id"), "tbl", "bucket")
    cand = (
        # merge-hint: reuse one shuffled signature pass for both sides
        b.alias("l").hint("merge")
        .join(b.alias("r"), ["tbl", "bucket"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vv = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    pairs = (
        cand.join(vv.select(F.col("_id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vv.select(F.col("_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    )
    return (
        pairs.withColumn("cosine", ann.cosine_udf()(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
