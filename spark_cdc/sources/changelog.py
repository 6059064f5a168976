"""Deterministic synthetic fixtures (FIXTURES.md F1-F2).

The Spark-native replacement for the reference seeder
(/root/reference/seeder/seed.py:20-147,
/root/reference/seeder/periodic_seed.py:53-239): everything is
``spark.range(n)`` + hash-derived pseudo-randomness — fully
distributed, reproducible from a seed, and wall-clock-free (the
reference leaned on ``datetime.now()``, e.g.
/root/reference/etl/core/pipeline.py:65-66 — we must not, for replay
equality).

Pathologies required by FIXTURES.md F2 and produced here:
exact-duplicate redelivery, out-of-order lsn, multiple updates per key
per batch, ts ties broken only by op_seq, delete-then-reinsert, Zipf
hot-conversation skew, and a mid-stream schema evolution point
(events before ``evolution_lsn`` have NO ``tool`` column at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_TS = "2024-01-01 00:00:00"


def _u(seed: int, salt: int, *cols) -> F.Column:
    """Deterministic uniform [0,1) from xxhash64 of (cols, seed, salt)."""
    h = F.xxhash64(*cols, F.lit(seed), F.lit(salt))
    return F.pmod(h, F.lit(1_000_000_000)).cast("double") / F.lit(1e9)


def generate_change_log(
    spark: SparkSession,
    n_events: int,
    n_convs: int,
    seed: int = 42,
    skew: float = 3.0,
    max_turns: int = 40,
    pct_update: float = 0.30,
    pct_delete: float = 0.05,
    pct_duplicate: float = 0.05,
    ts_tie_width: int = 8,
    evolution_frac: float | None = None,
    partitions: int | None = None,
    zipf_alpha: float | None = None,
) -> DataFrame:
    """CDC change log (FIXTURES.md F2): columns
    (lsn, op_seq, op, conv_id, turn_idx, role, text, tool, ts).

    - conv pick is power-law skewed: ``floor(n_convs * u^skew)`` —
      conv 0 is the hot conversation (Zipf-ish tail).
    - ``zipf_alpha`` (e.g. 1.1) replaces that with a true Zipf
      rank-frequency draw via inverse-CDF on the deterministic
      uniform: ``rank = floor(u^(-1/(α-1)))`` gives
      P(rank ≥ k) = k^-(α-1), i.e. pmf ∝ k^-α. At α=1.1 the hottest
      conversation receives ~7% of ALL events — the reference's
      deliberately skewed update mix
      (/root/reference/seeder/periodic_seed.py:90-137) taken to the
      adversarial end, for benching hot-key behaviour of the merge.
    - ``ts`` advances one second per ``ts_tie_width`` lsns, so events
      inside a tie window are ordered only by ``op_seq`` (= lsn).
    - ``pct_duplicate`` of events are re-emitted verbatim (redelivery).
    - when ``evolution_frac`` is set, events with
      ``lsn < evolution_frac * n_events`` have ``tool`` dropped at the
      *schema* level by callers via :func:`split_at_evolution`.
    """
    rng = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_events, 1, rng).withColumnRenamed("id", "lsn")
    if zipf_alpha is not None:
        if zipf_alpha <= 1.0:
            raise ValueError("zipf_alpha must be > 1")
        # bounded-Zipf inverse CDF: rescale u into [n^-s, 1) first so
        # the tail mass beyond rank n redistributes across all ranks
        # instead of collapsing into the clamp bucket (at α=1.1 that
        # unbounded tail holds ~37% of the mass). The least() clamp
        # only guards floating-point edge cases — and keeps the
        # floor(double→long) inside long range (ANSI overflow).
        s = zipf_alpha - 1.0
        a = float(n_convs) ** (-s)
        u_b = F.lit(a) + F.col("u_conv") * F.lit(1.0 - a)
        conv_n = F.floor(
            F.least(F.pow(u_b, F.lit(-1.0 / s)), F.lit(float(n_convs)))
        ).cast("long") - F.lit(1)
    else:
        conv_n = F.least(
            F.floor(F.lit(n_convs) * F.pow(F.col("u_conv"), F.lit(skew))),
            F.lit(n_convs - 1),
        ).cast("long")
    ev = (
        base.withColumn("u_conv", _u(seed, 1, F.col("lsn")))
        .withColumn("conv_n", conv_n)
        .withColumn("conv_id", F.concat(F.lit("conv-"), F.col("conv_n")))
        .withColumn(
            "turn_idx",
            F.floor(_u(seed, 2, F.col("lsn")) * F.lit(max_turns)).cast("int"),
        )
        .withColumn("u_op", _u(seed, 3, F.col("lsn")))
        .withColumn(
            "op",
            F.when(F.col("u_op") < F.lit(pct_delete), F.lit("d"))
            .when(F.col("u_op") < F.lit(pct_delete + pct_update), F.lit("u"))
            .otherwise(F.lit("c")),
        )
        .withColumn(
            "role",
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
                (F.pmod(F.col("turn_idx"), F.lit(2)) + 1
                 + F.when(_u(seed, 4, F.col("lsn")) < 0.05, 2).otherwise(0)).cast("int"),
            ),
        )
        .withColumn(
            "text",
            F.when(
                F.col("op") == "d", F.lit(None).cast("string")
            ).otherwise(
                F.concat(
                    # messy leading/trailing/internal whitespace on ~20% of
                    # rows exercises the normalization UDF
                    F.when(_u(seed, 5, F.col("lsn")) < 0.2, F.lit("  ")).otherwise(F.lit("")),
                    F.lit("turn "),
                    F.col("turn_idx"),
                    F.lit(" of "),
                    F.col("conv_id"),
                    F.when(_u(seed, 8, F.col("lsn")) < 0.1, F.lit("   spaced\t out")).otherwise(F.lit("")),
                    F.lit(" rev-"),
                    F.col("lsn"),
                )
            ),
        )
        .withColumn(
            "tool",
            F.when(
                (F.col("role") == "tool") & (_u(seed, 6, F.col("lsn")) < 0.8),
                F.element_at(
                    F.array(F.lit("search"), F.lit("code"), F.lit("browser")),
                    (F.pmod(F.xxhash64(F.col("lsn"), F.lit(seed)), F.lit(3)) + 1).cast("int"),
                ),
            ).otherwise(F.lit(None).cast("string")),
        )
        .withColumn(
            "ts",
            F.to_timestamp(F.lit(BASE_TS))
            + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                                 F.floor(F.col("lsn") / F.lit(ts_tie_width)).cast("double")),
        )
        .withColumn("op_seq", F.col("lsn"))
    )
    ev = ev.select("lsn", "op_seq", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    if pct_duplicate > 0:
        dups = ev.where(_u(seed, 7, F.col("lsn")) < F.lit(pct_duplicate))
        ev = ev.unionByName(dups)
    return ev


def split_at_evolution(
    changes: DataFrame, evolution_lsn: int
) -> tuple[DataFrame, DataFrame]:
    """Schema-evolution fixture: the pre-evolution stream physically
    lacks the ``tool`` column (FIXTURES.md F2); the engine must add it
    via lake ADD COLUMN when the post-evolution stream arrives."""
    pre = changes.where(F.col("lsn") < evolution_lsn).drop("tool")
    post = changes.where(F.col("lsn") >= evolution_lsn)
    return pre, post


def generate_transcripts(
    spark: SparkSession,
    n_convs: int,
    turns_per_conv: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Base transcripts table (FIXTURES.md F1) — dense, no CDC noise."""
    df = (
        spark.range(0, n_convs * turns_per_conv)
        .withColumn("conv_n", (F.col("id") / F.lit(turns_per_conv)).cast("long"))
        .withColumn("conv_id", F.concat(F.lit("conv-"), F.col("conv_n")))
        .withColumn("turn_idx", F.pmod(F.col("id"), F.lit(turns_per_conv)).cast("int"))
        .withColumn(
            "role",
            F.when(F.pmod(F.col("turn_idx"), 2) == 0, F.lit("user")).otherwise(F.lit("assistant")),
        )
        .withColumn(
            "text",
            F.concat(F.lit("turn "), F.col("turn_idx"), F.lit(" of "), F.col("conv_id")),
        )
        .withColumn("tool", F.lit(None).cast("string"))
        .withColumn(
            "ts",
            F.to_timestamp(F.lit(BASE_TS))
            + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("id").cast("double")),
        )
    )
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def generate_embeddings(
    spark: SparkSession,
    n_vectors: int,
    dim: int = 768,
    n_clusters: int = 50,
    noise: float = 0.15,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Clustered embedding fixture at production dims, Spark-native:
    ``spark.range`` + hash-derived coordinates, fully distributed (a
    10^8 × 768 fixture never touches the driver) and wall-clock-free.

    vector(i) = center(i % n_clusters) + noise · n(i), with each
    coordinate a deterministic uniform in [-0.5, 0.5) derived from
    xxhash64 — near-orthogonal centers at dim 768, members tightly
    clustered around them (the geometry ANN indexes are built for).
    Columns match the testdata embeddings table:
    (vec_id, embedding array<double>, label = cluster id).
    """
    rng = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_vectors, 1, rng).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % n_clusters).cast("int").alias("label"),
    )
    js = F.sequence(F.lit(0), F.lit(dim - 1))
    center = lambda j: _u(seed, 1, (F.col("label") * 7919 + j)) - F.lit(0.5)  # noqa: E731
    jitter = lambda j: _u(seed, 2, F.col("vec_id"), j) - F.lit(0.5)  # noqa: E731
    return base.select(
        "vec_id",
        F.transform(js, lambda j: center(j) + F.lit(noise) * jitter(j)).alias(
            "embedding"
        ),
        "label",
    )
