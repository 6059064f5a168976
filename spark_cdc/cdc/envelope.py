"""CDC change-event envelope: schema + parsing.

The analogue of the Debezium-unwrapped messages the reference consumed
(`ExtractNewRecordState` + ``op``/``db``/``table`` metadata,
/root/reference/stream_etl/main.py:52-56; JSON deserialization,
/root/reference/stream_etl/core/consumer.py:48). Events carry:

- ``op`` ∈ {c, r, u, d} — create / snapshot-read / update / delete,
  dispatched like /root/reference/stream_etl/core/processor.py:186-217
  (``r`` treated as ``c``, processor.py:196; unlike the reference we
  apply ``d`` instead of dropping it, processor.py:214-217);
- ``lsn`` — global log sequence number (what Kafka offsets provided
  implicitly, consumer.py:95-105);
- ``op_seq`` — per-key sequence, the dedup tie-breaker;
- the transcript payload (conv_id, turn_idx, role, text, tool, ts).

Raw events may arrive as JSON strings with messy values (string
decimals, polymorphic timestamps — reference processor.py:41-141);
``parse_envelope_json`` normalizes them with pure Column expressions
(vectorized, JVM-side — never per-row Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_cdc.functions.parsers import parse_timestamp_any

KEY_COLUMNS = ["conv_id", "turn_idx"]

# the routing column parse_kafka_frames adds: each row's target table
TABLE_COL = "_table"

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op_seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        *PAYLOAD_SCHEMA.fields,
    ]
)

# What arrives on the wire before normalization: ts polymorphic
# (ISO string | epoch s | ms | µs), op possibly absent.
RAW_JSON_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), True),
        T.StructField("op_seq", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.StringType(), True),
    ]
)


# The exact frame shape ``spark.readStream.format("kafka")`` produces
# (Kafka jar absent in this sandbox; the parse/routing layer below is
# what that source would feed and is tested against static frames).
KAFKA_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


def parse_kafka_frames(
    df: DataFrame,
    topic_table_map: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka frame batch → typed envelope + ``_table`` routing column.

    The reference's consumer deserialized each message in Python and
    routed on topic suffix (stream_etl/core/consumer.py:64-82,
    main.py:52-56); here the whole step is one Column projection:
    ``value`` bytes → ``from_json`` → envelope normalization, with
    ``lsn`` defaulting to the Kafka offset (the reference relied on
    offsets implicitly, consumer.py:95-105) and the broker timestamp
    backfilling a missing event ``ts``. ``topic_table_map`` maps topic
    → table name; unmapped topics keep their last dot-segment
    (Debezium ``server.schema.table`` convention).
    """
    parsed = df.select(
        F.from_json(F.col("value").cast("string"), RAW_JSON_SCHEMA).alias("e"),
        F.col("topic"),
        # Offsets are only unique per topic-partition, so the fallback
        # ordinal folds the partition into the high bits (partition <<
        # 40 | offset): a key whose events straddle partitions (or two
        # topics routed to one table) can no longer collide and
        # mis-order latest-version-wins resolution. 2^40 offsets per
        # partition ≈ 1.1e12 — above any single partition's lifetime
        # at 10^10 total events.
        (
            F.coalesce(F.col("partition").cast("long"), F.lit(0)) * F.lit(1 << 40)
            + F.coalesce(F.col("offset"), F.lit(0))
        ).alias("_kafka_ordinal"),
        F.col("timestamp").alias("_kafka_ts"),
    ).select("e.*", "topic", "_kafka_ordinal", "_kafka_ts")
    enriched = (
        parsed.withColumn("lsn", F.coalesce(F.col("lsn"), F.col("_kafka_ordinal")))
        .withColumn("op_seq", F.coalesce(F.col("op_seq"), F.col("_kafka_ordinal")))
        .withColumn(
            "ts",
            # keep the TIMESTAMP type: the old string round-trip made
            # normalize_envelope re-run the whole polymorphic parse
            # chain (regexp + 5 try_to_timestamp attempts) on every
            # already-parsed row — the parse dominated routed-batch
            # wall time (noop-isolated: 1.5s per 250k frames)
            F.coalesce(parse_timestamp_any(F.col("ts")), F.col("_kafka_ts")),
        )
    )
    table_col = F.element_at(F.split(F.col("topic"), r"\."), -1)
    if topic_table_map:
        mapping = F.create_map(*[F.lit(x) for kv in topic_table_map.items() for x in kv])
        table_col = F.coalesce(mapping[F.col("topic")], table_col)
    return normalize_envelope(
        enriched.withColumn(TABLE_COL, table_col), extra_cols=(TABLE_COL,)
    )


def parse_envelope_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse raw JSON change events into the typed envelope.

    Column-expression-only normalization:
    - ``op`` defaults to 'c' (reference processor.py:432) and 'r' is
      folded into 'c' (processor.py:196);
    - ``ts`` accepts ISO strings and epoch seconds/millis/micros via
      magnitude heuristics (processor.py:93-100 re-expressed
      vectorized, see functions/parsers.py).
    """
    parsed = df.select(
        F.from_json(F.col(value_col).cast("string"), RAW_JSON_SCHEMA).alias("e")
    ).select("e.*")
    return normalize_envelope(parsed)


def normalize_envelope(df: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    # an already-typed ts needs no polymorphic parse: the parse chain
    # round-trips timestamps through a string cast to the identical
    # value, at the cost of a regexp + 5 format attempts per row
    ts_parsed = (
        F.col("ts").cast("timestamp")
        if isinstance(df.schema["ts"].dataType, T.TimestampType)
        else parse_timestamp_any(F.col("ts"))
    )
    out = (
        df.withColumn("op", F.coalesce(F.col("op"), F.lit("c")))
        .withColumn("op", F.when(F.col("op") == "r", F.lit("c")).otherwise(F.col("op")))
        .withColumn("ts", ts_parsed)
        .withColumn("lsn", F.col("lsn").cast("long"))
        .withColumn("op_seq", F.col("op_seq").cast("long"))
        .withColumn("turn_idx", F.col("turn_idx").cast("int"))
    )
    keep = [f.name for f in CHANGE_SCHEMA.fields if f.name in out.columns]
    keep += [c for c in extra_cols if c in out.columns]
    return out.select(keep)
