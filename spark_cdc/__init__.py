"""spark_cdc — a PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild (NOT a port) of the capabilities of the
reference pipeline ``samuelTyh/clickhouse-data-pipeline``
(read-only at /root/reference): a change-log (binlog/WAL-style
insert/update/delete events) is tailed and applied — exactly-once,
deduplicated by sequence number, skew-aware — into a versioned,
snapshot-isolated lake table of multi-turn conversation transcripts
keyed by ``(conv_id, turn_idx)``.

Layout (maps onto SURVEY.md §2's operator inventory):

- ``spark_cdc.session``    — tuned SparkSession factory
- ``spark_cdc.lake``       — snapshot/manifest table format + bucketed
  copy-on-write MERGE (replaces ClickHouse ReplacingMergeTree,
  reference etl/clickhouse_schema/init.sql:14,28)
- ``spark_cdc.cdc``        — envelope parsing, latest-version dedup,
  op routing, batch/incremental runners (replaces
  stream_etl/core/processor.py + etl/core/pipeline.py)
- ``spark_cdc.streaming``  — Structured Streaming wrapper with
  checkpointed exactly-once foreachBatch apply (replaces
  stream_etl/core/consumer.py)
- ``spark_cdc.functions``  — tolerant parsers as Column expressions,
  Arrow-vectorized text normalization, text analysis, sketches
- ``spark_cdc.operators``  — incremental views, dedup family (exact/
  minhash/simhash/ngram/embedding), ANN similarity search, multimodal
  plumbing
- ``spark_cdc.plans``      — the contract query registry (incl. the
  five KPI views) with DuckDB oracles
- ``spark_cdc.sources``    — testdata registry + deterministic fixture
  generators (replaces seeder/)
- ``spark_cdc.metrics``    — per-partition lineage/offset metrics
"""

__version__ = "0.1.0"
