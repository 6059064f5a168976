"""spark_cdc.operators — analytics + training-data operators.

(The reference's five KPI views are the ``kpi_*`` entries of the
contract query registry, ``spark_cdc/plans/queries.py``.)

- rollup: incremental additive rollups (SummingMergeTree analogue,
  exactly-once apply/rebuild into a lake table)
- ivm: exact incremental view maintenance under update/delete
  (signed retraction rows from the change feed's pre/post images)
- distinct_ivm: the non-additive trio maintained the same way —
  COUNT DISTINCT / MIN / MAX / exact per-group top-k values via a
  two-level (group, value) → multiplicity support table
  (AggregatingMergeTree analogue, but delete-correct)
- dedup_ops: exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  embedding-cosine near-duplicate detection, connected-components
  keep decision, corpus dedup, eval-set decontamination
- ann: brute-force, hyperplane-LSH, IVF, PQ and composed IVF+PQ
  nearest-neighbour search, plus partitioned codes-only serving
  layouts
- search: BM25 lexical retrieval over an inverted-index DataFrame
  (single-query and one-pass batch-query forms)
- index_maint: feed-driven incremental maintenance of BM25 postings
  (servable token-bucketed layout, maintained corpus stats), IVF/PQ
  code tables (quantizer-drift monitoring + versioned retrain) and
  generic keyed projections (CDC-live indexes)
- sampling: deterministic hash splits, temperature-based domain
  mixture sampling, context-window chunking (with a model-exact
  tokenizer hook) and greedy sample packing
- quality: Gopher/C4-style corpus quality gates — five per-document
  heuristics fused in one JVM scan + configurable keep thresholds
- examples: transcript → SFT example assembly (prompt/completion
  pairs with whole-turn left-truncation to a token budget, one
  window pass — no prefix self-join)
- temporal: as-of (point-in-time) joins via union + ordered window
  fill, plus point-in-interval and interval-overlap joins via cell
  bucketing — the join families Catalyst would otherwise nested-loop
- multimodal: binary-column plumbing with REAL pure-numpy codecs
  (PPM/PGM images, PCM-16 WAV; per-row decode_error isolation)
"""
