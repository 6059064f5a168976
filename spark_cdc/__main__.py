"""spark-submit entry point: ``spark-submit --py-files spark_cdc.zip
-m`` style deployment (north rule), or locally ``python -m spark_cdc``.

Subcommands
-----------
replay   — batch-replay a change-log directory into a lake table
stream   — tail a change-log directory with Structured Streaming
           (checkpointed, exactly-once) into a lake table
compact  — run table maintenance

Example::

    spark-submit --py-files spark_cdc.zip \
        -m spark_cdc stream \
        --source /data/changelog --table /lake/transcripts \
        --checkpoint /lake/_ckpt/transcripts --continuous

(On this sandbox: ``python -m spark_cdc replay --source ... --table ...``.)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _stop_on_signal():
    """Install flag-only SIGTERM/SIGINT handlers; return the
    ``should_stop()`` that reads the flag.

    A service loop checks it at iteration boundaries, so an in-flight
    poll or micro-batch commits before exit. The handler must ONLY set
    the flag: the main thread may be blocked inside a py4j recv, and a
    py4j call from the handler would interleave on that same socket and
    corrupt the protocol (PEP 475 retries the interrupted recv after the
    handler returns). Handlers can only be installed from the main
    thread; elsewhere the flag never sets."""
    import signal
    import threading

    stop_requested: list[int] = []
    if threading.current_thread() is threading.main_thread():
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda signum, frame: stop_requested.append(signum))
    return lambda: bool(stop_requested)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="spark_cdc")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_replay = sub.add_parser("replay", help="batch replay change log → lake table")
    p_replay.add_argument("--source", required=True, help="parquet change-log dir")
    p_replay.add_argument("--table", required=True, help="lake table root")
    p_replay.add_argument("--batches", type=int, default=8)
    p_replay.add_argument("--num-buckets", type=int, default=64)
    p_replay.add_argument("--normalize-text", action="store_true")

    p_stream = sub.add_parser("stream", help="streaming tail change log → lake table")
    p_stream.add_argument("--source", required=True)
    p_stream.add_argument("--table", required=True)
    p_stream.add_argument("--checkpoint", required=True)
    p_stream.add_argument("--metrics", help="metrics lake table root")
    p_stream.add_argument("--quarantine", help="dead-letter lake table root")
    p_stream.add_argument("--continuous", action="store_true")
    p_stream.add_argument("--num-buckets", type=int, default=64)
    p_stream.add_argument("--max-files-per-trigger", type=int, default=None)
    p_stream.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p_stream.add_argument(
        "--compact-every", type=int, default=None,
        help="fold MoR deltas back every N applied batches",
    )

    p_multi = sub.add_parser(
        "stream-multi",
        help="one checkpointed stream of Kafka-shaped frames fanned out "
        "to many tables (topic→table routing, per-table exactly-once)",
    )
    p_multi.add_argument("--source", required=True, help="frame dir (kafka shape)")
    p_multi.add_argument("--checkpoint", required=True)
    p_multi.add_argument(
        "--table", action="append", required=True, metavar="NAME=PATH",
        help="target table (repeatable): logical name = lake table root",
    )
    p_multi.add_argument(
        "--topic-map", action="append", default=[], metavar="TOPIC=NAME",
        help="explicit topic→table mapping (default: last dot segment)",
    )
    p_multi.add_argument("--metrics", help="metrics lake table root")
    p_multi.add_argument("--quarantine", help="dead-letter lake table root")
    p_multi.add_argument("--num-buckets", type=int, default=64)
    p_multi.add_argument("--max-files-per-trigger", type=int, default=None)

    p_feed = sub.add_parser(
        "feed-mirror",
        help="incrementally maintain a mirror of a lake table from its "
        "change feed (poll → MERGE diff → commit cursor; O(change set) "
        "per poll, no full re-reads)",
    )
    p_feed.add_argument("--source-table", required=True, help="source lake table root")
    p_feed.add_argument("--mirror", required=True, help="mirror lake table root")
    p_feed.add_argument("--cursor", required=True, help="cursor file path")
    p_feed.add_argument("--num-buckets", type=int, default=64)
    p_feed.add_argument(
        "--follow", action="store_true",
        help="keep polling after catch-up (service mode; SIGTERM/SIGINT "
        "stop gracefully after the in-flight poll commits)",
    )
    p_feed.add_argument("--interval", type=float, default=5.0,
                        help="seconds between caught-up polls in --follow mode")

    p_idx = sub.add_parser(
        "index-follow",
        help="keep a BM25 inverted index following its corpus lake "
        "table via the change feed (retract old postings from the "
        "pre-image + insert new per poll — O(change set), exactly-once; "
        "auto full-rebuild if snapshot retention overtakes the cursor)",
    )
    p_idx.add_argument("--docs-table", required=True, help="corpus lake table root")
    p_idx.add_argument("--index-table", required=True, help="postings lake table root")
    p_idx.add_argument("--cursor", required=True, help="cursor file path")
    p_idx.add_argument("--num-buckets", type=int, default=16)
    p_idx.add_argument("--text-col", default="text")
    p_idx.add_argument("--id-col", default="doc_id")
    p_idx.add_argument(
        "--follow", action="store_true",
        help="keep polling after catch-up (service mode; SIGTERM/SIGINT "
        "stop gracefully after the in-flight poll commits)",
    )
    p_idx.add_argument("--interval", type=float, default=5.0,
                       help="seconds between caught-up polls in --follow mode")
    p_idx.add_argument("--query", default=None,
                       help="optionally print top-10 BM25 matches from the "
                       "maintained index after catch-up")

    p_enr = sub.add_parser(
        "enrich",
        help="as-of enrich an event stream against a dimension-history "
        "lake table (per micro-batch point-in-time join; the history is "
        "re-read at every trigger so a concurrently CDC-maintained table "
        "is joined at its freshest committed snapshot; exactly-once via "
        "per-batch partition overwrite)",
    )
    p_enr.add_argument("--source", required=True,
                       help="event parquet dir (streamed with availableNow)")
    p_enr.add_argument("--history-table", required=True,
                       help="SCD-2 history lake table root (key, valid-from "
                       "time, payload; build one from a change feed with "
                       "spark_cdc.streaming.enrich.dim_history)")
    p_enr.add_argument("--checkpoint", required=True)
    p_enr.add_argument("--out", required=True, help="enriched output dir")
    p_enr.add_argument("--on", required=True, help="event-time column of the stream")
    p_enr.add_argument("--by", default="", help="comma-separated join key columns")
    p_enr.add_argument("--right-on", default=None,
                       help="history valid-from column (default: same as --on)")
    p_enr.add_argument("--right-by", default=None,
                       help="history key columns when named differently")
    p_enr.add_argument("--tolerance", type=float, default=None,
                       help="max event-to-version time gap (seconds for "
                       "timestamps); farther matches read NULL")
    p_enr.add_argument("--max-files-per-trigger", type=int, default=None)

    p_comp = sub.add_parser("compact", help="compact + expire snapshots")
    p_comp.add_argument("--table", required=True)
    p_comp.add_argument("--keep-snapshots", type=int, default=3)
    p_comp.add_argument(
        "--zorder",
        default=None,
        help="comma-separated numeric/date/timestamp columns: rewrite "
        "Z-order-clustered with per-file zone maps instead of binpack "
        "(OPTIMIZE ... ZORDER BY)",
    )
    p_comp.add_argument("--zorder-files-per-bucket", type=int, default=4)
    p_comp.add_argument("--zorder-normalization", choices=["minmax", "quantile"],
                        default="minmax",
                        help="quantile = equal-frequency cells (tight zones "
                        "under skew, one approxQuantile pass)")

    p_clean = sub.add_parser(
        "corpus-clean",
        help="one-shot corpus hygiene: quality-gate filter + PII scrub "
        "over a parquet corpus, written back as parquet",
    )
    p_clean.add_argument("--input", required=True, help="parquet path/dir")
    p_clean.add_argument("--output", required=True)
    p_clean.add_argument("--text-col", default="text")
    p_clean.add_argument("--no-gate", action="store_true",
                         help="skip the quality-gate filter")
    p_clean.add_argument("--no-pii", action="store_true",
                         help="skip PII redaction")
    p_clean.add_argument("--gates", default=None,
                         help="JSON dict overriding DEFAULT_GATES thresholds")
    p_clean.add_argument("--dedup-lines", action="store_true",
                         help="also remove repeated lines within each doc")

    p_maint = sub.add_parser(
        "maintain",
        help="manifest-only maintenance planner (+ --apply to execute): "
        "fragmented-bucket compaction, snapshot expiry, z-order "
        "recluster advice from recorded zone-map degradation",
    )
    p_maint.add_argument("--table", required=True)
    p_maint.add_argument("--max-files-per-bucket", type=int, default=4)
    p_maint.add_argument("--keep-snapshots", type=int, default=3)
    p_maint.add_argument("--zorder-overlap-threshold", type=float, default=0.5)
    p_maint.add_argument("--apply", action="store_true",
                         help="execute the plan instead of just printing it")

    p_check = sub.add_parser(
        "check", help="table integrity check (lake fsck); exit 1 on damage"
    )
    p_check.add_argument("--table", required=True)
    p_check.add_argument("--deep", action="store_true",
                         help="also verify per-key uniqueness with a Spark job")
    p_check.add_argument("--repair", action="store_true",
                         help="remove uncommitted manifests ahead of VERSION "
                         "(crashed/conflicted commits) so writers can proceed; "
                         "only manifests older than --repair-min-age-sec are "
                         "touched — an in-flight commit sits in this exact "
                         "state between writing its manifest and advancing "
                         "VERSION, so only lower the age bound when no "
                         "writers are active")
    p_check.add_argument("--repair-min-age-sec", type=float, default=300.0,
                         help="minimum manifest age before --repair deletes it "
                         "(default 300)")

    args = ap.parse_args(argv)

    from spark_cdc.cdc.envelope import KEY_COLUMNS, PAYLOAD_SCHEMA
    from spark_cdc.lake.table import LakeTable
    from spark_cdc.session import get_spark

    spark = get_spark(app_name=f"spark_cdc_{args.cmd}")

    if args.cmd == "check":
        from spark_cdc.lake.fsck import fsck

        # LakeTable.load itself reads VERSION + head manifest; on a
        # damaged table that raises before fsck's own report path could
        # run. `check` exists to DIAGNOSE damage — it must emit the
        # report and exit 1, never die with the same traceback.
        try:
            table = LakeTable.load(spark, args.table)
        except (OSError, ValueError, KeyError) as e:
            print(json.dumps({
                "ok": False,
                "errors": [f"table metadata unloadable: {type(e).__name__}: {e}"],
                "warnings": [],
            }))
            return 1
        report = fsck(table, deep=args.deep, repair=args.repair,
                      repair_min_age_sec=args.repair_min_age_sec)
        print(json.dumps(report))
        return 0 if report["ok"] else 1

    if args.cmd == "compact":
        from spark_cdc.lake.maintenance import compact, expire_snapshots, zorder_compact

        table = LakeTable.load(spark, args.table)
        out = {}
        if args.zorder:
            cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
            out["zorder_stats_columns"] = zorder_compact(
                table, cols, files_per_bucket=args.zorder_files_per_bucket,
                normalization=args.zorder_normalization,
            )
        else:
            out["compacted_buckets"] = compact(table)
        stats = expire_snapshots(table, keep_last=args.keep_snapshots)
        print(json.dumps({**out, **stats}))
        return 0

    if args.cmd == "corpus-clean":
        from pyspark.sql import functions as F

        from spark_cdc.functions.pii import redact_pii
        from spark_cdc.operators.quality import (
            dedup_lines,
            filter_quality,
        )

        df = spark.read.parquet(args.input)
        n_in = df.count()
        out = df
        if args.dedup_lines:
            out = dedup_lines(out, text_col=args.text_col)
        if not args.no_gate:
            gates = json.loads(args.gates) if args.gates else None
            out = filter_quality(out, text_col=args.text_col, gates=gates)
        if not args.no_pii:
            out = out.withColumn(args.text_col, redact_pii(F.col(args.text_col)))
        out.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"rows_in": n_in, "rows_out": n_out,
                          "kept_frac": round(n_out / n_in, 4) if n_in else None}))
        return 0

    if args.cmd == "maintain":
        from spark_cdc.lake.maintenance import plan_maintenance, run_maintenance

        table = LakeTable.load(spark, args.table)
        plan = plan_maintenance(
            table,
            max_files_per_bucket=args.max_files_per_bucket,
            keep_last=args.keep_snapshots,
            zorder_overlap_threshold=args.zorder_overlap_threshold,
        )
        if args.apply:
            did = run_maintenance(
                table, plan,
                max_files_per_bucket=args.max_files_per_bucket,
                keep_last=args.keep_snapshots,
            )
            print(json.dumps(did))
        else:
            print(json.dumps(plan))
        return 0

    if args.cmd == "feed-mirror":
        from spark_cdc.cdc.apply import apply_batch
        from spark_cdc.lake.feed import ChangeFeedConsumer, feed_to_changes, follow

        src = LakeTable.load(spark, args.source_table)
        if LakeTable.exists(args.mirror):
            mirror = LakeTable.load(spark, args.mirror)
        else:
            mirror = LakeTable.create(
                spark, args.mirror, src.user_schema,
                key_columns=src.key_columns, num_buckets=args.num_buckets,
            )
        consumer = ChangeFeedConsumer(src, args.cursor)

        def apply_diff(diff, to_snap):
            apply_batch(mirror, feed_to_changes(diff, to_snap),
                        batch_id=to_snap, collect_lineage=False)

        def recover(c):
            # snapshot retention overtook the cursor (FeedExpiredError):
            # the mirror's apply is a latest-version-wins MERGE, so
            # re-applying the source's full state as inserts is
            # idempotent — the documented bootstrap recovery. Commit the
            # observed head afterwards and resume polling.
            diff, to_snap = c.bootstrap()
            apply_diff(diff, to_snap)
            c.commit(to_snap)

        polls = follow(
            consumer, apply_diff,
            interval_sec=args.interval if args.follow else 0.0,
            should_stop=_stop_on_signal() if args.follow else None,
            max_idle_polls=None if args.follow else 1,
            on_expired=recover,
        )
        print(json.dumps({
            "polls": polls,
            "cursor": consumer.position(),
            "rows": mirror.read().count(),
        }))
        return 0

    if args.cmd == "index-follow":
        from spark_cdc.lake.feed import ChangeFeedConsumer, follow
        from spark_cdc.operators.index_maint import (
            MaintainedBM25Index,
            create_bm25_index_table,
        )

        docs = LakeTable.load(spark, args.docs_table)
        if LakeTable.exists(args.index_table):
            idx_tbl = LakeTable.load(spark, args.index_table)
        else:
            # servable layout: token-bucketed + per-file token stats
            idx_tbl = create_bm25_index_table(
                spark, args.index_table, num_buckets=args.num_buckets
            )
        maint = MaintainedBM25Index(
            idx_tbl, ChangeFeedConsumer(docs, args.cursor),
            text_col=args.text_col, id_col=args.id_col,
        )
        # a retention-lapped cursor self-heals with a full rebuild
        # instead of ending the service with a traceback
        polls = follow(
            maint.consumer, maint.apply_diff,
            interval_sec=args.interval if args.follow else 0.0,
            should_stop=_stop_on_signal() if args.follow else None,
            max_idle_polls=None if args.follow else 1,
            on_expired=lambda _c: maint.rebuild(),
            include_preimage=maint.include_preimage,
        )
        out = {
            "polls": polls,
            "cursor": maint.consumer.position(),
            "postings": maint.read().count(),
        }
        if args.query:
            out["topk"] = [
                {"rank": r["rank"], "doc_id": r["doc_id"],
                 "score": round(r["score"], 6)}
                for r in maint.topk(args.query, k=10).collect()
            ]
        print(json.dumps(out))
        return 0

    def open_table(num_buckets: int) -> LakeTable:
        if LakeTable.exists(args.table):
            return LakeTable.load(spark, args.table)
        return LakeTable.create(
            spark, args.table, PAYLOAD_SCHEMA, key_columns=KEY_COLUMNS, num_buckets=num_buckets
        )

    if args.cmd == "enrich":
        from spark_cdc.streaming.enrich import AsofEnrichRunner

        hist = LakeTable.load(spark, args.history_table)
        schema = spark.read.parquet(args.source).schema
        runner = AsofEnrichRunner(
            spark,
            history=hist,
            source_dir=args.source,
            checkpoint_dir=args.checkpoint,
            out_dir=args.out,
            schema=schema,
            on=args.on,
            by=[c for c in args.by.split(",") if c],
            right_on=args.right_on,
            right_by=[c for c in args.right_by.split(",") if c] if args.right_by else None,
            tolerance=args.tolerance,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        runner.run_available()
        # batch count from the output layout, not a per-batch recount
        out_raw = spark.read.parquet(args.out)
        print(json.dumps({
            "batches": int(out_raw.select("_batch").distinct().count()),
            "rows": int(out_raw.count()),
            "out": args.out,
        }))
        return 0

    if args.cmd == "replay":
        from spark_cdc.cdc.apply import apply_batch
        from spark_cdc.functions.text import normalize_text

        table = open_table(args.num_buckets)
        log = spark.read.parquet(args.source)
        bounds = log.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"] + 1
        step = max((hi - lo) // args.batches, 1)
        norm = {"text": normalize_text(F.col("text"))} if args.normalize_text else None
        for i in range(args.batches):
            b_lo = lo + i * step
            b_hi = hi if i == args.batches - 1 else lo + (i + 1) * step
            batch = log.where((F.col("lsn") >= b_lo) & (F.col("lsn") < b_hi))
            apply_batch(table, batch, batch_id=i, normalize=norm,
                        collect_lineage=False, collect_stats=False)
        print(json.dumps({"snapshot_id": table.snapshot_id, "rows": table.read().count()}))
        return 0

    if args.cmd == "stream-multi":
        from spark_cdc.metrics import MetricsLog
        from spark_cdc.streaming import MultiTableStreamRunner

        def parse_kv(items: list[str], what: str) -> dict[str, str]:
            out: dict[str, str] = {}
            for item in items:
                if "=" not in item:
                    ap.error(f"--{what} expects KEY=VALUE, got {item!r}")
                k, v = item.split("=", 1)
                out[k] = v
            return out

        tables = {}
        for name, path in parse_kv(args.table, "table").items():
            if LakeTable.exists(path):
                tables[name] = LakeTable.load(spark, path)
            else:
                tables[name] = LakeTable.create(
                    spark, path, PAYLOAD_SCHEMA,
                    key_columns=KEY_COLUMNS, num_buckets=args.num_buckets,
                )
        topic_map = parse_kv(args.topic_map, "topic-map") or None
        metrics = MetricsLog(spark, args.metrics) if args.metrics else None
        quarantine = None
        if args.quarantine:
            from spark_cdc.cdc.quarantine import DeadLetterSink

            quarantine = DeadLetterSink(spark, args.quarantine)

        def on_batch(bid: int, res: dict) -> None:
            if metrics:
                for name, mr in res.items():
                    if hasattr(mr, "skipped"):
                        metrics.record(mr, source_id=f"stream:{name}", batch_id=bid)

        runner = MultiTableStreamRunner(
            spark,
            tables,
            args.source,
            args.checkpoint,
            topic_table_map=topic_map,
            max_files_per_trigger=args.max_files_per_trigger,
            quarantine=quarantine,
            on_batch=on_batch if metrics else None,
        )
        runner.run_available()
        print(
            json.dumps(
                {
                    "batches": runner.batches,
                    "tables": {
                        name: {"snapshot_id": t.snapshot_id, "rows": t.read().count()}
                        for name, t in tables.items()
                    },
                    "quarantined": (quarantine.read().count() if quarantine else 0),
                }
            )
        )
        return 0

    if args.cmd == "stream":
        from spark_cdc.metrics import MetricsLog
        from spark_cdc.streaming import StreamRunner

        table = open_table(args.num_buckets)
        metrics = MetricsLog(spark, args.metrics) if args.metrics else None
        quarantine = None
        if args.quarantine:
            from spark_cdc.cdc.quarantine import DeadLetterSink

            quarantine = DeadLetterSink(spark, args.quarantine)
        runner = StreamRunner(
            spark,
            table,
            args.source,
            args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            quarantine=quarantine,
            mode=args.mode,
            compact_every=args.compact_every,
            on_batch=(
                (lambda bid, res: metrics.record(res, source_id="stream", batch_id=bid))
                if metrics
                else None
            ),
        )
        if args.continuous:
            q = runner.start_continuous()

            # graceful shutdown (reference consumer.py:111-139 installed
            # SIGINT/SIGTERM handlers): stop() lets the in-flight
            # micro-batch finish and the checkpoint commit, so restart
            # resumes exactly where we left off — no reliance on the
            # redelivery guard for a ROUTINE shutdown. The short wait
            # below wakes, sees the flag, and stops the query from a
            # clean call site.
            should_stop = _stop_on_signal()
            while not should_stop() and q.isActive:
                q.awaitTermination(1.0)
            if should_stop():
                q.stop()
            q.awaitTermination()
            print(
                json.dumps(
                    {
                        "stopped": True,
                        "batches": runner.batches,
                        "snapshot_id": table.snapshot_id,
                        "rows": table.read().count(),
                    }
                )
            )
        else:
            runner.run_available()
            print(
                json.dumps(
                    {
                        "batches": runner.batches,
                        "snapshot_id": table.snapshot_id,
                        "rows": table.read().count(),
                    }
                )
            )
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
