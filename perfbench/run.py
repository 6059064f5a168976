"""CDC ingest benchmark: one command, two workloads, an oracle gate.

    python3 perfbench/run.py --workload {backfill,serve_mixed} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``;
the timed window lasts ``--seconds``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``.perfbench_run/traces/`` and a per-layer self-time summary to stderr.

The end-to-end times are CPU time: the seconds the Spark JVM, its child
processes and this process spent on a CPU while a step ran. A
paravirtualized guest kernel does not count the time the hypervisor
takes a vCPU away in them. On a shared 4-vCPU host that steals 0 to 23%
of it in bursts, steal slowed a run's wall-clock figures by up to 60%,
so wall time could not hold a 25% bound from one set of runs to the
next. The wall-clock figures of the same steps are per-layer metrics
(``wall.*``) of the traced run, and so are the lookups: one
``LakeTable.lookup`` of a Zipf-drawn conversation, collected, in-round
on the delta-carrying table (serve_mixed) or as a read probe of the
compacted table the backfill leaves. Neither its wall time nor its CPU
time held the bound: half a second of CPU per lookup moves with the
collector and compiler threads that run beside it. What each end-to-end
metric measures:

- ``events_per_cpu_s``: the median over the applies of events / CPU
  seconds — each bulk apply call (backfill), or from a file's arrival
  in the StreamRunner source to the on_batch of the trigger that
  committed it (serve_mixed).
- ``compact_cpu_s``: the ``compact`` that folds what the workload leaves
  (serve_mixed: the median over the table and two copies of it).
- ``bytes_per_live_row``: data bytes of the live snapshot after that
  compaction per live row of the oracle state.
- ``setup_s``: CPU of fixture generation + the median of three engine
  set-ups (pre-load, warm-up at the real batch size) + the stream start;
  ``peak_rss_mb``: the Spark JVM (its 2g heap touched at start) + Python.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_run")


def _fit_host(work: str) -> tuple[int, str, dict]:
    """Cores, JVM heap and Spark conf sized to this host; every
    scratch file (JVM tmp, shuffle, Python tempfile) inside ``work``."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 1
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # 2g, or a quarter of a smaller host's RAM: the host is shared
    heap_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_CDC_DRIVER_MEM"] = f"{heap_gb}g"
    conf = {
        "spark.local.dir": local,
        # the whole heap committed and touched at start, so the JVM's
        # peak RSS does not depend on when the collector ran
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_gb}g -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    return cores, f"{heap_gb}g", conf


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq = vals[:7]
    steal = vals[7] if len(vals) > 7 else 0
    return user + nice + system + irq + softirq, steal


def layer_metrics(ctx, names: list[str]) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans and counts; a metric
    whose layer the workload does not exercise reads 0."""
    from perfbench.workloads import median

    tr = ctx.tracer

    def attr_median(span: str, key: str) -> float:
        return median(v for v in tr.attr_values(span, key) if v is not None and v >= 0)

    applies = [s["attrs"] for s in tr.measured("cdc.apply_batch") if "events" in s["attrs"]]
    polls = [s for s in tr.measured("lake.feed.poll") if "diff" in s["attrs"]]
    events = sum(a["events"] for a in applies)
    out = dict(ctx.layer)
    out.update({
        "lake.merge.exec_ms": attr_median("cdc.apply_batch", "exec_ms"),
        "lake.merge.plan_ms": attr_median("cdc.apply_batch", "plan_ms"),
        "lake.merge.commit_ms": attr_median("cdc.apply_batch", "commit_ms"),
        "lake.merge.stats_ms": attr_median("cdc.apply_batch", "stats_ms"),
        "lake.merge.touched_bucket_frac": attr_median("cdc.apply_batch", "touched_frac"),
        "cdc.dedup.keys_per_event": sum(a["keys"] for a in applies) / events if events else 0.0,
        "lake.bytes_written_per_event": sum(a["bytes"] for a in applies) / events if events else 0.0,
        "spark.jobs_per_apply": attr_median("cdc.apply_batch", "jobs"),
        "lake.compact_ms": median(tr.durations_ms("lake.compact")),
        "lake.compact_buckets": attr_median("lake.compact", "buckets"),
        "lake.compact_bytes_rewritten": attr_median("lake.compact", "bytes"),
        "lake.lookup_files_read": attr_median("lake.lookup", "files_read"),
        "spark.jobs_per_lookup": attr_median("lake.lookup", "jobs"),
        # polls that returned a diff; maintain_from_feed's closing
        # caught-up poll reads two manifests and nothing else
        "lake.feed.poll_ms": median((s["end"] - s["start"]) * 1000 for s in polls),
        "lake.feed.rows": attr_median("lake.feed.poll", "rows"),
        "spark.jobs_per_poll": median(s["attrs"]["jobs"] for s in polls),
        "operators.ivm.maintain_ms": median(tr.durations_ms("operators.ivm.maintain_from_feed")),
        "metrics.lineage.record_ms": median(tr.durations_ms("metrics.lineage.record")),
        "streaming.trigger_ms": median(tr.durations_ms("streaming.trigger")),
        "failed_frac": ctx.failed / max(ctx.attempted, 1),
        "bench.untimed_steps": ctx.untimed_steps,
        "trace.overhead_frac": ctx.window_bookkeeping_s / ctx.window_s if ctx.window_s else 0.0,
    })
    for layer, ms in tr.self_time_ms().items():
        out[f"{layer}.self_ms"] = ms
    return {n: float(out.get(n, 0.0)) for n in names}


def _summary(ctx, workload: str, seed: int, size: str) -> None:
    """Per-layer self time and the overhead against the last untraced
    run of the same workload and seed, if one was kept."""
    print(f"perfbench[{workload} seed={seed}] self time by layer from the window start:",
          file=sys.stderr)
    for layer, ms in sorted(ctx.tracer.self_time_ms().items(), key=lambda kv: -kv[1]):
        print(f"  {layer:16s} {ms:10.1f} ms", file=sys.stderr)
    print(f"  tracer bookkeeping {ctx.window_bookkeeping_s * 1000:.1f} ms "
          f"of a {ctx.window_s:.1f} s window", file=sys.stderr)
    base = os.path.join(WORK, "results", f"{workload}-{seed}-{size}-trace0.json")
    if os.path.exists(base):
        with open(base) as f:
            untraced = json.load(f)
        for name, val in ctx.e2e.items():
            if untraced.get(name):
                print(f"  overhead {name}: {val / untraced[name] - 1:+.1%}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "spark_cdc", "__init__.py")):
        print("perfbench: run from the root of a checkout (spark_cdc/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    # before anything imports pyspark, so every temp file lands in `work`
    cores, heap, conf = _fit_host(work)
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import FULL, TINY, WORKLOADS, Ctx
    from spark_cdc.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        shuffle_partitions=2 * cores, extra_conf=conf,
    )
    jvm = spark.sparkContext._gateway.proc
    print(f"perfbench: local[{cores}], JVM heap {heap}", file=sys.stderr)
    size = "tiny" if args.tiny else "full"
    tracer = Tracer(bool(args.trace), run_id)
    ctx = Ctx(spark, jvm.pid, work, args.seed, args.seconds, tracer,
              TINY if args.tiny else FULL)
    busy0, steal0 = _cpu_jiffies()
    try:
        WORKLOADS[args.workload](ctx)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    busy, steal = _cpu_jiffies()
    ds, db = steal - steal0, busy - busy0
    ctx.layer["host.steal_ratio"] = ds / (ds + db) if ds + db else 0.0
    print(f"perfbench: host steal ratio {ctx.layer['host.steal_ratio']:.3f}", file=sys.stderr)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}-{size}-trace{args.trace}.json"), "w") as f:
        json.dump(ctx.e2e, f)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        _summary(ctx, args.workload, args.seed, size)
        values = layer_metrics(ctx, [m["name"] for m in spec["per_layer"]])
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(ctx.e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps({
        "correct": ctx.incorrect == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
