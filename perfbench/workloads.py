"""The benchmark's workloads, driven through the engine's public API.

- ``backfill``: catch-up replay of a power-law-skewed change log with a
  mid-log schema evolution, as large lsn-ordered bulk MoR batches; the
  table is compacted afterwards.
- ``serve_mixed``: closed loop, one client, on a pre-loaded MoR table
  whose deltas accumulate. Per round the client drops one small change
  file (Zipf 1.1 hot conversation) into a running StreamRunner's source
  and waits for the trigger that commits it (stats-path apply, lineage
  through MetricsLog), polls the change feed into a maintained rollup,
  then makes Zipf-drawn point lookups.

Each runs a fixed number of steps, so the table the post-window metrics
see does not depend on how fast the engine is; ``--seconds`` only caps
the timed window (steps past it still run, untimed, and are reported).
Both end outside the timed window with the timed compaction (serve_mixed
also compacts two copies of its table, for a median), a seeded read
probe (backfill), the peak-RSS reading and then the oracle checks.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import oracle
from spark_cdc.cdc.apply import apply_batch
from spark_cdc.cdc.envelope import CHANGE_SCHEMA, KEY_COLUMNS, PAYLOAD_SCHEMA
from spark_cdc.lake import maintenance
from spark_cdc.lake.feed import ChangeFeedConsumer
from spark_cdc.lake.table import LakeTable, bucket_expr
from spark_cdc.metrics.lineage import MetricsLog
from spark_cdc.operators.ivm import maintain_from_feed, rebuild_view, signed_count, signed_sum
from spark_cdc.operators.rollup import IncrementalRollup
from spark_cdc.sources.changelog import generate_change_log, split_at_evolution
from spark_cdc.streaming import stream_runner
from spark_cdc.streaming.stream_runner import StreamRunner

NUM_BUCKETS = 32
ZIPF_ALPHA = 1.1
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("role", T.StringType(), False),
        T.StructField("turns", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
    ]
)
CLOCK_TICK = os.sysconf("SC_CLK_TCK")
PRE_EVOLUTION_SCHEMA = T.StructType([f for f in PAYLOAD_SCHEMA.fields if f.name != "tool"])
PRE_EVOLUTION_CHANGES = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name != "tool"])


@dataclass(frozen=True)
class Sizes:
    n_convs: int
    batch_events: int  # one backfill batch, and one pre-load batch
    backfill_batches: int  # all applied in the window
    evolution_batch: int  # first backfill batch that carries `tool`
    preload_batches: int  # serve_mixed pre-load
    round_events: int  # one serve_mixed change file
    rounds: int  # serve_mixed rounds: round 0 warms up, the rest are timed
    lookups_per_round: int
    probe_lookups: int  # read probe after the backfill
    setup_reps: int
    compact_reps: int  # serve_mixed: compactions of copies of the final table


FULL = Sizes(
    n_convs=20_000,
    batch_events=60_000,
    backfill_batches=10,
    evolution_batch=2,
    preload_batches=1,
    round_events=2_000,
    rounds=5,
    lookups_per_round=3,
    probe_lookups=12,
    setup_reps=3,
    compact_reps=3,
)

# harness smoke size: every code path, seconds of work
TINY = Sizes(
    n_convs=200,
    batch_events=2_000,
    backfill_batches=4,
    evolution_batch=1,
    preload_batches=2,
    round_events=200,
    rounds=4,
    lookups_per_round=2,
    probe_lookups=3,
    setup_reps=2,
    compact_reps=2,
)


@dataclass(frozen=True)
class Cost:
    """What one step took: wall seconds, and the CPU seconds the
    benchmark's processes used meanwhile (see :meth:`Ctx.cpu_s`)."""

    wall_s: float
    cpu_s: float


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> float:
    """p75, interpolated. A run has about a dozen samples per op, fewer than
    the 40 a p75 with ten samples beyond it needs, so no percentile above
    the median has ten beyond it; the upper quartile is the highest one
    that a single slow sample cannot move far. BENCHMARK.json states the
    sample counts."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=4, method="inclusive")[-1]


def rate(events: list[int], seconds) -> float:
    """Median of the per-call rates: one call slowed by the host moves
    it less than it moves the sum."""
    return median(e / max(t, 1e-9) for e, t in zip(events, seconds))


def report_applies(ctx: Ctx, events: list[int], costs: list[Cost]) -> None:
    ctx.e2e["events_per_cpu_s"] = rate(events, (c.cpu_s for c in costs))
    ctx.layer["wall.events_per_s"] = rate(events, (c.wall_s for c in costs))
    ctx.layer["wall.apply_p50_ms"] = median(c.wall_s * 1000 for c in costs)


def report_lookups(ctx: Ctx, costs: list[Cost]) -> None:
    ctx.layer["cpu.lookup_ms"] = median(c.cpu_s * 1000 for c in costs)
    ctx.layer["wall.lookup_p50_ms"] = median(c.wall_s * 1000 for c in costs)
    ctx.layer["wall.lookup_tail_ms"] = tail([c.wall_s * 1000 for c in costs])


class Ctx:
    """One run: the Spark session, its work directory, op counters and
    the tracer. Engine calls go through :meth:`op` (counted, traced) or
    :meth:`traced` (traced only)."""

    def __init__(self, spark, jvm_pid: int, work: str, seed: int, seconds: float, tracer,
                 sizes: Sizes):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sizes = sizes
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.incorrect = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.window_s = 0.0
        self.window_bookkeeping_s = 0.0
        self._window_start = (0.0, 0.0)
        self._window_open = False
        self.untimed_steps = 0
        self._gid = itertools.count()

    @contextlib.contextmanager
    def traced(self, name: str, count_jobs: bool = True):
        """Span around one engine call; in traced mode also the number
        of Spark jobs it ran, counted from its job group."""
        if not self.tracer.enabled:
            yield {}
            return
        gid = outer = None
        if count_jobs:
            with self.tracer.bookkeeping():
                gid = f"perfbench-{next(self._gid)}"
                outer = self.sc.getLocalProperty("spark.jobGroup.id")
                self.sc.setJobGroup(gid, name)
        try:
            with self.tracer.span(name) as attrs:
                yield attrs
        finally:
            if gid is not None:
                with self.tracer.bookkeeping():
                    attrs["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))
                    self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the Spark JVM and the
        JVM's descendants. A paravirtualized kernel leaves the time the
        hypervisor stole from a vCPU out of these counters, so on a
        shared host they move far less from run to run than wall time."""
        parent: dict[int, int] = {}
        ticks: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = int(fields[11]) + int(fields[12])  # utime + stime
        jvm = 0
        for pid, t in ticks.items():
            p = pid
            while p > 1 and p != self.jvm_pid:
                p = parent.get(p, 0)
            if p == self.jvm_pid:
                jvm += t
        return jvm / CLOCK_TICK + time.process_time()

    def clock(self) -> tuple[float, float]:
        return time.monotonic(), self.cpu_s()

    def since(self, start: tuple[float, float]) -> Cost:
        return Cost(time.monotonic() - start[0], self.cpu_s() - start[1])

    def op(self, name: str, fn):
        """Run one counted op. Returns (result, Cost, span attrs);
        result is None when the op raised."""
        self.attempted += 1
        t0 = self.clock()
        attrs: dict = {}
        try:
            with self.traced(name) as attrs:
                out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            out = None
        return out, self.since(t0), attrs

    def begin_window(self) -> None:
        """Marks the start of the timed window; traced spans that started
        earlier (set-up, warm-up) stay out of the per-layer figures."""
        t = time.monotonic()
        self._window_start = (t, self.tracer.bookkeeping_s)
        self._window_open = True
        self.tracer.since = t

    def timing(self) -> bool:
        """Called before each step of the window: whether the step is
        timed. Once ``seconds`` have passed the window closes and the
        remaining steps run untimed, so the final state is the same."""
        if self._window_open and time.monotonic() - self._window_start[0] > self.seconds:
            self.end_window()
            print(f"perfbench: --seconds cap of {self.seconds:g} s hit, "
                  "the remaining steps run untimed", file=sys.stderr)
        if not self._window_open:
            self.untimed_steps += 1
        return self._window_open

    def end_window(self) -> None:
        if not self._window_open:
            return
        self._window_open = False
        t0, b0 = self._window_start
        self.window_s = time.monotonic() - t0
        self.window_bookkeeping_s = self.tracer.bookkeeping_s - b0

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the Spark JVM plus this process."""
        return _vm_hwm_mb(f"/proc/{self.jvm_pid}/status") + _vm_hwm_mb("/proc/self/status")

    def mismatch(self, what: str, n: int = 1) -> None:
        if n:
            print(f"perfbench: correctness mismatch in {what} ({n})", file=sys.stderr)
            self.failed += 1
            self.incorrect += 1

    def zipf_convs(self, n: int) -> list[str]:
        """Bounded Zipf(1.1) conversation draw, the same inverse CDF the
        fixture generator uses for its hot conversation."""
        s = ZIPF_ALPHA - 1.0
        a = float(self.sizes.n_convs) ** (-s)
        u = a + self.rng.random(n) * (1.0 - a)
        ranks = np.minimum(np.floor(u ** (-1.0 / s)), self.sizes.n_convs).astype(int) - 1
        return [f"conv-{r}" for r in ranks]


# ---------------------------------------------------------------- helpers


def _vm_hwm_mb(status: str) -> float:
    try:
        with open(status) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _new_table(ctx: Ctx, path: str, schema=PAYLOAD_SCHEMA) -> LakeTable:
    return LakeTable.create(
        ctx.spark, path, schema, key_columns=list(KEY_COLUMNS), num_buckets=NUM_BUCKETS
    )


def _stage(log, out: str, events_per_part: int, offset: int = 0, one_file: bool = False):
    """Write the log as parquet per ``events_per_part`` lsn slice
    (``out/p=<i>/``), one file per slice when ``one_file``; returns the
    staged row count per slice."""
    part = ((F.col("lsn") - F.lit(offset)) / F.lit(events_per_part)).cast("long")
    if one_file:
        log = log.coalesce(1)
    log.withColumn("p", part).write.partitionBy("p").mode("overwrite").parquet(out)
    # counted by Spark, not DuckDB: no oracle memory in this process
    # before the peak-RSS reading
    rows = log.sparkSession.read.parquet(out).groupBy("p").count().collect()
    return {int(r["p"]): int(r["count"]) for r in rows}


def _part_dir(out: str, i: int) -> str:
    return os.path.join(out, f"p={i}")


def _bulk_apply(ctx: Ctx, table: LakeTable, path: str, schema=CHANGE_SCHEMA, *, batch_id: int):
    df = ctx.spark.read.schema(schema).parquet(path)
    return apply_batch(
        table, df, batch_id=batch_id, source_id="bulk", mode="mor",
        collect_stats=False, collect_lineage=False,
    )


def _apply_attrs(ctx: Ctx, table: LakeTable, res, attrs: dict, events: int) -> None:
    """Traced mode: per-apply layer counts, read from the MergeResult and
    the footers of the files this commit wrote."""
    if not ctx.tracer.enabled or res is None or res.skipped:
        return
    import pyarrow.parquet as pq

    with ctx.tracer.bookkeeping():
        tag = f"snap{res.snapshot_id}-"
        new = [f for fl in table.manifest["files"].values() for f in fl if tag in f]
        paths = [os.path.join(table.path, f) for f in new]
        attrs.update(res.phases)
        attrs["events"] = events
        attrs["bytes"] = sum(os.path.getsize(p) for p in paths)
        attrs["keys"] = (
            res.batch_keys if res.batch_keys >= 0
            else sum(pq.read_metadata(p).num_rows for p in paths)
        )
        attrs["touched_frac"] = len(res.touched_buckets) / table.num_buckets


def _compact_attrs(ctx: Ctx, table: LakeTable, buckets, attrs: dict) -> None:
    """Traced mode: buckets and bytes one compaction rewrote."""
    if not ctx.tracer.enabled or buckets is None:
        return
    with ctx.tracer.bookkeeping():
        attrs["buckets"] = len(buckets)
        tag = f"snap{table.snapshot_id}-"
        attrs["bytes"] = sum(
            os.path.getsize(os.path.join(table.path, f))
            for fl in table.manifest["files"].values() for f in fl if tag in f
        ) if buckets else 0


def _layout(ctx: Ctx, table: LakeTable) -> None:
    files = table.manifest["files"]
    ctx.layer["lake.files_total"] = sum(len(fl) for fl in files.values())
    ctx.layer["lake.files_per_bucket_max"] = max((len(fl) for fl in files.values()), default=0)
    ctx.layer["lake.delta_buckets"] = len(table.manifest.get("delta_buckets", []))


def _lookup(ctx: Ctx, table: LakeTable, conv: str):
    """One counted point lookup; returns (rows, Cost). Traced mode keeps
    the manifest it read, for :func:`_lookup_files`."""
    manifest = table.manifest
    rows, cost, attrs = ctx.op("lake.lookup", lambda: table.lookup(conv).collect())
    if ctx.tracer.enabled:
        attrs["probe"] = (conv, manifest)
    return rows, cost


def _lookup_files(ctx: Ctx, table: LakeTable) -> None:
    """Traced mode, after the window: the data files each lookup's
    bucket and key range selected, with one Spark job for all buckets."""
    spans = [s for s in ctx.tracer.spans if s["name"] == "lake.lookup" and "probe" in s["attrs"]]
    if not spans:
        return
    with ctx.tracer.bookkeeping():
        convs = sorted({s["attrs"]["probe"][0] for s in spans})
        col = table.bucket_column
        bucket = dict(
            ctx.spark.createDataFrame([(c,) for c in convs], f"{col} string")
            .select(col, bucket_expr(col, table.num_buckets)).collect()
        )
        for s in spans:
            conv, manifest = s["attrs"].pop("probe")
            s["attrs"]["files_read"] = len(table.selected_files(
                manifest, buckets=[bucket[conv]], key_between=(conv, conv)))


def _rows(rows) -> list[tuple]:
    return sorted((r["turn_idx"], r["role"], r["text"], r["tool"]) for r in rows)


def _finish(ctx: Ctx, table: LakeTable, probe_lookups: int, lookups: list[Cost],
            compact_reps: int = 1) -> list[tuple]:
    """Untimed tail shared by every workload, before any check: the final
    compaction (timed on its own; with ``compact_reps`` > 1 also on copies
    of the table, and the median reported), the read probe and the peak
    RSS. Returns the probe's (conv_id, rows)."""
    _layout(ctx, table)
    copies = []
    for r in range(1, compact_reps):
        shutil.copytree(table.path, f"{table.path}-copy{r}")
        copies.append(LakeTable.load(ctx.spark, f"{table.path}-copy{r}"))
    costs = []
    for t in [table, *copies]:
        buckets, cost, attrs = ctx.op("lake.compact", lambda: maintenance.compact(t))
        _compact_attrs(ctx, t, buckets, attrs)
        costs.append(cost)
    ctx.e2e["compact_cpu_s"] = median(c.cpu_s for c in costs)
    ctx.layer["wall.compact_s"] = median(c.wall_s for c in costs)
    probe = []
    # the first two lookups of the probe warm the read path of the
    # freshly compacted files and are checked but not timed
    for k, conv in enumerate(ctx.zipf_convs(probe_lookups + 2 if probe_lookups else 0)):
        rows, cost = _lookup(ctx, table, conv)
        if rows is not None:
            if k >= 2:
                lookups.append(cost)
            probe.append((conv, _rows(rows)))
    # before the oracle, whose DuckDB would count in this process's peak
    ctx.e2e["peak_rss_mb"] = ctx.peak_rss_mb()
    if ctx.tracer.enabled:
        _lookup_files(ctx, table)
    return probe


def _check(ctx: Ctx, table: LakeTable, orc: oracle.Oracle, lsn_hi: int, samples) -> None:
    """The correctness gate, after every measurement: lookups
    ``(conv_id, lsn_hi as served, rows)`` and the whole table against the
    oracle, plus the bytes-per-live-row metric that needs its row count."""
    t0 = time.monotonic()
    for conv, hi, rows in samples:
        if rows != orc.conversation(hi, conv):
            ctx.mismatch(f"lookup {conv}")
    live = orc.live_rows(lsn_hi)
    ctx.e2e["bytes_per_live_row"] = sum(
        os.path.getsize(os.path.join(table.path, f))
        for fl in table.manifest["files"].values() for f in fl
    ) / max(live, 1)
    actual = os.path.join(ctx.work, "actual")
    table.read().write.mode("overwrite").parquet(actual)
    ctx.mismatch("table state", orc.table_mismatches(f"{actual}/*.parquet", lsn_hi))
    print(f"perfbench: window {ctx.window_s:.2f} s, compact {ctx.layer['wall.compact_s']:.2f} s, "
          f"oracle {time.monotonic() - t0:.2f} s", file=sys.stderr)


def _setup(ctx: Ctx, generate, engine_setup, warm_up=None):
    """Set-up time = fixture generation (once) + the median of
    ``setup_reps`` engine set-ups into fresh directories (the last one is
    kept) + the warm-up, if any. Generation is deterministic in the seed,
    so it is not repeated. The first engine set-up runs on a cold JVM and
    takes about twice as long as the later ones; the median is a warm one."""
    t0 = ctx.clock()
    with ctx.traced("sources.generate", count_jobs=False):
        fixtures = generate(os.path.join(ctx.work, "stage"))
    gen = ctx.since(t0)
    reps = []
    state = None
    for r in range(ctx.sizes.setup_reps):
        rep = os.path.join(ctx.work, f"rep{r}")
        if state is not None:
            shutil.rmtree(os.path.join(ctx.work, f"rep{r - 1}"), ignore_errors=True)
        t0 = ctx.clock()
        state = engine_setup(fixtures, rep)
        reps.append(ctx.since(t0))
    t0 = ctx.clock()
    if warm_up is not None:
        warm_up(state)
    warm = ctx.since(t0)
    print(f"perfbench: setup wall (cpu): generate {gen.wall_s:.2f} ({gen.cpu_s:.2f}) s, engine "
          f"{', '.join(f'{c.wall_s:.2f} ({c.cpu_s:.2f})' for c in reps)} s, "
          f"warm-up {warm.wall_s:.2f} ({warm.cpu_s:.2f}) s", file=sys.stderr)
    ctx.e2e["setup_s"] = gen.cpu_s + median(c.cpu_s for c in reps) + warm.cpu_s
    ctx.layer["wall.setup_s"] = gen.wall_s + median(c.wall_s for c in reps) + warm.wall_s
    ctx.layer["sources.generate_s"] = gen.wall_s
    return fixtures, state


def _generate(ctx: Ctx, n_events: int, **kw):
    return generate_change_log(ctx.spark, n_events, ctx.sizes.n_convs, seed=ctx.seed, **kw)


# ------------------------------------------------------------- backfill


def run_backfill(ctx: Ctx) -> None:
    sz = ctx.sizes

    def generate(stage):
        log = _generate(ctx, sz.batch_events * sz.backfill_batches)
        pre, post = split_at_evolution(log, sz.evolution_batch * sz.batch_events)
        counts = _stage(pre, os.path.join(stage, "pre"), sz.batch_events)
        counts.update(_stage(post, os.path.join(stage, "post"), sz.batch_events))
        return stage, counts

    def batch(stage, i):
        if i < sz.evolution_batch:
            return _part_dir(os.path.join(stage, "pre"), i), PRE_EVOLUTION_CHANGES
        return _part_dir(os.path.join(stage, "post"), i), CHANGE_SCHEMA

    def engine_setup(fixtures, rep):
        # warm-up at the real batch size into a scratch table: one bulk
        # apply, its compaction and a lookup
        stage, _ = fixtures
        scratch = _new_table(ctx, os.path.join(rep, "warmup"), PRE_EVOLUTION_SCHEMA)
        _bulk_apply(ctx, scratch, *batch(stage, 0), batch_id=0)
        maintenance.compact(scratch)
        scratch.lookup(ctx.zipf_convs(1)[0]).collect()
        return _new_table(ctx, os.path.join(rep, "table"), PRE_EVOLUTION_SCHEMA)

    (stage, counts), table = _setup(ctx, generate, engine_setup)
    applies: list[Cost] = []
    events: list[int] = []
    ctx.begin_window()
    for i in range(sz.backfill_batches):
        timed = ctx.timing()
        res, cost, attrs = ctx.op(
            "cdc.apply_batch", lambda: _bulk_apply(ctx, table, *batch(stage, i), batch_id=i)
        )
        if res is not None:
            _apply_attrs(ctx, table, res, attrs, counts[i])
            if timed:
                applies.append(cost)
                events.append(counts[i])
    ctx.end_window()

    report_applies(ctx, events, applies)
    lookups: list[Cost] = []
    probe = _finish(ctx, table, sz.probe_lookups, lookups)
    report_lookups(ctx, lookups)
    lsn_hi = sz.backfill_batches * sz.batch_events
    orc = oracle.Oracle(f"{stage}/*/*/*.parquet")
    try:
        _check(ctx, table, orc, lsn_hi, [(conv, lsn_hi, rows) for conv, rows in probe])
    finally:
        orc.close()


# ----------------------------------------------------------- serve_mixed


def run_serve_mixed(ctx: Ctx) -> None:
    sz = ctx.sizes
    n_pre = sz.batch_events * sz.preload_batches

    def generate(stage):
        log = _generate(ctx, n_pre + sz.rounds * sz.round_events, zipf_alpha=ZIPF_ALPHA)
        _stage(log.where(F.col("lsn") < n_pre), os.path.join(stage, "preload"), sz.batch_events)
        counts = _stage(log.where(F.col("lsn") >= n_pre), os.path.join(stage, "rounds"),
                        sz.round_events, offset=n_pre, one_file=True)
        return stage, counts

    def engine_setup(fixtures, rep):
        stage, _ = fixtures
        table = _new_table(ctx, os.path.join(rep, "table"))
        for i in range(sz.preload_batches):
            _bulk_apply(ctx, table, _part_dir(os.path.join(stage, "preload"), i), batch_id=i)
        rt = LakeTable.create(ctx.spark, os.path.join(rep, "rollup"), ROLLUP_SCHEMA,
                              key_columns=["role"], num_buckets=4)
        rollup = IncrementalRollup(
            rt, ["role"],
            {"turns": signed_count(), "chars": signed_sum(F.length("text"))},
            count_col="turns",
        )
        consumer = ChangeFeedConsumer(table, os.path.join(rep, "cursor"))
        rebuild_view(rollup, consumer)
        return rep, table, rollup, consumer

    stream = _ServeStream(ctx, sz, n_pre)

    def warm_up(state):
        # start the query and run round 0: its first trigger, feed poll
        # and lookup
        rep, table, rollup, consumer = state
        stream.start(rep, table, os.path.join(ctx.work, "stage", "rounds"))
        stream.round(0)
        maintain_from_feed(rollup, consumer)
        table.lookup(ctx.zipf_convs(1)[0]).collect()

    try:
        (stage, counts), (rep, table, rollup, consumer) = _setup(
            ctx, generate, engine_setup, warm_up)

        applies: list[Cost] = []
        lag_ms: list[float] = []
        lookups: list[Cost] = []
        pickup_ms: list[float] = []
        samples = []
        events: list[int] = []
        done = 1  # round 0 ran in the warm-up
        ctx.begin_window()
        for r in range(1, sz.rounds):
            timed = ctx.timing()
            ctx.attempted += 1
            visible, pickup = stream.round(r)
            if visible is None:
                ctx.failed += 1
                break
            done += 1
            t_commit = time.monotonic()
            polls, _, _ = ctx.op("operators.ivm.maintain_from_feed",
                                 lambda: _maintain(ctx, rollup, consumer))
            lag = (time.monotonic() - t_commit) * 1000
            lsn_hi = n_pre + done * sz.round_events
            round_lookups = []
            for conv in ctx.zipf_convs(sz.lookups_per_round):
                rows, cost = _lookup(ctx, table, conv)
                if rows is not None:
                    round_lookups.append(cost)
                    samples.append((conv, lsn_hi, _rows(rows)))
            if timed:
                applies.append(visible)
                events.append(counts[r])
                if polls is not None:
                    lag_ms.append(lag)
                if pickup is not None:
                    pickup_ms.append(pickup)
                lookups.extend(round_lookups)
        ctx.end_window()
    finally:
        stream.stop()

    report_applies(ctx, events, applies)
    report_lookups(ctx, lookups)
    ctx.layer["operators.ivm.view_lag_ms"] = median(lag_ms)
    ctx.layer["streaming.pickup_ms"] = median(pickup_ms)
    _finish(ctx, table, 0, [], sz.compact_reps)

    lsn_hi = n_pre + done * sz.round_events
    # a seeded sample of the lookups, each checked against the oracle
    # state as of the round that served it
    picked = sorted(ctx.rng.choice(len(samples), min(len(samples), 4), replace=False))
    orc = oracle.Oracle(f"{stage}/*/*/*.parquet")
    try:
        got = sorted(tuple(x) for x in rollup.read().select("role", "turns", "chars").collect())
        if got != orc.rollup_by_role(lsn_hi):
            ctx.mismatch("rollup")
        _check(ctx, table, orc, lsn_hi, [samples[k] for k in picked])
    finally:
        orc.close()


class _ServeStream:
    """The running StreamRunner of serve_mixed and the client's hand-off:
    :meth:`round` links one staged change file into the source directory
    and waits for the trigger that commits it."""

    def __init__(self, ctx: Ctx, sz: Sizes, n_pre: int):
        self.ctx = ctx
        self.sz = sz
        self.n_pre = n_pre
        self.cond = threading.Condition()
        self.max_lsn = -1
        self.visible_at = (0.0, 0.0)
        self.trigger_start = 0.0
        self.query = None
        self.restore: list = []

    def start(self, rep: str, table: LakeTable, rounds_dir: str) -> None:
        self.rounds_dir = rounds_dir
        self.src = os.path.join(rep, "source")
        os.makedirs(self.src)
        self.metrics = MetricsLog(self.ctx.spark, os.path.join(rep, "lineage"))
        runner = StreamRunner(
            self.ctx.spark, table, self.src, os.path.join(rep, "checkpoint"),
            mode="mor", on_batch=self._on_batch,
        )
        if self.ctx.tracer.enabled:
            self.restore = _instrument_stream(self.ctx, runner, self)
        # every trigger of the empty source plans a micro-batch: at 100 ms
        # that took 0.2 to 0.9 of a core, varying from run to run, under
        # the lookups and the feed poll; 500 ms takes a fifth of that and
        # adds at most 500 ms of pickup to the wall-clock apply latency
        self.query = runner.start_continuous("500 milliseconds")

    def _on_batch(self, batch_id, res) -> None:
        t = self.ctx.clock()
        with self.ctx.traced("metrics.lineage.record", count_jobs=False):
            self.metrics.record(res, source_id="stream", batch_id=batch_id)
        with self.cond:
            if res.max_lsn is not None and res.max_lsn > self.max_lsn:
                self.max_lsn = res.max_lsn
                self.visible_at = t
            self.cond.notify_all()

    def round(self, r: int) -> tuple[Cost | None, float | None]:
        """The Cost from the file's arrival to the commit being visible
        (None when the stream failed or timed out), and in traced mode
        the ms until the trigger that picked it up started."""
        (name,) = [f for f in os.listdir(_part_dir(self.rounds_dir, r)) if f.endswith(".parquet")]
        last = self.n_pre + (r + 1) * self.sz.round_events - 1
        wall0, cpu0 = self.ctx.clock()
        os.link(os.path.join(_part_dir(self.rounds_dir, r), name),
                os.path.join(self.src, f"{r:06d}.parquet"))
        deadline = wall0 + 60
        with self.cond:
            while self.max_lsn < last:
                if self.query.exception() is not None or time.monotonic() > deadline:
                    print(f"perfbench: stream failed: {self.query.exception()}", file=sys.stderr)
                    return None, None
                self.cond.wait(0.05)
            pickup = (self.trigger_start - wall0) * 1000 if self.trigger_start > wall0 else None
            wall, cpu = self.visible_at
            return Cost(wall - wall0, cpu - cpu0), pickup

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        for obj, attr, orig in self.restore:
            setattr(obj, attr, orig)


def _instrument_stream(ctx: Ctx, runner: StreamRunner, stream: _ServeStream) -> list:
    """Traced mode only: spans around the StreamRunner trigger and the
    apply call it makes. Returns what to restore."""
    orig_apply = stream_runner.apply_batch
    orig_handle = runner._handle

    def apply(table, changes, **kw):
        with ctx.traced("cdc.apply_batch") as attrs:
            res = orig_apply(table, changes, **kw)
        _apply_attrs(ctx, table, res, attrs, res.batch_rows)
        return res

    def handle(batch_df, batch_id):
        stream.trigger_start = time.monotonic()
        with ctx.traced("streaming.trigger", count_jobs=False):
            orig_handle(batch_df, batch_id)

    stream_runner.apply_batch = apply
    runner._handle = handle
    return [(stream_runner, "apply_batch", orig_apply)]


def _maintain(ctx: Ctx, rollup, consumer) -> int:
    if not ctx.tracer.enabled:
        return maintain_from_feed(rollup, consumer)
    orig_poll = consumer.poll

    def poll(include_preimage=False):
        with ctx.traced("lake.feed.poll") as attrs:
            got = orig_poll(include_preimage=include_preimage)
        if got is not None:
            attrs["diff"] = True
            _count_at_checkpoint(ctx, got[0], attrs)
        return got

    consumer.poll = poll
    try:
        return maintain_from_feed(rollup, consumer)
    finally:
        del consumer.poll


def _count_at_checkpoint(ctx: Ctx, diff, attrs: dict) -> None:
    """The poll returns a lazy diff, and ``maintain_from_feed`` (inside
    its own span) materializes it once with ``localCheckpoint``. Its row
    count is read from that checkpoint: a cheap re-read, charged to the
    tracer's bookkeeping."""
    checkpoint = diff.localCheckpoint

    def counted(*args, **kwargs):
        out = checkpoint(*args, **kwargs)
        with ctx.tracer.bookkeeping():
            attrs["rows"] = out.count()
        return out

    diff.localCheckpoint = counted


WORKLOADS = {
    "backfill": run_backfill,
    "serve_mixed": run_serve_mixed,
}
