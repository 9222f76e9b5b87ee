"""The benchmark workloads: ``ingest`` and ``query_warm``. Each returns
a ``Result`` with its set-up samples, its timed samples, its
output-check tally and, for traced runs, the per-layer metrics. Client
model: one thread, closed loop — one key or one drain at a time, the
next only after the previous completes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from harness import (
    INDEX_BUILDERS,
    MEMO_CACHES,
    RssSampler,
    STAGE_FIELDS,
    WORK,
    Instruments,
    Tracer,
    digest,
    digests,
    log,
    median,
    progress_listener,
    shutdown,
    stage_totals,
    start_application,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # set-ups per run; setup_s reports their median
WARM_PASSES = 2  # minimum warm query passes per run
WARM_DRAINS = 2  # minimum warm ingest drains per run
INGEST_TRIGGERS = 8  # micro-batches per drain
INGEST_FACTOR = 10  # backlog = this many copies of the events table

PER_LAYER = (
    "session.start_s", "process.peak_rss_mb", "kinesis_sim.stage_s",
    "runtime.triggers", "runtime.rows_per_trigger", "runtime.rows_per_s",
    "runtime.trigger_p50_ms", "runtime.trigger_max_ms",
    "runtime.addBatch_ms", "runtime.queryPlanning_ms", "runtime.getBatch_ms",
    "runtime.latestOffset_ms", "runtime.walCommit_ms", "runtime.commitOffsets_ms",
    "runtime.files_landed", "runtime.compact_s", "runtime.files_compacted",
    "operators.build_s", "operators.build_jobs", "operators.action_s",
    "operators.count_total_s", "operators.cold_pass_s", "operators.cold_build_s",
    "operators.cold_build_jobs",
    "spark.exec_cpu_s", "spark.exec_run_s", "spark.gc_s", "spark.tasks",
    "tables.scan_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.slot_idle_share",
    "memo.builds", "memo.build_s", "memo.pinned_bytes", "memo.releases",
    "memo.consumers_per_build", "memo.warm_builds", "index.builds", "index.build_s",
    "index.warm_builds", "vecexec.keys_exec_cpu_s", "vecexec.cold_exec_cpu_s", "trace.overhead_s", "trace.spans",
    "scratch.used_bytes", "scratch.left_bytes",
)
# Trigger phases reported by StreamingQueryProgress.durationMs, in the
# order a micro-batch runs them.
_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
           "commitOffsets")


@dataclass
class Result:
    setup: list[float] = field(default_factory=list)
    cold: list[float] = field(default_factory=list)
    total: list[float] = field(default_factory=list)
    steps: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    report: dict[str, object] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def load_keys() -> dict:
    """The benchmarked key lists (``keys.json``)."""
    with open(os.path.join(HERE, "keys.json")) as f:
        return json.load(f)


class Context:
    def __init__(self, args, scratch, sf_dir, events_dir, expected):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.sf_dir = sf_dir
        self.events_dir = events_dir
        self.expected = expected
        self.keys = load_keys()
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.tracer.enabled = self.trace
        self.spark = None
        self.rss = RssSampler()
        self.boot_s = 0.0
        self.cores = len(os.sched_getaffinity(0))

    def boot(self) -> None:
        """Launch the JVM, start the first application, load the registry."""
        from khose_spark import registry

        t0 = time.perf_counter()
        self.spark = start_application()
        registry.load_all()
        self.boot_s = time.perf_counter() - t0
        log(f"boot {self.boot_s:.2f}s")

    def measured(self) -> None:
        """The timed part is over: fix the memory figures before the
        output checks and traced extras add their own."""
        self.rss.settle(self.spark)

    def new_application(self) -> float:
        t0 = time.perf_counter()
        self.spark = start_application(self.spark)
        return time.perf_counter() - t0


# --------------------------------------------------------------------------
# query keys
# --------------------------------------------------------------------------


class KeyRunner:
    """Runs registered keys as build (the query call) + action (full
    materialisation to the noop sink); in traced mode each phase runs
    under its own job group and its stage metrics are summed."""

    def __init__(self, ctx: Context, res: Result):
        self.ctx = ctx
        self.res = res
        self.acc = res.layer  # where traced runs add their layer totals
        self.n = 0

    def run(self, key: str, traced: bool = False, keep: bool = False):
        """Build + action seconds of ``key`` (and the built relation if
        ``keep``)."""
        from khose_spark import registry

        spark, sf = self.ctx.spark, self.ctx.sf_dir
        self.n += 1
        sc = spark.sparkContext
        with self.ctx.tracer.span(f"key:{key}"):
            if traced:
                sc.setJobGroup(f"b{self.n}", key)
            with self.ctx.tracer.span("build"):
                t0 = time.perf_counter()
                df = registry.QUERIES[key](spark, sf)
                t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"a{self.n}", key)
            with self.ctx.tracer.span("action"):
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._account(key, f"b{self.n}", f"a{self.n}", t1 - t0, t2 - t1)
        return (t2 - t0, df) if keep else t2 - t0

    def _account(self, key, build_group, action_group, build_s, action_s) -> None:
        layer = self.acc
        b = stage_totals(self.ctx.spark, build_group)
        a = stage_totals(self.ctx.spark, action_group)
        layer["operators.build_s"] += build_s
        layer["operators.action_s"] += action_s
        layer["operators.build_jobs"] += b["jobs"]
        for f in STAGE_FIELDS:
            name = f"tables.{f}" if f == "scan_bytes" else f"spark.{f}"
            layer[name] += a[f] + b[f]
        if key in self.ctx.keys["vector_keys"]:
            layer["vecexec.keys_exec_cpu_s"] += a["exec_cpu_s"] + b["exec_cpu_s"]
        layer["_traced_wall_s"] += build_s + action_s

    def check(self, key: str, df) -> None:
        """Row count and digest of ``key``'s relation ``df`` against the
        expected file, outside any timed region. A relation that raises
        counts as failed."""
        try:
            rows, dig = digest(df)
        except Exception:  # noqa: BLE001 - a failing key is a result, not a crash
            traceback.print_exc()
            self.res.check(False, f"{key}: raised")
            return
        self._verdict(key, rows, dig)

    def check_all(self, built: dict) -> None:
        """``check`` every relation of ``built`` (key -> relation), in one
        Spark job when none raises, else key by key."""
        try:
            got = digests(built)
        except Exception:  # noqa: BLE001 - find the failing key(s) one by one
            for k, df in built.items():
                self.check(k, df)
            return
        for k, (rows, dig) in got.items():
            self._verdict(k, rows, dig)

    def _verdict(self, key: str, rows: int, dig: str) -> None:
        exp = self.ctx.expected.get(key)
        if exp is None:
            self.res.check(False, f"{key}: no expected entry")
        elif rows != exp["rows"]:
            self.res.check(False, f"{key}: rows {rows} != {exp['rows']}")
        elif not exp.get("rows_only") and dig != exp["digest"]:
            self.res.check(False, f"{key}: digest differs")
        else:
            self.res.check(True, key)

    def count(self, key: str) -> float:
        from khose_spark import registry

        t0 = time.perf_counter()
        registry.QUERIES[key](self.ctx.spark, self.ctx.sf_dir).count()
        return time.perf_counter() - t0


def _finish_stage_layers(ctx: Context, res: Result) -> None:
    wall = res.layer.pop("_traced_wall_s", 0.0)
    if wall > 0:
        res.layer["spark.slot_idle_share"] = 1 - res.layer["spark.exec_run_s"] / (
            wall * ctx.cores
        )


def _builds_per_cache(inst: Instruments) -> dict[str, int]:
    return {
        a: inst.counts["builds"][a]
        for a in [a for _, a in MEMO_CACHES] + [c for _, _, c in INDEX_BUILDERS]
    }


def _traced(ctx: Context, body):
    """Run ``body(instruments)`` with the memo/index layers
    instrumented; returns the instruments."""
    inst = Instruments(ctx.tracer)
    inst.install()
    try:
        body(inst)
    finally:
        inst.uninstall()
    return inst


def query_warm(ctx: Context) -> Result:
    """What an analyst pays per query in a live session. The warm keys
    (one or more per operator family) run in seed order, each built and
    fully materialised. The first pass is the cold one: first touch of
    every key in a fresh JVM and application, paying the memo and index
    builds its keys need. The warm passes that follow reuse those
    builds only; the relations of the last one are checked off the
    clock.

    Traced runs add the session-cold pass: in a fresh application, the
    consumers of every shared build (five ``memo.put`` caches, three ANN
    index builders, the fixed-k Lloyd memo), family by family, so the
    pass pays each build once plus its reuse."""
    res = Result()
    runner = KeyRunner(ctx, res)
    keys = _rotated(list(ctx.keys["warm_keys"]), ctx.seed)
    ctx.boot()
    with ctx.tracer.span("workload:query_warm"):
        for _ in range(SETUPS):
            with ctx.tracer.span("setup"):
                res.setup.append(ctx.new_application())
        log(f"set-ups {res.setup}")
        with ctx.tracer.span("cold_pass"):
            res.cold = [sum(runner.run(k) for k in keys)]
        log(f"cold pass {res.cold[0]:.2f}s")
        samples: dict[str, list[float]] = defaultdict(list)
        passes: list[float] = []
        t_end = time.perf_counter() + ctx.seconds
        while len(passes) < WARM_PASSES or time.perf_counter() < t_end:
            built = {}
            with ctx.tracer.span("pass"):
                t0 = time.perf_counter()
                for k in keys:
                    dt, built[k] = runner.run(k, keep=True)
                    samples[k].append(dt)
                passes.append(time.perf_counter() - t0)
            log(f"warm pass {passes[-1]:.2f}s")
        ctx.measured()
        # The last warm pass's relations, built on the memo and index
        # hits the warm loop measures, are checked off the clock.
        t0 = time.perf_counter()
        runner.check_all(built)
        log(f"warm checks {time.perf_counter() - t0:.2f}s")
        # Per key, its fastest warm run: contention from outside the run
        # and JIT still settling only ever add time.
        res.steps = [min(v) for v in samples.values()]
        res.total = [sum(res.steps)]
        if ctx.trace:
            _trace_warm(ctx, res, runner, keys, median(passes))
            _trace_session_cold(ctx, res, runner)
    res.report.update(keys=len(keys), warm_passes=len(passes))
    return res


def _trace_warm(ctx, res, runner, keys, untraced_pass_s) -> None:
    """One instrumented warm pass (layer totals; no build may happen)
    and the same keys timed under ``count()``."""
    wall = {}

    def warm_pass(inst):
        t0 = time.perf_counter()
        with ctx.tracer.span("pass"):
            for k in keys:
                runner.run(k, traced=True)
        wall["s"] = time.perf_counter() - t0

    inst = _traced(ctx, warm_pass)
    res.layer["memo.warm_builds"] = inst.memo_builds()
    res.layer["index.warm_builds"] = inst.index_builds()
    res.check(inst.memo_builds() == inst.index_builds() == 0,
              "no memo or index build inside the warm loop")
    res.layer["trace.overhead_s"] = wall["s"] - untraced_pass_s
    res.layer["operators.count_total_s"] = sum(runner.count(k) for k in keys)
    _finish_stage_layers(ctx, res)


def _trace_session_cold(ctx, res, runner) -> None:
    """The session-cold pass, instrumented, in a fresh application; its
    keys' outputs are checked on the relations the pass built."""
    ctx.new_application()
    keys = [k for _, fam in ctx.keys["cold_families"] for k in fam]
    built = {}
    acc = defaultdict(float)
    runner.acc = acc

    def cold_pass(inst):
        t0 = time.perf_counter()
        with ctx.tracer.span("session_cold_pass"):
            for k in keys:
                built[k] = runner.run(k, traced=True, keep=True)[1]
        acc["operators.cold_pass_s"] = time.perf_counter() - t0

    try:
        inst = _traced(ctx, cold_pass)
    finally:
        runner.acc = res.layer
    log(f"session cold pass {acc['operators.cold_pass_s']:.2f}s")
    runner.check_all(built)
    _cold_layers(res, inst, acc)


def _rotated(items: list, seed: int) -> list:
    """The seed's key order: a rotation, so every seed keeps the same
    neighbours (and the same code-cache and memo interplay between
    consecutive keys) and only the starting point moves."""
    k = seed % len(items)
    return items[k:] + items[:k]


def _cold_layers(res: Result, inst: Instruments, acc: dict) -> None:
    """Memo/index layers and operator time of the session-cold pass."""
    layer = res.layer
    layer["memo.builds"] = inst.memo_builds()
    layer["memo.build_s"] = inst.memo_build_s
    layer["memo.pinned_bytes"] = inst.memo_pinned_bytes
    layer["memo.releases"] = inst.memo_releases
    layer["memo.consumers_per_build"] = inst.consumers_per_build()
    layer["index.builds"] = inst.index_builds()
    layer["index.build_s"] = inst.index_build_s
    layer["operators.cold_pass_s"] = acc["operators.cold_pass_s"]
    layer["operators.cold_build_s"] = acc["operators.build_s"]
    layer["operators.cold_build_jobs"] = acc["operators.build_jobs"]
    layer["vecexec.cold_exec_cpu_s"] = acc["vecexec.keys_exec_cpu_s"]
    res.report["cold_builds_per_cache"] = per = _builds_per_cache(inst)
    res.check(all(n == 1 for n in per.values()),
              "each memo cache and index builder builds exactly once per session-cold pass")


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------


def _scale_dir(ctx: Context) -> str:
    """The 10x events copy, made once per checkout by
    ``scaling.ensure_scale_dir``. That function scales every table of its
    base dir; ingest reads only ``events``, so the base pairs the events
    of ``ctx.events_dir`` with the (small) query tables. The copy is made
    in a JVM of its own, stopped before the run boots, so the run that
    makes it starts as cold as every other run."""
    from khose_spark import scaling

    name = os.path.basename(ctx.events_dir.rstrip("/")) + "-events"
    base = os.path.join(WORK, "fixtures", name)
    dest = os.path.join(WORK, "fixtures", f"{name}_x{INGEST_FACTOR}")
    if os.path.isdir(dest):
        return dest
    t0 = time.perf_counter()
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    for f in os.listdir(ctx.sf_dir):
        src = ctx.events_dir if f == "events.parquet" else ctx.sf_dir
        shutil.copy(os.path.join(src, f), base)
    spark = start_application()
    try:
        scaling.ensure_scale_dir(spark, base, dest + ".partial", factor=INGEST_FACTOR)
    finally:
        shutdown(spark)
    os.rename(dest + ".partial", dest)
    log(f"{INGEST_FACTOR}x events made in {time.perf_counter() - t0:.2f}s")
    return dest


def _write_backlog(ctx: Context, scale_dir: str, out_dir: str) -> int:
    """The run's backlog: the 10x events with event ids replaced by a
    seeded permutation, so the seed decides which events share an
    arrival chunk (chunks are event-id ranges)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    tbl = ds.dataset(os.path.join(scale_dir, "events.parquet")).to_table()
    tbl = tbl.sort_by("event_id")
    perm = np.random.default_rng(ctx.seed).permutation(tbl.num_rows)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("event_id"), "event_id", pa.array(perm, pa.int64())
    )
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts", tbl.column("ts").cast(pa.timestamp("us"))
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "events.parquet"))
    return tbl.num_rows


def _count_parquet(d: str) -> int:
    return sum(
        1 for base, _, fs in os.walk(d) if "_spark_metadata" not in base
        for f in fs if f.endswith(".parquet")
    )


def ingest(ctx: Context) -> Result:
    """availableNow drain of the seeded 10x events backlog through
    kinesis_stream -> parse_envelope -> ingest_to_parquet (month
    partitions, one coalesced writer per core, one chunk per writer per
    trigger), then compact_parquet. A drain's clock runs from stream
    launch to the compacted dataset.

    Set-up: write the seeded backlog once, then three times, each in a
    fresh Spark application (the first started with the JVM), stage its
    arrival chunks. Then the cold drain, the first streaming query in
    the JVM (what a freshly launched khose job pays), then warm drains
    for the run's seconds."""
    from khose_spark.sources import kinesis_sim as ks
    from khose_spark.streaming import runtime as rt

    res = Result()
    scale_dir = _scale_dir(ctx)
    ctx.boot()
    listener = progress_listener()
    src_dir = ctx.scratch.sub("backlog")
    stage_s = []
    with ctx.tracer.span("workload:ingest"):
        with ctx.tracer.span("setup"):
            t0 = time.perf_counter()
            rows_staged = _write_backlog(ctx, scale_dir, src_dir)
            backlog_s = time.perf_counter() - t0
        for i in range(SETUPS):
            with ctx.tracer.span("setup"):
                t0 = time.perf_counter()
                if i:
                    ctx.new_application()
                with ctx.tracer.span("stage"):
                    t1 = time.perf_counter()
                    chunks = ks.stage_event_chunks(
                        ctx.spark, src_dir, n_chunks=INGEST_TRIGGERS * ctx.cores,
                        tag=f"setup{i}",
                    )
                    stage_s.append(time.perf_counter() - t1)
                res.setup.append(time.perf_counter() - t0)
        log(f"backlog {backlog_s:.2f}s, set-ups {[round(x, 2) for x in res.setup]}")
        res.setup = [backlog_s + x for x in res.setup]
        ctx.spark.streams.addListener(listener)
        cold = _drain(ctx, ks, rt, chunks, "cold", listener)
        log(f"cold drain {cold['drain_s']:.2f}s + compact {cold['compact_s']:.2f}s")
        drains = []
        t_end = time.perf_counter() + ctx.seconds
        while len(drains) < WARM_DRAINS or time.perf_counter() < t_end:
            drains.append(_drain(ctx, ks, rt, chunks, f"d{len(drains)}", listener))
            log(f"drain {drains[-1]['drain_s']:.2f}s + compact {drains[-1]['compact_s']:.2f}s")
        ctx.measured()
        if ctx.trace:
            traced = _drain(ctx, ks, rt, chunks, "traced", listener, traced=True)
            _ingest_layers(ctx, res, traced, stage_s)
            res.layer["trace.overhead_s"] = traced["total_s"] - min(
                d["total_s"] for d in drains)
            drains.append(traced)
        ctx.spark.streams.removeListener(listener)

    res.cold = [cold["total_s"]]
    # The fastest warm drain, and per trigger position (every drain
    # replays the same chunks in the same order) its fastest trigger:
    # contention from outside the run only ever adds time.
    warm = drains[:-1] if ctx.trace else drains
    res.total = [min(d["total_s"] for d in warm)]
    per_pos = [[p["duration_ms"]["triggerExecution"] / 1e3
                for p in d["progress"] if p["rows"]] for d in warm]
    res.steps = [min(ts) for ts in zip(*per_pos)]
    res.report.update(
        rows_staged=rows_staged,
        warm_drains=len(warm),
        ingest_rows_per_s=rows_staged / min(d["drain_s"] for d in warm),
        ingest_to_compacted_s=res.total[0],
    )
    t0 = time.perf_counter()
    _check_ingest(ctx, res, src_dir, rows_staged, [cold] + drains)
    log(f"checks {time.perf_counter() - t0:.2f}s")
    return res


def _drain(ctx, ks, rt, chunks, name, listener, traced=False) -> dict:
    base = ctx.scratch.fresh("ingest", name)
    out, ckpt = rt.checkpoint_dirs(base)
    compacted = os.path.join(base, "compacted")
    listener.reset()
    sc = ctx.spark.sparkContext
    with ctx.tracer.span("ingest"):
        t0 = time.perf_counter()
        with ctx.tracer.span("drain") as drain_span:
            rt.ingest_to_parquet(
                ks.parse_envelope(ks.kinesis_stream(ctx.spark, chunks,
                                                    files_per_trigger=ctx.cores)),
                out, ckpt, partition_granularity="month", coalesce_to=ctx.cores,
            )
            t1 = time.perf_counter()
        if traced:
            sc.setJobGroup("compact", "compact")
        with ctx.tracer.span("compact"):
            rt.compact_parquet(ctx.spark, out, compacted)
        t2 = time.perf_counter()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    # Progress events arrive asynchronously: read them only after the
    # listener has seen the query terminate.
    if not listener.terminated.wait(30):
        raise RuntimeError("streaming query terminated event not received")
    progress = list(listener.progress)
    if traced and drain_span is not None:
        _trigger_spans(ctx, drain_span, progress, t0)
    return {"out": out, "compacted": compacted, "progress": progress,
            "drain_s": t1 - t0, "compact_s": t2 - t1, "total_s": t2 - t0}


def _trigger_spans(ctx, drain_span, progress, t0) -> None:
    """Place each trigger and its phases on the drain's timeline. The
    trigger start comes from the progress report's wall-clock stamp;
    phases are laid end to end inside it in execution order."""
    offset = time.perf_counter() - time.time()
    for p in progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        start = max(ts + offset, t0)
        dur = p["duration_ms"]
        trig = ctx.tracer.add("trigger", start, start + dur.get("triggerExecution", 0) / 1e3,
                              parent=drain_span["id"])
        cur = start
        for ph in _PHASES:
            d = dur.get(ph, 0) / 1e3
            ctx.tracer.add(f"phase.{ph}", cur, cur + d, parent=trig)
            cur += d


def _ingest_layers(ctx, res, d, stage_s) -> None:
    layer = res.layer
    data = [p for p in d["progress"] if p["rows"]]
    rows = sum(p["rows"] for p in data)
    trig_ms = [p["duration_ms"]["triggerExecution"] for p in data]
    layer["kinesis_sim.stage_s"] = median(stage_s)
    layer["runtime.triggers"] = len(data)
    layer["runtime.rows_per_trigger"] = rows / len(data) if data else 0
    layer["runtime.rows_per_s"] = rows / d["drain_s"]
    layer["runtime.trigger_p50_ms"] = median(trig_ms) if trig_ms else 0
    layer["runtime.trigger_max_ms"] = max(trig_ms) if trig_ms else 0
    for ph in _PHASES:
        layer[f"runtime.{ph}_ms"] = sum(p["duration_ms"].get(ph, 0) for p in d["progress"])
    layer["runtime.files_landed"] = _count_parquet(d["out"])
    layer["runtime.compact_s"] = d["compact_s"]
    layer["runtime.files_compacted"] = _count_parquet(d["compacted"])
    comp = stage_totals(ctx.spark, "compact")
    for f in STAGE_FIELDS:
        layer[f"tables.{f}" if f == "scan_bytes" else f"spark.{f}"] += comp[f]
    if d["compact_s"] > 0:
        layer["spark.slot_idle_share"] = 1 - comp["exec_run_s"] / (d["compact_s"] * ctx.cores)


def _check_ingest(ctx, res, src_dir, rows_staged, drains) -> None:
    """Exactly once: rows landed (per the sink's manifest, read by Spark)
    = rows staged; and the compacted data, read back with pyarrow, has
    no duplicate event_id and the same order-insensitive digest as the
    backlog."""
    import pyarrow.dataset as ds

    src = ds.dataset(os.path.join(src_dir, "events.parquet")).to_table()
    want = _table_digest(src)
    for i, d in enumerate(drains):
        landed = ctx.spark.read.parquet(d["out"]).count()
        comp = ds.dataset(d["compacted"], format="parquet", partitioning="hive")
        comp = comp.to_table(columns=src.column_names).cast(src.schema)
        n, distinct = comp.num_rows, len(comp.column("event_id").unique())
        res.check(landed == rows_staged, f"drain {i}: landed {landed} != staged {rows_staged}")
        res.check(distinct == n, f"drain {i}: {n - distinct} duplicate event_id")
        res.check(_table_digest(comp) == want, f"drain {i}: compacted digest != backlog digest")


def _table_digest(tbl) -> tuple[int, int]:
    """(rows, sum of per-row hashes mod 2**64) of a pyarrow table."""
    import pandas as pd

    h = pd.util.hash_pandas_object(tbl.to_pandas(), index=False).to_numpy()
    return tbl.num_rows, int(h.sum(dtype="uint64"))


WORKLOADS = {"ingest": ingest, "query_warm": query_warm}
