"""Measurement plumbing shared by the workloads: run-scoped scratch
state, the Spark application lifecycle, process-tree RSS sampling,
order-insensitive result digests, spans, Spark status-store reads and
the outside-in layer instruments used by traced runs.

Everything here observes ``khose_spark`` through its public module
attributes; nothing in the program is edited.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"# [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(base, f)).st_size
    return total


class Scratch:
    """A fresh per-run directory that holds every file the run writes:
    TMPDIR (index builds ``mkdtemp`` there), SPARK_LOCAL_DIRS, the JVM's
    java.io.tmpdir, the working directory (spark-warehouse, metastore)
    and all staging/sink/checkpoint dirs. Removed by ``close``."""

    def __init__(self, name: str):
        runs = os.path.join(WORK, "runs")
        self.path = os.path.join(runs, f"{name}-{os.getpid()}")
        # Remove what a killed earlier run left behind.
        for d in os.listdir(runs) if os.path.isdir(runs) else ():
            pid = d.rsplit("-", 1)[-1]
            alive = pid.isdigit() and os.path.exists(f"/proc/{pid}")
            if not alive or d == os.path.basename(self.path):
                shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")
        self.cwd = self.sub("cwd")
        self.bytes_used = 0
        self.bytes_left = 0

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, *parts: str) -> str:
        """A path under the scratch dir that does not exist yet."""
        p = os.path.join(self.path, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def enter(self) -> None:
        import tempfile

        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # spark-submit first runs a small launcher JVM; keep it out of /tmp too.
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        os.chdir(self.cwd)

    def close(self) -> None:
        os.chdir(ROOT)
        self.bytes_used = dir_bytes(self.path)
        shutil.rmtree(self.path, ignore_errors=True)
        self.bytes_left = dir_bytes(self.path) if os.path.exists(self.path) else 0


class RssSampler(threading.Thread):
    """Resident memory of the program's processes: the driver JVM this
    process launched and everything below it (the Python workers).
    This process itself is left out, because the benchmark's own input
    generation and output checks run in it. Each process counts its
    proportional set size (Pss), so pages shared between processes — a
    forked worker, or a child in the middle of being spawned by the
    JVM — are counted once, not once per process.

    Sampled every ``interval`` seconds for the peak until ``settle``,
    which also takes the settled figure (see there)."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self.settled_mb = None
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @classmethod
    def tree_mb(cls, root_pid: int) -> float:
        """Summed Pss of the descendants of ``root_pid``."""
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(d))
        total, todo = 0, list(children.get(root_pid, ()))
        while todo:
            pid = todo.pop()
            total += cls._pss_kb(pid)
            todo.extend(children.get(pid, ()))
        return total / 1024.0

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self.tree_mb(pid))
            self._stop_evt.wait(self.interval)

    def settle(self, spark) -> None:
        """End peak sampling and take the settled figure: resident memory
        after a full GC of the driver JVM, i.e. what the session retains
        (memos, indexes, cached blocks, loaded code, idle Python workers)
        without whatever garbage is on the heap at that moment. G1 hands
        freed heap back to the OS on a full GC, so the figure does not
        depend on how far GC timing let the heap grow. Idempotent."""
        if self.settled_mb is not None:
            return
        self.stop()
        for _ in range(2):
            spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        self.settled_mb = self.tree_mb(os.getpid())

    def stop(self) -> None:
        self._stop_evt.set()
        if self.is_alive():
            self.join(timeout=5)


def start_application(spark=None):
    """Start a fresh Spark application (new applicationId) in this
    process's JVM, stopping the previous one first. The first call also
    launches the JVM."""
    from khose_spark.session import get_spark

    if spark is not None:
        spark.stop()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the application and the JVM behind it, and wait for the JVM
    process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - JVM did not exit in time
            proc.kill()
            proc.wait(timeout=10)


def _row_hash(df):
    """A per-row hash over every cell of ``df``. Floating cells are
    canonicalised to 12 significant digits, the precision the parity
    harness compares at, so summation-order noise in the last bits does
    not read as a different result."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cells = []
    for field in df.schema.fields:
        c = F.col(f"`{field.name}`")
        if isinstance(field.dataType, (T.FloatType, T.DoubleType, T.DecimalType)):
            d = c.cast("double")
            cell = F.when(F.isnan(d), F.lit("NaN")).otherwise(
                F.format_string("%.12g", F.when(d == 0, F.lit(0.0)).otherwise(d))
            )
        elif isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cell = F.to_json(c)
        else:
            cell = c.cast("string")
        cells.append(F.coalesce(cell, F.lit("\u0000")))
    if not cells:
        return F.lit(0).cast("decimal(38,0)")
    return F.xxhash64(F.concat_ws("\u001f", *cells)).cast("decimal(38,0)")


def _fold(hash_sum) -> str:
    return str(int(hash_sum or 0) % (1 << 64))


def digest(df) -> tuple[int, str]:
    """(row count, order-insensitive digest: the summed row hashes) of a
    relation."""
    from pyspark.sql import functions as F

    row = df.select(_row_hash(df).alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), _fold(row["s"])


def digests(dfs: dict) -> dict:
    """``digest`` of every relation in ``dfs`` (name -> relation), in one
    Spark job over their union."""
    from functools import reduce

    from pyspark.sql import functions as F

    names = list(dfs)
    parts = [dfs[n].select(F.lit(i).alias("k"), _row_hash(dfs[n]).alias("h"))
             for i, n in enumerate(names)]
    rows = reduce(lambda a, b: a.unionAll(b), parts).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).collect()
    got = {r["k"]: (int(r["n"]), _fold(r["s"])) for r in rows}
    return {n: got.get(i, (0, _fold(0))) for i, n in enumerate(names)}


class Tracer:
    """In-memory spans: name, start, end, parent, run id. ``span`` nests
    under the innermost open span; ``add`` records a span measured
    elsewhere (listener triggers and their phases)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.perf_counter(), None)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def add(self, name, start, end, parent=None) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id}
        )
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        children (children clipped to the parent's interval)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            ivs = sorted(
                (max(lo, c["start"]), min(hi, c["end"]))
                for c in kids[s["id"]]
                if c["end"] is not None and c["end"] > lo and c["start"] < hi
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in ivs:
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"].split(":")[0]] += (hi - lo) - covered
        return dict(out)


STAGE_FIELDS = (
    "exec_cpu_s", "exec_run_s", "gc_s", "tasks", "scan_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def stage_totals(spark, group: str) -> dict[str, float]:
    """Summed stage metrics of every job run under job group ``group``,
    read from the in-process status store (works with the UI off)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    tot["jobs"] = float(len(job_ids))
    seen = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped (reused shuffle output)
                continue
            tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
            tot["exec_run_s"] += st.executorRunTime() / 1e3
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["tasks"] += st.numCompleteTasks()
            tot["scan_bytes"] += st.inputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
    return tot


class _CountingCache(dict):
    """A memo/index cache dict that counts lookups that found an entry
    (``get`` is how every consumer probes its cache). Lookups made by
    ``memo.release`` itself (``counts["releasing"]`` > 0) are evictions,
    not consumers, and are not counted."""

    def __init__(self, counts: dict, label: str, *a):
        super().__init__(*a)
        self._counts = counts
        self._label = label

    def get(self, key, default=None):
        hit = super().get(key, default)
        if hit is not None and not self._counts["releasing"]:
            self._counts["hits"][self._label] += 1
        return hit


MEMO_CACHES = (
    ("khose_spark.operators.llm", "_DOC_SHINGLE_CACHE"),
    ("khose_spark.operators.dedup_audit", "_SIG_CACHE"),
    ("khose_spark.operators.graph", "_TRADE_EDGES_CACHE"),
    ("khose_spark.operators.graph", "_PAIR_STATS_CACHE"),
    ("khose_spark.operators.graph", "_BACKBONE_CACHE"),
)
INDEX_BUILDERS = (
    ("khose_spark.operators.similarity", "build_pq_index", "_PQ_INDEX_CACHE"),
    ("khose_spark.operators.similarity_fixedk", "build_pq_index_fixedk", "_PQF_INDEX_CACHE"),
    ("khose_spark.operators.similarity_fixedk", "build_ivfpq_index_fixedk", "_IVFPQ_INDEX_CACHE"),
)


class Instruments:
    """Outside-in wrappers for the memo and index layers: ``memo.put``
    and ``memo.release``, the three ANN index builders, and counting
    replacements of the eight cache dicts (to count reuse). Installed
    only for traced passes; ``uninstall`` restores every attribute."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.counts = {"hits": defaultdict(int), "builds": defaultdict(int), "releasing": 0}
        self.memo_build_s = 0.0
        self.memo_pinned_bytes = 0
        self.memo_releases = 0
        self.index_build_s = 0.0
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, mod, attr, value) -> None:
        self._saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, value)

    def install(self) -> None:
        import importlib

        from khose_spark import memo

        for mod_name, attr in MEMO_CACHES:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, _CountingCache(self.counts, attr, getattr(mod, attr)))
        orig_put, orig_release = memo.put, memo.release

        def put(spark, cache, key, build):
            label = next(
                (a for m, a in MEMO_CACHES
                 if getattr(importlib.import_module(m), a) is cache),
                "unknown",
            )
            with self.tracer.span(f"memo.put:{label}"):
                t0 = time.perf_counter()
                df = orig_put(spark, cache, key, build)
                self.memo_build_s += time.perf_counter() - t0
            self.counts["builds"][label] += 1
            self.memo_pinned_bytes += self._pinned_bytes(spark, cache, key)
            return df

        def release(cache, key):
            if key in cache:
                self.memo_releases += 1
            self.counts["releasing"] += 1
            try:
                return orig_release(cache, key)
            finally:
                self.counts["releasing"] -= 1

        self._patch(memo, "put", put)
        self._patch(memo, "release", release)
        for mod_name, fn_name, cache_attr in INDEX_BUILDERS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, cache_attr, _CountingCache(
                self.counts, cache_attr, getattr(mod, cache_attr)))
            self._patch(mod, fn_name, self._wrap_builder(mod, fn_name, cache_attr))

    def _wrap_builder(self, mod, fn_name, cache_attr):
        orig = getattr(mod, fn_name)

        def wrapped(spark, sf_dir):
            key = (spark.sparkContext.applicationId, sf_dir)
            if dict.__contains__(getattr(mod, cache_attr), key):
                return orig(spark, sf_dir)
            with self.tracer.span(f"index.build:{fn_name}"):
                t0 = time.perf_counter()
                out = orig(spark, sf_dir)
                self.index_build_s += time.perf_counter() - t0
            self.counts["builds"][cache_attr] += 1
            return out

        return wrapped

    @staticmethod
    def _pinned_bytes(spark, cache, key) -> int:
        from khose_spark import memo

        ids = set()
        for h in memo._RDD_HANDLES.get((id(cache), key), []):
            with contextlib.suppress(Exception):
                ids.add(h.id())
        if not ids:
            return 0
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos if i.id() in ids)

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, value = self._saved.pop()
            setattr(mod, attr, value)

    def memo_builds(self) -> int:
        return sum(self.counts["builds"][a] for _, a in MEMO_CACHES)

    def index_builds(self) -> int:
        return sum(self.counts["builds"][c] for _, _, c in INDEX_BUILDERS)

    def consumers_per_build(self) -> float:
        """Lookups served per build across the five memo caches: each
        build plus each later hit is one consumer of a shared build."""
        builds = self.memo_builds()
        hits = sum(self.counts["hits"][a] for _, a in MEMO_CACHES)
        return (builds + hits) / builds if builds else 0.0


def progress_listener():
    """A StreamingQueryListener that keeps every progress report and
    signals when the query terminates (reports arrive asynchronously)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "batch": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

        def reset(self) -> None:
            self.progress = []
            self.terminated.clear()

    return _Listener()
