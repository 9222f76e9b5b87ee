"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query_warm} \
        --seed N --seconds S --trace {0,1}

Runs one workload against the public entry points of ``khose_spark``
(``sources.kinesis_sim`` -> ``streaming.runtime`` for ingest,
``registry.QUERIES`` for queries) on ``local[nproc]`` with one client
thread, checks every output, and prints as its last stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import DRIVER_MEMORY, ROOT, WORK, Scratch, shutdown  # noqa: E402

# The fixtures are copies of the project's deterministic test tables
# (seed 42, see FIXTURES.md), kept under perfbench/data/ so a run reads
# nothing outside its checkout. Queries read sf0.01 (60k lineitem rows);
# the ingest backlog is 10x the sf0.1 events (1M rows).
DATA = os.path.join(HERE, "data")
QUERY_SCALE = "sf0.01"
EVENTS_SCALE = "sf0.1"


def load_expected(scale: str) -> dict:
    path = os.path.join(HERE, "expected", f"{scale}.json")
    with open(path) as f:
        return json.load(f)


def prepare_process() -> None:
    """Make ``khose_spark`` importable here and in Spark's Python
    workers, and size the local Spark driver for this host."""
    if not os.path.isdir(os.path.join(ROOT, "khose_spark")):
        raise SystemExit(f"perfbench: no khose_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["KHOSE_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("KHOSE_MASTER", None)


def host_info(seed: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "driver_memory": DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def run(args, scale: str = QUERY_SCALE, events_scale: str = EVENTS_SCALE):
    """Run one workload with the query tables of ``scale`` and the
    ingest backlog built from the events of ``events_scale``; returns
    (result, context, scratch dir)."""
    prepare_process()
    from workloads import WORKLOADS, Context

    expected = load_expected(scale)
    sf_dir = os.path.join(DATA, scale)
    events_dir = os.path.join(DATA, events_scale)
    for d in (sf_dir, events_dir):
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: fixture dir {d} missing")
    scratch = Scratch(args.workload)
    scratch.enter()
    ctx = Context(args, scratch, sf_dir, events_dir, expected)
    ctx.rss.start()
    try:
        res = WORKLOADS[args.workload](ctx)
        ctx.measured()
    finally:
        try:
            ctx.rss.stop()
            if ctx.spark is not None:
                shutdown(ctx.spark)
        finally:
            scratch.close()
    return res, ctx, scratch


def end_to_end(ctx, res) -> dict[str, float]:
    from harness import median

    return {
        "setup_s": ctx.boot_s + median(res.setup),
        "cold_s": median(res.cold),
        "total_s": median(res.total),
        "step_p50_s": median(res.steps),
        "settled_rss_mb": ctx.rss.settled_mb,
    }


def per_layer(ctx, res, scratch) -> dict[str, float]:
    from workloads import PER_LAYER

    layer = dict(res.layer)
    layer["session.start_s"] = ctx.boot_s
    layer["process.peak_rss_mb"] = ctx.rss.peak_mb
    layer["trace.spans"] = len(ctx.tracer.spans)
    layer["scratch.used_bytes"] = scratch.bytes_used
    layer["scratch.left_bytes"] = scratch.bytes_left
    return {n: float(layer.get(n, 0.0)) for n in PER_LAYER}


def payload(res, values: dict[str, float]) -> dict:
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": unit(n)} for n, v in values.items()},
    }


def write_trace(args, ctx, res) -> None:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "run": ctx.tracer.run_id,
                "self_s": ctx.tracer.self_times(),
                "overhead_s": res.layer.get("trace.overhead_s", 0.0),
                "report": res.report,
                "spans": ctx.tracer.spans,
            },
            f,
            default=str,
        )
    print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "share"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def summary_lines(args, res, payload, host, scratch) -> list[str]:
    """Human-readable lines printed before the result: the workload's
    end-to-end metrics under their per-workload names, the verdict and
    the host."""
    from harness import quantile

    m = {k: v["value"] for k, v in payload["metrics"].items()}
    lines = [f"# host {json.dumps(host)}"]
    if not args.trace:
        p90 = quantile(res.steps, 0.9)
        named = {
            "ingest": {"ingest_to_compacted_s": m["total_s"],
                       "ingest_rows_per_s": res.report.get("ingest_rows_per_s"),
                       "cold_ingest_to_compacted_s": m["cold_s"],
                       "trigger_p50_s": m["step_p50_s"], "trigger_p90_s": p90,
                       "triggers": len(res.steps)},
            "query_warm": {"query_total_s": m["total_s"],
                              "query_key_p50_s": m["step_p50_s"],
                              "query_key_p90_s": p90, "keys": len(res.steps),
                              "cold_first_pass_s": m["cold_s"]},
        }[args.workload]
        lines.append(f"# {args.workload} {json.dumps(named)} report {json.dumps(res.report)}")
    share = res.failed / res.attempted if res.attempted else 1.0
    verdict = "correct" if payload["correct"] else "INCORRECT"
    lines.append(f"# {args.workload}: {verdict}, failed_share={share:.4f} "
                 f"({res.failed}/{res.attempted})")
    lines += [f"# failed: {f}" for f in res.failures]
    lines.append(f"# scratch: {scratch.bytes_used} bytes used, {scratch.bytes_left} left")
    return lines


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "query_warm"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    # Fix string hashing so set/dict iteration order, and with it any
    # plan built by iterating one, is the same in every run.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    args = parse_args(argv)
    res, ctx, scratch = run(args)
    if args.trace:
        out = payload(res, per_layer(ctx, res, scratch))
        write_trace(args, ctx, res)
    else:
        out = payload(res, end_to_end(ctx, res))
    print("\n".join(summary_lines(args, res, out, host_info(args.seed), scratch)))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
