"""Self-check of the benchmark on the tiny fixture scale.

    python3 perfbench/selfcheck.py

Runs every workload once, traced, on the sf0.001 tables (queries and
the ingest backlog alike) with a one-second measuring window, and asserts for each that:

- every end-to-end and per-layer metric of BENCHMARK.json is emitted,
  with the unit BENCHMARK.json gives it;
- no output check failed (failed_share is 0) and at least one ran;
- the summed self times of the run's spans do not exceed the wall
  time of its workload span.

Exits 0 when all hold, 1 otherwise. Takes a few minutes: most of a run
is Spark start-up and the cold pass, which do not shrink with the data.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SCALE = "sf0.001"


def check_workload(name: str, bench: dict) -> list[str]:
    args = run.parse_args(["--workload", name, "--seed", "1", "--seconds", "1",
                           "--trace", "1"])
    res, ctx, scratch = run.run(args, scale=SCALE, events_scale=SCALE)
    problems = []
    for section, values in (
        ("end_to_end", run.end_to_end(ctx, res)),
        ("per_layer", run.per_layer(ctx, res, scratch)),
    ):
        emitted = run.payload(res, values)["metrics"]
        for m in bench[section]:
            got = emitted.get(m["name"])
            if got is None:
                problems.append(f"{name}: {m['name']} not emitted")
            elif got["unit"] != m["unit"]:
                problems.append(f"{name}: {m['name']} unit {got['unit']} != {m['unit']}")
    if res.attempted == 0 or res.failed:
        problems.append(f"{name}: failed {res.failed}/{res.attempted}: {res.failures}")
    root = next(s for s in ctx.tracer.spans if s["name"].startswith("workload:"))
    wall = root["end"] - root["start"]
    self_sum = sum(ctx.tracer.self_times().values())
    if self_sum > wall + 1e-6:
        problems.append(f"{name}: span self times {self_sum:.3f}s > wall {wall:.3f}s")
    print(f"# {name}: {len(ctx.tracer.spans)} spans, self {self_sum:.2f}s / wall "
          f"{wall:.2f}s, checks {res.attempted - res.failed}/{res.attempted}")
    return problems


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        problems += check_workload(w["name"], bench)
    for p in problems:
        print(f"FAIL {p}")
    print("selfcheck ok" if not problems else f"selfcheck: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
