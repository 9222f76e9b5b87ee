"""Regenerate the benchmark's expected outputs for one fixture scale.

    python3 perfbench/make_expected.py [scale]   # default: run.QUERY_SCALE

Runs every benchmarked key in two fresh Spark applications and records
its row count and order-insensitive digest in
``perfbench/expected/<scale>.json`` (scale: a directory of
``perfbench/data``, e.g. ``sf0.01``). A key is declared rows-only when
the registry gives it no oracle (approximate/streaming operators) or
when its digest differs between the two applications; the reason is
recorded next to it. Only rerun this when a key's output is meant to
change, and say why in CHANGES.md.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from harness import Scratch, digest, shutdown, start_application  # noqa: E402


def main() -> None:
    scale = sys.argv[1] if len(sys.argv) > 1 else run.QUERY_SCALE
    run.prepare_process()
    from workloads import load_keys

    from khose_spark import registry

    sf_dir = os.path.join(run.DATA, scale)
    lists = load_keys()
    keys = sorted(set(lists["warm_keys"]) | {k for _, f in lists["cold_families"] for k in f})
    scratch = Scratch("expected")
    scratch.enter()
    spark = None
    seen: list[dict] = []
    try:
        for _ in range(2):
            spark = start_application(spark)
            registry.load_all()
            seen.append({k: digest(registry.QUERIES[k](spark, sf_dir)) for k in keys})
    finally:
        if spark is not None:
            shutdown(spark)
        scratch.close()
    out = {}
    for k in keys:
        (rows, dig), (rows2, dig2) = seen[0][k], seen[1][k]
        if rows != rows2:
            raise SystemExit(f"{k}: row count differs between applications")
        entry = {"rows": rows, "digest": dig}
        if k not in registry.ORACLES:
            entry.update(rows_only=True, reason="registered without an oracle")
        elif dig != dig2:
            entry.update(rows_only=True, reason="digest differs between applications")
        out[k] = entry
    path = os.path.join(HERE, "expected", f"{scale}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} keys to {os.path.relpath(path, run.ROOT)}")


if __name__ == "__main__":
    main()
