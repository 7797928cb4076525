#!/usr/bin/env python3
"""Counter determinism and tracing overhead for one workload and seed.

    python3 perfbench/consistency.py --workload dashboard --seed 1 [--ops 7]

Runs ``run.py`` three times with a fixed op count: traced, untraced,
traced (the untraced run in the middle, so a drift in the machine's speed
over the three runs does not read as tracing overhead). Prints one JSON
object with every counter (jobs, stages and tasks per op, spans per name,
store files and bytes) that differs between the two traced runs, and the
tracing overhead: the traced ``ops_per_s`` against the untraced one.
Exits 1 when a counter differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload: str, seed: int, ops: int, trace: int) -> dict:
    with tempfile.TemporaryDirectory(dir=".") as tmp:
        out = subprocess.run(
            [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
             "--seconds", "0", "--ops", str(ops), "--trace", str(trace),
             "--trace-out", os.path.join(tmp, "trace.json")],
            check=True, capture_output=True, text=True,
        ).stdout.splitlines()
    return json.loads(out[-2])["record"]


def diff(a, b, path=""):
    """Paths whose values differ between two nested dicts."""
    if isinstance(a, dict) and isinstance(b, dict):
        out = []
        for k in sorted(set(a) | set(b)):
            out += diff(a.get(k), b.get(k), f"{path}/{k}")
        return out
    return [] if a == b else [f"{path}: {a} != {b}"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=None,
                    help="ops per run (default: one dashboard rotation, two ingest cycles)")
    args = ap.parse_args()
    ops = args.ops or {"dashboard": 7, "ingest": 2}[args.workload]

    first = run(args.workload, args.seed, ops, 1)
    plain = run(args.workload, args.seed, ops, 0)
    second = run(args.workload, args.seed, ops, 1)
    differing = diff(first["counters"], second["counters"])
    untraced = plain["end_to_end"]["ops_per_s"]["value"]
    traced = [r["end_to_end"]["ops_per_s"]["value"] for r in (first, second)]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "ops": ops,
        "counters_differing": differing,
        "counters": first["counters"],
        "ops_per_s": {"untraced": untraced, "traced": traced},
        "tracing_overhead": 1 - sum(traced) / len(traced) / untraced,
    }))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
