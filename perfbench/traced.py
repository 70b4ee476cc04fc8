#!/usr/bin/env python3
"""The traced run: one workload run untraced and then traced, same
seed, and the tracing overhead between them.

    python3 perfbench/traced.py --workload serve_hot --seed 1

Each run measures for BENCHMARK.json's ``run_seconds``, as the
benchmark's own runs do.

Prints the traced run's self-time report and span coverage, every
per-layer metric, and the traced run's overhead as the relative change
of ``queries_per_ref_s`` and ``build_docs_per_ref_s`` against the
untraced run.  Run
from the root of a checkout, like run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(args, seconds: int, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    plain_notes, plain = one(args, seconds, 0)
    notes, traced = one(args, seconds, 1)
    for line in notes:
        print(line)
    # a busy host moves both runs more than tracing does; show it
    for line in plain_notes:
        if "steal" in line:
            print(line.replace("# steal", "# untraced run: steal"))
    print("# per-layer metrics")
    for k, v in traced["metrics"].items():
        print(f"#   {k:26s} {v['value']:12.4f} {v['unit']}")
    # the traced run reports only per-layer metrics; its end-to-end
    # numbers are on its '# traced e2e' line
    e2e = next((json.loads(n.split(" ", 3)[3]) for n in notes
                if n.startswith("# traced e2e ")), {})
    for name in ("queries_per_ref_s", "build_docs_per_ref_s"):
        a = plain["metrics"][name]["value"]
        b = e2e.get(name)
        if b is not None:
            print(f"# overhead {name}: untraced {a:.2f}, traced {b:.2f} "
                  f"({100 * (b - a) / a:+.1f}%)")
    ok = plain["failed"] == 0 and traced["failed"] == 0
    print(f"# failed operations: untraced {plain['failed']}/"
          f"{plain['attempted']}, traced {traced['failed']}/"
          f"{traced['attempted']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
