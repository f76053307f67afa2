"""Self-test: exact counts repeat exactly across two runs.

    python3 perfbench/selftest.py [--seed N] [workload ...]

Runs ``run.py --trace 1`` twice per workload (all workloads by
default) with the same seed, and compares the counters that depend
only on the inputs (jobs, stages, tasks, shuffle bytes, triggers,
input rows, ``compat.map_pairs``, ...; ``layers.EXACT``) and the
result hash of every step. Exits 1 and names each difference if any
differ, or if a run fails a check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    """One traced run: (its result JSON, its step result hashes)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.splitlines()
    prefix = "# result hashes "
    hashes = json.loads(next(line[len(prefix):] for line in out if line.startswith(prefix)))
    return json.loads(out[-1]), hashes


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    from layers import EXACT
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    args = p.parse_args()

    bad = []
    for workload in args.workloads:
        (first, h1), (second, h2) = (traced_run(workload, args.seed) for _ in range(2))
        for result in (first, second):
            if not result["correct"]:
                bad.append(f"{workload}: a run failed {result['failed']} checks")
        for name in EXACT:
            a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
            if a != b:
                bad.append(f"{workload}: {name} {a} != {b}")
        if h1 != h2:
            bad.append(f"{workload}: result hashes {h1} != {h2}")
        print(f"{workload}: {len(EXACT)} counts and {len(h1)} result hashes compared")
    for line in bad:
        print("DIFFERS " + line)
    print("self-test " + ("FAILED" if bad else "passed"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
