"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-selective --seed 1 --seconds 15 --trace 0

Runs one seeded workload against the engine's public API from the root
of a checkout, checks every output against an independent BM25 oracle
and prints, as the last stdout line, one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before
it describes the workload. Files go under ``.perfbench-work/``.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# every run must end well inside the 180 s a run is allowed
DEADLINE_S = 170


def _timeout(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve-selective", "serve-broad"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import run

    result = run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
