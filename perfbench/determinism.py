"""Counter-determinism check: two traced runs of one workload and seed
must give identical Spark counters per query, year or request template.

    python3 perfbench/determinism.py WORKLOAD [--seed N] [--seconds S] [--keep DIR]

Run it from the repository root. Compares job, stage and task counts and
byte counters (times are not compared). Prints each run's result line,
then every difference, and exits 1 if any is found outside
``EXCEPTIONS``. ``--keep DIR`` keeps the two runs' per-op dumps there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

COUNTERS = ("build_jobs", "load_table_jobs", "jobs", "stages", "tasks",
            "shuffle_bytes", "scan_bytes", "spill_bytes", "python_bytes",
            "read_year_jobs", "quality_jobs", "atomic_jobs", "atomic_bytes",
            "versioning_jobs", "year_jobs")

#: (workload, counter) pairs allowed to differ between runs, with why.
EXCEPTIONS: dict[tuple[str, str], str] = {}


def traced(workload: str, seed: int, seconds: float, dump: str) -> str:
    """One traced run; returns its result line."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
           "--dump", dump]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return out.strip().splitlines()[-1]


def summarize(records: dict) -> dict:
    """key -> counter -> the distinct values seen over that key's ops
    (a run may time more passes than the other, so not a count)."""
    return {
        key: {c: sorted({r[c] for r in recs if c in r}) for c in COUNTERS
              if any(c in r for r in recs)}
        for key, recs in records.items()
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--keep", default=None)
    args = ap.parse_args()
    runs = []
    with tempfile.TemporaryDirectory(dir=".", prefix=".bench_det-") as tmp:
        out = args.keep or tmp
        os.makedirs(out, exist_ok=True)
        for i in range(2):
            path = os.path.join(out, f"{args.workload}-run{i}.json")
            print(f"run{i}", traced(args.workload, args.seed, args.seconds, path), flush=True)
            with open(path) as fh:
                runs.append(summarize(json.load(fh)))
    a, b = runs
    diffs, allowed = [], []
    for key in sorted(set(a) | set(b)):
        for c in sorted(set(a.get(key, {})) | set(b.get(key, {}))):
            va, vb = a.get(key, {}).get(c), b.get(key, {}).get(c)
            if va != vb:
                line = f"{key} {c}: {va} vs {vb}"
                (allowed if (args.workload, c) in EXCEPTIONS else diffs).append(line)
    for line in allowed:
        print("allowed", line)
    for line in diffs:
        print("DIFF", line)
    print(f"{args.workload}: {len(a)} keys, {len(diffs)} differences, "
          f"{len(allowed)} allowed")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
