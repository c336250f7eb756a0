"""Calib-normalized per-query bench comparison — one-command drift
triage (r11 verdict stretch #8).

The r10/r11 seat-noise adjudications ("did clean_corpus really
regress, or is this seat 34% slower?") were done by hand in
BENCH_NOTES.md. This tool does the arithmetic: it loads two
BENCH_DETAILS.json snapshots (paths or git revisions), divides every
per-query time by its snapshot's own JVM calibration (bench.py's
fixed-work probe, the committed seat-speed anchor), and prints the
normalized new/old ratio per query — a ratio well above 1 on a
calib-normalized axis is a real regression, not a slow seat.

Usage:
    python tools/bench_compare.py [OLD] [NEW]

OLD / NEW are either JSON file paths or git revisions (anything
``git show REV:BENCH_DETAILS.json`` accepts). Defaults: OLD = HEAD's
committed BENCH_DETAILS.json, NEW = the working-tree file.

Output: summary line (median / p90 normalized ratio, queries over the
1.3 drift threshold) + a table of the flagged queries and the 5
biggest improvements.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIFT = 1.3  # normalized new/old ratio above this = flag
MIN_SEC = 0.3  # ignore sub-noise-floor queries (plan-constant trivia)


def load(spec: str) -> dict:
    if os.path.exists(spec):
        with open(spec) as fh:
            snap = json.load(fh)
    else:
        out = subprocess.run(
            ["git", "show", f"{spec}:BENCH_DETAILS.json"],
            cwd=REPO,
            capture_output=True,
            text=True,
        )
        if out.returncode != 0:
            raise SystemExit(f"cannot load {spec!r}: {out.stderr.strip()}")
        snap = json.loads(out.stdout)
    # Accept the driver's BENCH_r{N}.json wrapper too (the natural
    # thing to feed this tool — r13 verdict nit): the bench line
    # lives under "parsed". The caveat: driver snapshots are
    # SINGLE-REP timings on the driver's seat, so cross-shape
    # comparisons are directional; BENCH_DETAILS.json (min-of-2, this
    # seat) remains the precise anchor.
    if "parsed" in snap and "queries" not in snap:
        snap = snap["parsed"]
        print(
            "NOTE: unwrapped a BENCH_r{N}.json driver snapshot "
            "(single-rep timings; treat ratios as directional)"
        )
    if "queries" not in snap or "calib" not in snap:
        raise SystemExit(
            f"{spec!r} is not a bench snapshot: expected BENCH_DETAILS.json "
            "shape (queries + calib) or a BENCH_r{N}.json driver wrapper "
            "(parsed.queries + parsed.calib)"
        )
    return snap


def choose_calib(old: dict, new: dict) -> str:
    """The calibration both snapshots can be normalized by.

    Prefer the sustained multi-core calib (r13, bench.py docstring):
    the single-thread jvm_sec microbench anti-correlated with real
    throughput under this host's CPU-steal pattern (r12 finding —
    calib 0.85 -> 0.31 while raw times moved the opposite way). Only
    when BOTH snapshots carry jvm_mc_sec, measured on the same probe
    workload, is it used, so comparisons against pre-r13 snapshots
    stay possible (flagged as weak)."""
    if (
        old.get("calib", {}).get("jvm_mc_sec")
        and new.get("calib", {}).get("jvm_mc_sec")
        # same probe workload on both sides, else the division is
        # systematically scaled by the workload change
        and old["calib"].get("jvm_mc_rows") == new["calib"].get("jvm_mc_rows")
    ):
        return "jvm_mc_sec"
    print(
        "WARNING: falling back to single-thread jvm_sec calib "
        "(one snapshot predates jvm_mc_sec) — cross-session "
        "normalized ratios are DIRECTIONAL ONLY on this host "
        "(BENCH_NOTES r12 calib-stability finding)"
    )
    return "jvm_sec"


def main() -> int:
    old_spec = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    new_spec = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "BENCH_DETAILS.json")
    )
    old, new = load(old_spec), load(new_spec)
    calib_key = choose_calib(old, new)
    c_old = float(old["calib"][calib_key])
    c_new = float(new["calib"][calib_key])
    shared = sorted(set(old["queries"]) & set(new["queries"]))
    only_old = set(old["queries"]) - set(new["queries"])
    only_new = set(new["queries"]) - set(old["queries"])

    rows = []
    for name in shared:
        t_old, t_new = old["queries"][name], new["queries"][name]
        if max(t_old, t_new) < MIN_SEC:
            continue
        raw = t_new / t_old
        norm = (t_new / c_new) / (t_old / c_old)
        rows.append((max(raw, norm), raw, norm, name, t_old, t_new))
    rows.sort(reverse=True)
    raws = sorted(r[1] for r in rows)
    norms = sorted(r[2] for r in rows)
    # A REAL regression survives seat correction in BOTH views; pure
    # seat drift inflates exactly one of them (r13 same-code A/B
    # evidence, BENCH_NOTES: raw min-of-2 ratios agree across calm
    # sessions while a point-sampled calib over-corrects). Flag only
    # when raw AND normalized both exceed the bar AND the absolute
    # delta is material (same-code A/B showed sub-second entries
    # jitter to ~1.4x raw on min-of-2; a real regression that matters
    # moves real seconds).
    flagged = [
        r for r in rows if min(r[1], r[2]) > DRIFT and r[5] - r[4] >= 0.3
    ]
    print(
        f"calib {calib_key}: {c_old:.3f} -> {c_new:.3f} "
        f"(seat {'slower' if c_new > c_old else 'faster'} x"
        f"{c_new / c_old:.2f}); {len(rows)} comparable queries "
        f"(>={MIN_SEC}s), median raw ratio "
        f"{statistics.median(raws):.3f} (p90 {raws[int(0.9 * (len(raws) - 1))]:.3f}), "
        f"median normalized {statistics.median(norms):.3f} "
        f"(p90 {norms[int(0.9 * (len(norms) - 1))]:.3f}); "
        f"{len(flagged)} over the {DRIFT} bar in BOTH views"
    )
    if only_old or only_new:
        print(f"only-old: {sorted(only_old)}  only-new: {sorted(only_new)}")
    if flagged:
        print("\n| query | old (s) | new (s) | raw | normalized |")
        print("|---|---|---|---|---|")
        for _, raw, norm, name, t_old, t_new in flagged:
            print(
                f"| `{name}` | {t_old:.2f} | {t_new:.2f} "
                f"| {raw:.2f} | {norm:.2f} |"
            )
    best = rows[-5:]
    print("\nbiggest improvements (worst-view ratio):")
    for worst, raw, norm, name, t_old, t_new in reversed(best):
        print(f"  {name}: {t_old:.2f}s -> {t_new:.2f}s (x{worst:.2f})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
