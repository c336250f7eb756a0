"""Profile catalog queries: one record per query from
``hadoop_data_pipeline_spark.profile``.

Usage:
    python tools/profile_queries.py [QUERY ...] [--reps N]
                                    [--old OLD --new NEW]

Tables come from ``$SPARK_GRAFT_SF_DIR`` (default sf0.1, as in
bench.py). Each query runs under bench.py's protocol in one warm
session and keeps its fastest of ``--reps`` runs.

* Named queries: print each query's record.
* ``--old/--new`` (bench snapshots, as tools/bench_compare.py reads
  them): scale each named query's old reading to the new seat by the
  calibration ratio bench_compare chooses and compare the warm best
  with it: ``IMPROVED`` below 1/NOISE_BAND, ``NOISE`` up to
  NOISE_BAND, ``REGRESSION`` above. The warm loop removes first-run
  codegen, JIT and page-cache cost (2-6x on sub-second queries).
* No names: profile every catalog query and write METRICS.json with
  each query's counters; exit 1 on any query error or coverage gap.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.bench_compare import choose_calib, load  # noqa: E402

NOISE_BAND = 1.33  # the documented same-day seat swing (BENCH_NOTES)

#: The counters of a record, committed in METRICS.json (its seconds vary
#: from run to run).
COUNTERS = ("build_jobs", "jobs", "stages", "tasks", "shuffle_bytes",
            "spill_bytes", "scan_bytes", "python_bytes", "fallback_tasks")


def verdict(best: float, t_old: float, seat: float) -> str:
    r = best / (t_old * seat)
    word = ("IMPROVED" if r < 1 / NOISE_BAND
            else "NOISE" if r <= NOISE_BAND else "REGRESSION")
    return f"old={t_old:.3f} warm/old={r:.2f} -> {word}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--old", help="baseline bench snapshot")
    ap.add_argument("--new", help="flagged bench snapshot")
    args = ap.parse_args()
    if bool(args.old) != bool(args.new):
        ap.error("--old and --new go together")

    from hadoop_data_pipeline_spark import queries_catalog as qc
    from hadoop_data_pipeline_spark.profile import profile_catalog
    from hadoop_data_pipeline_spark.session import get_session

    seat = old = None
    if args.old:
        old, new = load(args.old), load(args.new)
        key = choose_calib(old, new)
        seat = new["calib"][key] / old["calib"][key]
        print(f"seat ratio (new/old {key}): {seat:.3f}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("profile_queries")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    names = args.queries or list(qc.QUERIES)
    records, failed = profile_catalog(spark, names, sf_dir, args.reps)
    for name, rec in records.items():
        line = f"{name} {json.dumps(rec, sort_keys=True)}"
        if old and name in old["queries"]:
            line += " " + verdict(min(rec["secs"]), old["queries"][name], seat)
        print(line)
    if args.queries:
        return 1 if failed else 0

    path = os.path.join(REPO, "METRICS.json")
    with open(path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "queries": {
            name: {k: rec[k] for k in COUNTERS}
            for name, rec in records.items()
        }}, fh, indent=1, sort_keys=True)
    spilled = sorted(n for n, r in records.items() if r["spill_bytes"])
    print(f"wrote {path}: {len(records)}/{len(qc.QUERIES)} queries, "
          f"{len(spilled)} with spill"
          + (f" ({', '.join(spilled)})" if spilled else ""))
    # Full-catalog runs must cover every registered query: a new entry
    # with no committed metrics escapes the zero-spill audit. Spills at
    # standard memory are reported, not failed: tools/spill_rehearsal.py
    # owns that behaviour.
    if len(records) != len(qc.QUERIES):
        print(f"coverage gap: measured {len(records)} of "
              f"{len(qc.QUERIES)} registered queries", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
