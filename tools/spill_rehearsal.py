"""Spill-path rehearsal: run the heaviest shuffle/aggregate catalog
queries in a deliberately memory-starved session, PROVE that Tungsten
actually spilled (spill_bytes > 0 in the query's profile,
``hadoop_data_pipeline_spark.profile``), and assert the results still
hash-match the DuckDB oracle (r14 verdict next #1).

Why this exists: at 128 GiB local the catalog never spills
(METRICS.json is all zeros), so "degrades gracefully under memory
pressure instead of OOMing or corrupting" was the one 100 TB behavior
with no evidence. At 1000 executors reading 100 TB, spills are
routine — a sort that silently drops rows when its buffer wraps to
disk, or an ObjectHashAggregate whose sort-based fallback merges
partial aggregates wrong, is exactly the class of bug that only shows
up there. This tool makes the spill path a tested path.

Two modes:

* ``--mode force`` (default, deterministic, CI-able): set Spark's
  documented spill thresholds to tiny values so every sort / window /
  sort-merge-join buffer and ObjectHashAggregate falls over to disk
  after a few thousand rows regardless of seat memory
  (``spark.shuffle.spill.numElementsForceSpillThreshold`` et al.,
  plus ``spark.memory.fraction`` squeezed). Same operators, same
  data, same plans — only the external-sorter branch is exercised.
* ``--mode pressure``: no force thresholds — a genuinely small heap
  (``SPARK_GRAFT_DRIVER_MEM``, default 2g here vs the standard 8g)
  and ``spark.memory.fraction=0.15``, so spills arise from real
  memory-manager pressure. Which queries spill depends on the seat;
  correctness is still asserted for all of them.

Every query's result is compared STRICT against its DuckDB oracle at
the same sf_dir — identical machinery to the driver-gate mirror
(tools/oracle_check.py). Exit 0 requires all-MATCH, and in force mode
also total spill > 0 across the set (a rehearsal that never spilled
rehearsed nothing).

Writes a ledger (default ``SPILL.json``) with per-query spill /
shuffle bytes and match status; SCALE.md cites the committed run.

Usage:
    python tools/spill_rehearsal.py [sf_dir] [--mode force|pressure]
                                    [--out SPILL.json] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: The heaviest shuffle/aggregate/sort entries at sf0.1 (BENCH_r14
#: top timings + the banded pair families + every operator family
#: with a sort/window/object-hash-aggregate in its plan), i.e. the
#: queries whose 100 TB incarnations WILL spill.
DEFAULT_QUERIES = (
    "ngram_jaccard_pairs_lang",
    "near_dup_pairs_minhash",
    "dedup_clusters_minhash",
    "simhash_near_dup_pairs",
    "image_near_dup_phash",
    "video_scene_near_dup",
    "audio_fingerprint_near_dup",
    "hard_negative_pairs_embeddings",
    "benchmark_contamination",
    "prepare_training_shards",
    "substring_scrub_docs",
    "user_event_gap_stats",
    "session_window_user_stats",
    "monotonic_violations_user_value",
    "median_price_by_segment",
    "sole_failing_supplier",
    "table_diff_orders_drift",
    "pagerank_part_supplier",
)

#: Documented spill/fallback thresholds, forced tiny. These flip the
#: SAME code paths genuine pressure flips (UnsafeExternalSorter spill,
#: ExternalAppendOnlyUnsafeRowArray disk fallback, ObjectHashAggregate
#: sort-based fallback) — deterministically, so the gate can rely on
#: spill_bytes > 0 every run.
FORCE_CONF = {
    "spark.shuffle.spill.numElementsForceSpillThreshold": "4096",
    "spark.sql.windowExec.buffer.spill.threshold": "4096",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "4096",
    "spark.sql.cartesianProductExec.buffer.spill.threshold": "4096",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "128",
    "spark.memory.fraction": "0.3",
}

#: Pressure mode: ~170 MiB execution+storage pool ((2g - 300m) x 0.1)
#: shared by 8 task threads — the per-reducer memory a 100 TB shuffle
#: partition actually sees, so Tungsten must spill for real (measured:
#: the sort-based ObjectHashAggregate fallback alone does NOT write
#: disk under forced thresholds — numElementsForceSpillThreshold is
#: not honored on that path in Spark 4.1 (32 fallback tasks, 0 spill
#: bytes on a 2M-row synthetic) — genuine allocation failure is the
#: only trigger, hence this mode).
PRESSURE_CONF = {
    "spark.memory.fraction": "0.1",
}
PRESSURE_DRIVER_MEM = "2g"
PRESSURE_CPUS = "8"

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("targets", nargs="*", default=[],
                    help="[sf_dir] [query ...] — first arg that is a "
                         "directory selects the fixture dir")
    ap.add_argument("--mode", choices=("force", "pressure"),
                    default="force")
    ap.add_argument("--out", default=None,
                    help="ledger path (default SPILL.json at repo root)")
    # positionals may interleave with the optionals
    # ("sf_dir --mode force q1 q2" is a natural call shape)
    args = ap.parse_intermixed_args()
    args.sf_dir = "/root/testdata/sf0.1"
    args.queries = list(args.targets)
    if args.queries and os.path.isdir(args.queries[0]):
        args.sf_dir = args.queries.pop(0)

    # Heap + core count must be pinned BEFORE the JVM launches;
    # get_session reads these env vars when it creates the first
    # context (fewer cores = bigger per-task slices of real data, the
    # 100 TB reducer shape, and a heap the 32-thread default would
    # simply OOM).
    if args.mode == "pressure":
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", PRESSURE_DRIVER_MEM)
        os.environ.setdefault("SPARK_GRAFT_CPUS", PRESSURE_CPUS)
    conf = dict(FORCE_CONF if args.mode == "force" else PRESSURE_CONF)

    import duckdb

    import __spark_entry__ as e
    from hadoop_data_pipeline_spark.profile import profile
    from hadoop_data_pipeline_spark.session import get_session
    from tools.oracle_check import TABLES, compare

    spark = get_session(f"spill_rehearsal_{args.mode}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    qs, oracles = e.queries(), e.oracle_sql()

    names = list(args.queries) or [
        q for q in DEFAULT_QUERIES if q in qs
    ]
    ledger: dict[str, dict] = {}
    failed: list[str] = []
    for name in names:
        spark.catalog.clearCache()
        pdfs = []
        try:
            rec = profile(spark, lambda: qs[name](spark, args.sf_dir),
                          action=lambda df: pdfs.append(df.toPandas()))
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised "
                  f"{type(ex).__name__}: {str(ex)[:200]}")
            failed.append(name)
            continue
        pdf = pdfs[0]
        mets = {k: rec[k] for k in ("spill_bytes", "shuffle_bytes",
                                    "scan_bytes", "fallback_tasks")}
        if name in oracles:
            ddf = con.execute(oracles[name]).df()
            problems = compare(pdf, ddf, strict=True)
        else:
            problems = []  # rows-only entries: execution itself is the check
        status = "MATCH" if not problems else "FAIL"
        if problems:
            failed.append(name)
        ledger[name] = {
            "rows": len(pdf),
            "match": not problems,
            **mets,
        }
        print(
            f"{status} {name}: rows={len(pdf)} "
            f"spill={mets['spill_bytes']} "
            f"fallback_tasks={mets['fallback_tasks']} "
            f"shuffle={mets['shuffle_bytes']}"
            + ("; " + "; ".join(problems[:2]) if problems else "")
        )

    total_spill = sum(r["spill_bytes"] for r in ledger.values())
    n_spilled = sum(1 for r in ledger.values() if r["spill_bytes"] > 0)
    n_fallback = sum(1 for r in ledger.values() if r["fallback_tasks"] > 0)
    print(
        f"{len(ledger) - len([n for n in failed if n in ledger])}"
        f"/{len(names)} match; {n_spilled}/{len(ledger)} spilled, "
        f"{n_fallback}/{len(ledger)} hit agg fallback; "
        f"total spill {total_spill / 1024**2:.1f} MiB ({args.mode} mode)"
    )
    out_path = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"SPILL_{args.mode}.json",
    )
    payload = {
        "mode": args.mode,
        "sf_dir": args.sf_dir,
        "conf": conf,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "n_spilled": n_spilled,
        "n_fallback": n_fallback,
        "total_spill_bytes": total_spill,
        "queries": ledger,
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")

    if failed:
        return 1
    if total_spill == 0 and n_fallback == 0:
        print(f"{args.mode} mode produced ZERO spill and ZERO fallback "
              "— rehearsal did not exercise the degraded paths",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
