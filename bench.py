"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line as the final stdout line:
{"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
"n_queries": N, "queries": {...seconds of every query that succeeded...}}.
Since r17 the line carries every successful query's timing (compact
separators, ~6 KB) so the round driver can compute a real per-query
geomean; failed queries appear only in "failed"/"n_failed";
BENCH_DETAILS.json next to this file additionally records per-rep
samples and, under "profile", each successful query's record from
``hadoop_data_pipeline_spark.profile`` (its fastest rep).

Each query is forced end-to-end with the ``noop`` write format (full
computation, no driver-side collect) after a warm-up of the session.

Timing protocol (r13, after the r12 calib-stability finding): each
query runs ``SPARK_GRAFT_BENCH_REPS`` times back-to-back (default 2)
and records the MINIMUM — the second rep removes codegen-cache and
position cold-start, the single largest per-query noise source the
r10-r12 adjudications kept re-finding (2-6x swings on sub-second
queries). Two calibration families ride in the output:

* ``jvm_sec`` / ``py_sec`` — the historical single-thread micro
  loops, kept for cross-round continuity but KNOWN-BAD for
  normalization on this host (r12: four runs in 5 h, calib moved
  0.85 -> 0.31 while raw times moved the OPPOSITE way — a short
  single-thread loop does not see multi-core CPU steal).
* ``jvm_mc_sec`` / ``py_mc_sec`` — SUSTAINED MULTI-CORE calibs: a
  fixed 32-partition Spark hash-reduce (the shape catalog queries
  actually run) and an 8-process Python integer-hash loop. These see
  the same contention the timed queries see; ``tools/bench_compare.py``
  normalizes with ``jvm_mc_sec`` when both sides carry it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _calib_mc_worker(n: int) -> int:
    """Fixed FNV-1a integer loop for the multi-process calibration —
    module-level so multiprocessing can pickle it."""
    h = 0xCBF29CE484222325
    for i in range(n):
        h = ((h ^ i) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _calib_py_multicore(procs: int = 8, n: int = 2_000_000) -> float:
    """Wall time of ``procs`` concurrent fixed hash loops — sustained
    multi-core Python throughput (the GIL forces real processes)."""
    from multiprocessing import get_context

    t0 = time.perf_counter()
    with get_context("fork").Pool(procs) as pool:
        pool.map(_calib_mc_worker, [n] * procs)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hadoop_data_pipeline_spark.session import get_session
    from hadoop_data_pipeline_spark import queries_catalog
    from hadoop_data_pipeline_spark.profile import profile_catalog

    spark = get_session("bench")
    # Warm up the JVM / parquet footers so the first query doesn't pay
    # one-time session costs: one trivial job, then a schema-only read
    # of each fixture table (footer + filesystem metadata, no data
    # scan, no query pre-execution).
    spark.range(1000).selectExpr("sum(id)").collect()
    from hadoop_data_pipeline_spark.sources.readers import (
        TESTDATA_TABLES,
        load_table,
    )

    for t in TESTDATA_TABLES:
        try:
            # full noop write, not count(): count() over parquet plans
            # ReadSchema struct<> (row counts come from row-group
            # footers, no data pages touched), so it warms nothing.
            # The noop sink forces every column through the vectorized
            # reader — OS page cache + decoders genuinely warm, so the
            # first query to scan a table's DATA doesn't pay its disk
            # read (a cost that otherwise lands on whichever queries
            # sit early in catalog order; see BENCH_NOTES r9).
            load_table(spark, sf_dir, t).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 - missing optional table
            pass

    # Host-speed calibration: the same fixed JVM job and Python loop
    # every round, so per-query timings can be normalized against
    # noisy-neighbor / host-clock drift when comparing rounds (r6
    # observed the identical commit run 1.3-1.4x slower hours apart).
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(id * 2)").collect()
    calib_jvm = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    sum(i * i for i in range(5_000_000))
    calib_py = round(time.perf_counter() - t0, 3)
    # Sustained MULTI-CORE calibs (r13, see module docstring): a fixed
    # 32-partition hash-reduce saturating every executor thread — the
    # contention profile the timed queries actually run under — and an
    # 8-process Python hash loop. Calibration-of-the-calibration
    # (measured, BENCH_NOTES r13): a 256M-row probe's wall time swings
    # 2x WITHIN one session (scheduling jitter + steal bursts), which
    # is why r12-style single-shot calibs anti-correlated with real
    # throughput; at 1024M rows the MIN of repeated runs repeats
    # within ~±3% in-session. So: 1024M rows, best-of-4 min.
    calib_jvm_mc = None
    for _ in range(4):
        t0 = time.perf_counter()
        # pmod keeps the running sum bounded (ANSI mode would throw on
        # a raw sum of 1G signed-64 hashes); the hash dominates cost.
        spark.range(0, 1_024_000_000, 1, 32).selectExpr(
            "sum(pmod(xxhash64(id), 1000))"
        ).collect()
        dt = round(time.perf_counter() - t0, 3)
        calib_jvm_mc = dt if calib_jvm_mc is None else min(calib_jvm_mc, dt)
    try:
        calib_py_mc = min(_calib_py_multicore() for _ in range(3))
    except Exception:  # noqa: BLE001 - calib must never fail the bench
        calib_py_mc = -1.0

    # The catalog's only unpartitioned windows sit on provably bounded
    # post-aggregate frames (audited: monthly_revenue_moving_avg, ~84
    # month rows). Downgrade that one audited warning so a NEW
    # unpartitioned window on a row-level path — a real scale
    # regression — stands out in the bench tail instead of drowning.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
        # Audited false positive: the recursive-CTE (UnionLoop) path
        # materializes per-iteration RDDs behind LogicalRDD, whose
        # logical-vs-optimized output check compares attribute exprIds
        # and warns even when names and types are identical (the r5
        # bench tail printed two such warnings with IDENTICAL column
        # lists). Name/type equality for that path is pinned durably by
        # tests/test_plans.py::test_bom_checkpoint_schema_stable; a
        # REAL output-schema change still fails correctness gates.
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.LogicalRDD",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - log4j internals moved
        pass

    # Deeper warm-up, UNTIMED: one SYNTHETIC shuffle+window job and one
    # Arrow/pandas-UDF job, so the first TIMED query doesn't absorb
    # the Python-worker pool fork, Arrow init, shuffle/AQE spin-up and
    # codegen-cache misses. This cost is position-dependent: when the
    # r9 window rotation moved different queries into slot #1, the new
    # first query (pack_token_shards) showed 0.73->3.43 s while the
    # old slot-1 query dropped 1.79->0.61 s — same plans, different
    # seats. The warm jobs are synthetic (spark.range), NOT a catalog
    # query: pre-running a timed query verbatim would leave ITS codegen
    # and scan path warm and bias that one entry fast vs its peers.
    try:
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        base = spark.range(100_000).select(
            (_F.col("id") % 97).alias("k"), _F.col("id").alias("v")
        )
        (
            base.withColumn(
                "rn",
                _F.row_number().over(_W.partitionBy("k").orderBy("v")),
            )
            .groupBy("k")
            .agg(_F.sum("v").alias("s"), _F.max("rn").alias("m"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def __warm(s):
            return s

        spark.range(1000).select(__warm("id")).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:  # noqa: BLE001 - warm-up must never fail the bench
        pass

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # Fixed ALPHABETICAL execution order, independent of the driver
    # correctness window: _apply_driver_window() reorders QUERIES each
    # round, and r9 showed that whatever lands in the early slots
    # absorbs residual session warmup (position artifacts polluted
    # cross-round deltas for pack_token_shards / jsonl_roundtrip_docs).
    # A stable order makes BENCH_r{N} per-query timings comparable
    # across window rotations.
    # Best-of-N (default 2) with clearCache between reps, after a
    # clearCache + JVM GC per query (profile_catalog): rep 1 absorbs
    # codegen-cache misses; the MIN is the reproducible number (r12:
    # single-shot timings swung 2-6x on sub-second queries by seat).
    profiles, failed = profile_catalog(
        spark, sorted(queries_catalog.QUERIES), sf_dir, reps
    )
    # "queries" carries real timings only; a failed query is listed in
    # "failed"/"n_failed", never as a negative time.
    timings = {name: min(rec["secs"]) for name, rec in profiles.items()}
    rep_timings = {name: rec["secs"] for name, rec in profiles.items()}
    rep_timings.update({name: [] for name in failed})

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # r17 (VERDICT r16 item 2): the final line used to carry only the
    # 5 slowest per-query timings, which left the round driver's
    # per-query comparison with n_common = 0 and no geomean — real
    # regressions below the top-5 were invisible. It now carries ALL
    # per-query seconds (~6 KB compact JSON — measured well inside the
    # driver's stdout-tail capture, whose r16 tail kept ~1.5 KB of
    # warnings plus the line intact). Strictly ADDITIVE: every r16 key
    # (metric/value/unit/sf/n_queries/n_failed/sec_per_query/calib)
    # is unchanged and the 5 slowest are still a subset of "queries".
    details = {
        "metric": "catalog_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(rep_timings),
        "n_failed": len(failed),
        # catalog_total_runtime grows with catalog size; per-query mean
        # is the round-over-round comparable number.
        "sec_per_query": round(sum(timings.values()) / max(1, len(timings)), 3),
        "failed": failed,
        "calib": {
            "jvm_sec": calib_jvm,
            "py_sec": calib_py,
            "jvm_mc_sec": calib_jvm_mc,
            # workload identity for cross-file normalization: two
            # snapshots' jvm_mc_sec are comparable ONLY if they timed
            # the same probe (bench_compare checks this field).
            "jvm_mc_rows": 1_024_000_000,
            "py_mc_sec": calib_py_mc,
        },
        "reps": reps,
        "queries": timings,
        "rep_timings": rep_timings,
        "profile": profiles,
    }
    details_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAILS.json"
    )
    with open(details_path, "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True)
    result = {
        key: details[key]
        for key in ("metric", "value", "unit", "sf", "n_queries", "n_failed",
                    "sec_per_query", "calib", "queries")
    }
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
