"""The query profiler (``hadoop_data_pipeline_spark.profile``): counters
repeat run to run, count only the stages that ran, and split
construction jobs from action jobs."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_data_pipeline_spark import queries_catalog as qc
from hadoop_data_pipeline_spark.profile import profile, profile_catalog
from hadoop_data_pipeline_spark.sources.readers import TESTDATA_TABLES, load_table
from tests.conftest import SF_SMALL

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "scan_bytes")


def _query(spark, name):
    spark.catalog.clearCache()
    return profile(spark, lambda: qc.QUERIES[name](spark, SF_SMALL))


def test_back_to_back_counters_are_identical(spark):
    first = _query(spark, "dedup_exact_docs")
    second = _query(spark, "dedup_exact_docs")
    assert first["stages"] > 1 and first["shuffle_bytes"] > 0
    assert first["scan_bytes"] > 0
    assert {k: first[k] for k in COUNTERS} == {k: second[k] for k in COUNTERS}


def test_skipped_stages_do_not_count(spark):
    # Each aggregate's shuffle-map stage runs in its own AQE job; the
    # final join job lists both again, but they are skipped there.
    def build():
        a = spark.range(0, 20000, 1, 4).groupBy(
            (F.col("id") % 50).alias("k")).agg(F.count("*").alias("c"))
        b = spark.range(0, 20000, 1, 4).groupBy(
            (F.col("id") % 70).alias("k")).agg(F.sum("id").alias("s"))
        return a.join(b, "k")

    rec = profile(spark, build)
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (4, 4, 10)
    # the two skipped stages still took stage ids
    ids = rec["stage_ids"]
    assert len(ids) == 4 and ids[-1] - ids[0] + 1 == 6


def test_construction_jobs_are_split_from_action_jobs(spark):
    for table in TESTDATA_TABLES:
        load_table(spark, SF_SMALL, table)  # warm the schema memo
    assert _query(spark, "pagerank_part_supplier")["build_jobs"] > 0
    rec = _query(spark, "dedup_exact_docs")
    assert rec["build_jobs"] == 0 and rec["jobs"] > 0


def test_catalog_failure_is_listed_not_timed(spark):
    names = ["dedup_exact_docs", "no_such_query"]
    records, failed = profile_catalog(spark, names, SF_SMALL, reps=2)
    assert failed == ["no_such_query"] and list(records) == names[:1]
    rec = records["dedup_exact_docs"]
    assert len(rec["secs"]) == 2
    assert min(rec["secs"]) == round(rec["build_s"] + rec["wall_s"], 3)
