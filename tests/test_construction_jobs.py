"""Construction-layer Spark jobs: work a catalog query runs while its
DataFrame is still being built, before any action.

Covers the per-file parquet schema memo in ``sources.readers.load_table``
(a warm load fires no job and still follows file rewrites, the
TIMESTAMP(NANOS) path and Spark-written directories) and pins every
catalog query's construction jobs to ``CONSTRUCTION_BUDGETS``.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_data_pipeline_spark import queries_catalog as qc
from hadoop_data_pipeline_spark.profile import profile
from hadoop_data_pipeline_spark.sources.readers import (
    _SCHEMAS,
    TESTDATA_TABLES,
    load_table,
)
from tests.conftest import SF_SMALL
from tools.oracle_check import compare

#: Spark jobs a catalog query may fire while it is being built, with
#: the ``load_table`` schema memo warm, measured at sf0.001 on local[4].
#: Every query not listed must build with 0 jobs. Each pin carries the
#: reason the eager work is intentional (the SCAN_BUDGETS idiom of
#: ``tools/scan_audit.py``).
CONSTRUCTION_BUDGETS: dict[str, int] = {
    # recursive CTE iterations materialized by localCheckpoint(eager=True)
    "bom_rollup_recursive": 18,
    # per-epoch weight deltas collected to the driver (learn.py)
    "quality_perceptron_doc_scores": 15,
    "quality_perceptron_weights": 15,
    # MinHash edge probe + connected-components convergence counts
    "clean_corpus": 11,
    "prepare_training_shards": 11,  # consumes clean_corpus survivors
    "dedup_clusters_minhash": 9,  # connected-components loop
    # edge-cache fill doubling as the 1-row node-count collect
    "pagerank_part_supplier": 7,
    # k-means centroid sample fit on the driver + cluster probes
    "semantic_dedup_embeddings": 7,
    # benchmark-side postings-count guard before the broadcast join
    "benchmark_contamination": 4,
    "decontaminate_corpus": 4,
    # oversized-block guard + IVF centroid training sample
    "hard_negative_pairs_embeddings": 4,
    "embedding_near_dup_pairs": 3,
    # word-table size probe + bounded collect for driver-side merges
    "bpe_tokenize_docs": 2,
    # each writes the file it then reads back
    "csv_roundtrip_events_props": 1,
    "jsonl_roundtrip_docs": 1,
    "orc_roundtrip_docs": 1,
    "xml_roundtrip_docs": 1,
}


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it fired."""
    built = []
    rec = profile(spark, fn, action=built.append)
    return built[0], rec["build_jobs"]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_warm_load_fires_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", None]}),
                   tmp_path / "t.parquet")
    cold, cold_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    warm, warm_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert cold_jobs >= 1
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert _rows(warm) == _rows(cold) == [(1, "a"), (2, "b"), (3, None)]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [10.5, 20.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert _rows(df) == [(1, 10.5), (2, 20.5)]
    assert len(_SCHEMAS[os.path.realpath(path)][1]) == 2


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}),
                   tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, prev)


def test_nanos_timestamp_cold_and_warm(spark, tmp_path):
    # whole microseconds, stored as parquet TIMESTAMP(NANOS)
    ns = [1_700_000_000_123_456_000, 1_700_000_100_000_001_000]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "id": [1, 2]}),
        tmp_path / "ev.parquet",
    )
    assert pq.read_schema(tmp_path / "ev.parquet").field("ts").type.unit == "ns"
    cold = load_table(spark, str(tmp_path), "ev")
    warm, warm_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "ev"))
    assert warm_jobs == 0
    assert dict(cold.dtypes)["ts"] == dict(warm.dtypes)["ts"] == "timestamp"
    assert _rows(warm) == _rows(cold)
    micros = sorted(
        r[0] for r in warm.selectExpr("unix_micros(ts)").collect()
    )
    assert micros == [n // 1000 for n in ns]


def test_spark_written_directory_sees_appended_part(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").count() == 3
    spark.range(3, 5).write.mode("append").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    assert os.path.realpath(path) not in _SCHEMAS


def test_pagerank_on_empty_input(spark, tmp_path):
    src = pq.read_table(os.path.join(SF_SMALL, "lineitem.parquet"))
    pq.write_table(src.slice(0, 0), tmp_path / "lineitem.parquet")
    spark.catalog.clearCache()
    out = qc.pagerank_part_supplier(spark, str(tmp_path))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    got = out.toPandas()
    assert list(got.columns) == ["node_id", "node_type", "rank_scaled"]
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
        )
        want = con.execute(qc.ORACLES["pagerank_part_supplier"]).df()
    assert len(want) == 0
    assert compare(got, want, strict=True) == []


def test_query_construction_job_budget(spark):
    assert set(CONSTRUCTION_BUDGETS) <= set(qc.QUERIES)
    for name in TESTDATA_TABLES:
        load_table(spark, SF_SMALL, name)
    over = []
    for name, fn in sorted(qc.QUERIES.items()):
        _, n = _jobs(spark, lambda: fn(spark, SF_SMALL))
        spark.catalog.clearCache()
        cap = CONSTRUCTION_BUDGETS.get(name, 0)
        if n > cap:
            over.append(f"{name}: {n} construction jobs > budget {cap}")
    assert not over, over
