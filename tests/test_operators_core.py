"""Unit tests for the core operator library (SURVEY.md §2.4-2.7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_data_pipeline_spark.operators import queries as Q
from hadoop_data_pipeline_spark.operators import reshape


def test_latest_per_group_window_vs_join(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, 10.0),
            ("a", 2, 20.0),
            ("a", 3, 30.0),
            ("b", 1, 5.0),
            ("b", 2, 7.0),
        ],
        "k string, t int, v double",
    )
    win = Q.latest_per_group(df, ["k"], "t").orderBy("k").collect()
    assert [(r.k, r.t, r.v) for r in win] == [("a", 3, 30.0), ("b", 2, 7.0)]
    jn = Q.latest_per_group_join(df, ["k"], "t").orderBy("k").collect()
    assert [(r.k, r.t, r.v) for r in jn] == [("a", 3, 30.0), ("b", 2, 7.0)]


def test_latest_per_group_tie_breaker(spark):
    df = spark.createDataFrame(
        [("a", 1, 1, "first"), ("a", 1, 2, "second")], "k string, t int, id int, tag string"
    )
    got = Q.latest_per_group(df, ["k"], "t", tie_breakers=["id"]).collect()
    assert len(got) == 1 and got[0].tag == "second"


def test_unpivot_pivot_roundtrip(spark):
    wide = spark.createDataFrame(
        [("2024-01", "budget", 10.0, 20.0), ("2024-02", "spent", 1.0, None)],
        "date string, details string, fund_a double, fund_b double",
    )
    long_df = reshape.unpivot(wide, ids=["date", "details"])
    rows = {(r.date, r.details, r.category): r.amount for r in long_df.collect()}
    assert rows[("2024-01", "budget", "fund_a")] == 10.0
    # null amount dropped, as the reference does post-stack
    assert ("2024-02", "spent", "fund_b") not in rows
    assert long_df.columns == ["date", "details", "category", "amount"]

    back = reshape.pivot(
        long_df, ids=["date", "details"], values=["fund_a", "fund_b"]
    )
    b = {(r.date, r.details): (r.fund_a, r.fund_b) for r in back.collect()}
    assert b[("2024-01", "budget")] == (10.0, 20.0)
    assert b[("2024-02", "spent")] == (1.0, None)


def test_horizontal_sum_with_nulls(spark):
    df = spark.createDataFrame([(1.0, None, 2.0), (None, None, None)], "a double, b double, c double")
    out = Q.horizontal_sum(df, ["a", "b", "c"]).collect()
    assert [r.computed_sum for r in out] == [3.0, 0.0]


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [("u", 1, None), ("u", 2, 5.0), ("u", 3, None), ("u", 4, None), ("v", 1, None)],
        "k string, t int, v double",
    )
    out = Q.forward_fill(df, "v", order_cols=["t"], partition_cols=["k"])
    got = {(r.k, r.t): r.v for r in out.collect()}
    assert got == {("u", 1): None, ("u", 2): 5.0, ("u", 3): 5.0, ("u", 4): 5.0, ("v", 1): None}


def test_monotonic_violations(spark):
    df = spark.createDataFrame(
        [("k", 1, 100.0), ("k", 2, 90.0), ("k", 3, 95.0), ("k", 4, 95.0)],
        "g string, o int, v double",
    )
    bad = Q.monotonic_violations(df, "v", "o", ["g"]).collect()
    assert len(bad) == 1 and bad[0].o == 3 and bad[0].prev_value == 90.0
    bad_inc = Q.monotonic_violations(df, "v", "o", ["g"], direction="non_decreasing").collect()
    assert len(bad_inc) == 1 and bad_inc[0].o == 2


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)] + [("b", 0, 9.0)], "k string, id int, v double"
    )
    out = Q.top_k_per_group(df, ["k"], "v", k=2, tie_breakers=["id"])
    got = sorted([(r.k, r.v) for r in out.collect()])
    assert got == [("a", 3.0), ("a", 4.0), ("b", 9.0)]


def test_filtered_sum_and_grouped_max(spark):
    df = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("y", 10.0)], "k string, v double"
    )
    s = Q.filtered_sum(df, F.col("k") == "x", "v").collect()[0]
    assert s.sum_v == 3.0
    m = {r.k: r.max_v for r in Q.grouped_max(df, ["k"], "v").collect()}
    assert m == {"x": 2.0, "y": 10.0}


# Canonical post-load_table dtypes for every driver fixture table.
# This is the fixture-type CONTRACT: when the driver regenerates the
# parquet with different physical types (it has: TIMESTAMP(NANOS) ->
# timestamp_ntz between rounds 3 and 4), this one test fails loudly
# instead of six scattered consumers (unix_micros, withWatermark, ...).
FIXTURE_SCHEMA_CONTRACT = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderdate": "timestamp", "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    },
}


def test_fixture_schema_contract(spark):
    from hadoop_data_pipeline_spark.sources.readers import (
        TESTDATA_TABLES,
        load_table,
    )

    assert set(TESTDATA_TABLES) == set(FIXTURE_SCHEMA_CONTRACT)
    for name in TESTDATA_TABLES:
        df = load_table(spark, "/root/testdata/sf0.001", name)
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert got == FIXTURE_SCHEMA_CONTRACT[name], f"{name} drifted: {got}"


def test_latest_per_group_agg_matches_window(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, 10, 10.0),
            ("a", 3, 11, 30.0),
            ("a", 3, 12, 31.0),  # tie on t -> id 12 wins
            ("b", 2, 13, 7.0),
        ],
        "k string, t int, id int, v double",
    )
    agg = Q.latest_per_group_agg(
        df, ["k"], "t", payload_cols=["v"], tie_breakers=["id"]
    )
    got = {(r.k, r.t, r.v) for r in agg.collect()}
    assert got == {("a", 3, 31.0), ("b", 2, 7.0)}
    win = Q.latest_per_group(df, ["k"], "t", tie_breakers=["id"]).select(
        "k", "t", "v"
    )
    assert got == {(r.k, r.t, r.v) for r in win.collect()}


def test_python_datasource_jsonl_roundtrip(spark, tmp_path):
    # Spark 4 Python DataSource: one planned partition per file,
    # executor-side parsing, schema-first.
    import json

    from hadoop_data_pipeline_spark.sources.pydatasource import (
        register_python_sources,
    )

    rows = [
        {"id": i, "name": f"n{i}", "score": i / 2}
        for i in range(20)
    ]
    for part in range(4):
        with open(tmp_path / f"feed_{part}.jsonl", "w") as fh:
            for rec in rows[part * 5:(part + 1) * 5]:
                fh.write(json.dumps(rec) + "\n")

    register_python_sources(spark)
    df = (
        spark.read.format("jsonl_files")
        .option("path", str(tmp_path / "*.jsonl"))
        .load()
    )
    # file-level parallelism: 4 files -> 4 planned partitions
    assert df.rdd.getNumPartitions() == 4
    got = {(r.id, r.name, r.score) for r in df.collect()}
    assert got == {(r["id"], r["name"], r["score"]) for r in rows}
    # aggregates run distributed over the custom source
    assert df.agg(F.sum("id")).collect()[0][0] == sum(range(20))


def test_python_datasource_jsonl_write_commit_protocol(spark, tmp_path):
    # Spark 4 Python DataSource WRITER: task temp files + driver
    # commit rename + manifest-last — the atomic.py swap discipline at
    # the task level.
    import json

    from hadoop_data_pipeline_spark.sources.pydatasource import (
        register_python_sources,
    )

    register_python_sources(spark)
    out = tmp_path / "sink"
    df = spark.range(0, 40).selectExpr(
        "id", "concat('n', id) AS name", "id / 4.0 AS score"
    ).repartition(3)
    df.write.format("jsonl_files").mode("append").option(
        "path", str(out)
    ).save()

    manifest = json.loads((out / "_MANIFEST.json").read_text())
    assert manifest["n_rows"] == 40
    parts = sorted(p.name for p in out.glob("part-*.jsonl"))
    assert parts == sorted(m["file"] for m in manifest["files"])
    # no stray temp files survive a successful commit
    assert not list(out.glob(".tmp-*"))

    # round-trip through the reader side of the same source
    back = (
        spark.read.format("jsonl_files")
        .option("path", str(out / "*.jsonl"))
        .load()
    )
    assert back.count() == 40
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(40))

    # a second append must EXTEND, not clobber: numbering continues
    # past the committed parts and the manifest covers both writes
    spark.range(100, 110).selectExpr(
        "id", "concat('y', id) AS name", "CAST(id AS DOUBLE) AS score"
    ).coalesce(1).write.format("jsonl_files").mode("append").option(
        "path", str(out)
    ).save()
    manifest_b = json.loads((out / "_MANIFEST.json").read_text())
    assert manifest_b["n_rows"] == 50
    back2 = (
        spark.read.format("jsonl_files")
        .option("path", str(out / "*.jsonl"))
        .load()
    )
    assert back2.count() == 50

    # overwrite replaces committed parts and rewrites the manifest —
    # and it must use FRESH names numbered past the old parts, never
    # renaming onto an existing committed name (a crash between the
    # rename and the manifest swap would otherwise tear the old state)
    old_parts = {p.name for p in out.glob("part-*.jsonl")}
    spark.range(0, 7).selectExpr(
        "id", "concat('m', id) AS name", "id * 1.0 AS score"
    ).coalesce(1).write.format("jsonl_files").mode("overwrite").option(
        "path", str(out)
    ).save()
    manifest2 = json.loads((out / "_MANIFEST.json").read_text())
    assert manifest2["n_rows"] == 7
    assert len(list(out.glob("part-*.jsonl"))) == len(manifest2["files"])
    assert not old_parts & {m["file"] for m in manifest2["files"]}


def test_python_datasource_numbering_survives_six_digit_parts(spark, tmp_path):
    # part indices are parsed numerically, not by a 5-char slice: an
    # append after part-100000 must continue at 100001, not collide.
    import json

    from hadoop_data_pipeline_spark.sources.pydatasource import (
        register_python_sources,
    )

    register_python_sources(spark)
    out = tmp_path / "sink6"
    out.mkdir()
    (out / "part-100000.jsonl").write_text(
        json.dumps({"id": 1, "name": "old", "score": 1.0}) + "\n"
    )
    (out / "_MANIFEST.json").write_text(
        json.dumps({"files": [{"file": "part-100000.jsonl", "rows": 1}],
                    "n_rows": 1})
    )
    spark.range(2, 4).selectExpr(
        "id", "concat('n', id) AS name", "id * 1.0 AS score"
    ).coalesce(1).write.format("jsonl_files").mode("append").option(
        "path", str(out)
    ).save()
    manifest = json.loads((out / "_MANIFEST.json").read_text())
    names = sorted(m["file"] for m in manifest["files"])
    assert names == ["part-100000.jsonl", "part-100001.jsonl"]
    assert (out / "part-100000.jsonl").read_text().startswith('{"id": 1')


def test_python_datasource_jsonl_abort_leaves_no_visible_output(spark, tmp_path):
    # If any task fails, the driver calls abort: no part files and no
    # manifest may appear — the write is invisible until commit.
    import pytest as _pytest

    from hadoop_data_pipeline_spark.sources.pydatasource import (
        register_python_sources,
    )

    register_python_sources(spark)
    out = tmp_path / "sink_abort"
    df = spark.range(0, 10).selectExpr(
        "id",
        "concat('x', id) AS name",
        "CASE WHEN id = 7 THEN raise_error('poison row') "
        "ELSE 'ok' END AS score_s",
    ).selectExpr("id", "name", "CAST(length(score_s) AS DOUBLE) AS score")
    with _pytest.raises(Exception):
        df.coalesce(2).write.format("jsonl_files").mode("append").option(
            "path", str(out)
        ).save()
    assert not (out / "_MANIFEST.json").exists()
    assert not list(out.glob("part-*.jsonl"))


def test_profile_table_approx_single_pass(spark):
    # the 100 TB profile path: HLL distincts, no Expand in the plan,
    # one scan; counts stay within HLL tolerance of the exact path.
    from hadoop_data_pipeline_spark import quality

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    approx = quality.profile_table(
        li, ["l_quantity"], ["l_returnflag"], exact_distinct=False
    )
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    rows = {r["column"]: r for r in approx.collect()}
    exact = {
        r["column"]: r
        for r in quality.profile_table(
            li, ["l_quantity"], ["l_returnflag"], exact_distinct=True
        ).collect()
    }
    for c in rows:
        e, a = exact[c]["n_distinct"], rows[c]["n_distinct"]
        assert abs(a - e) <= max(5, 0.1 * e)
        assert rows[c]["n_rows"] == exact[c]["n_rows"]


def test_profile_table_null_and_empty_edges(spark):
    # all-null column, empty frame: metric columns must stay typed
    # and null rather than raising or coercing.
    from hadoop_data_pipeline_spark import quality

    df = spark.createDataFrame(
        [(None, "a"), (None, None), (None, "b")],
        "x double, s string",
    )
    rows = {r["column"]: r for r in quality.profile_table(
        df, ["x"], ["s"]
    ).collect()}
    assert rows["x"]["n_nulls"] == 3 and rows["x"]["n_distinct"] == 0
    assert rows["x"]["min_num"] is None and rows["x"]["max_num"] is None
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "b"

    empty = df.where("1 = 0")
    erows = {r["column"]: r for r in quality.profile_table(
        empty, ["x"], ["s"]
    ).collect()}
    assert erows["x"]["n_rows"] == 0 and erows["x"]["n_distinct"] == 0


def test_format_roundtrips_hostile_content(spark, tmp_path):
    # write_format/read_orc/read_jsonl/read_csv must be LOSSLESS for
    # hostile string content: embedded quotes, commas, braces,
    # backslashes, unicode, empty strings and NULLs.  CSV embedded
    # NEWLINES additionally need multiLine=true on the read side —
    # exercised here so the option-path is pinned (the catalog
    # roundtrip queries cover newline-free fixture content).
    from hadoop_data_pipeline_spark.sources.readers import (
        read_csv,
        read_jsonl,
        read_orc,
        read_xml,
        write_format,
    )

    rows = [
        (1, 'he said "hi, there"'),
        (2, "brace {a:1}, backslash \\ pipe |"),
        (3, "newline\nin the middle"),
        (4, ""),
        (5, None),
        (6, "ünïcode ✓ ไทย"),
        (7, "<tag>&amp; raw & angle</tag>"),
    ]
    schema = "id bigint, s string"
    df = spark.createDataFrame(rows, schema)
    expect = sorted(rows)

    orc_path = str(tmp_path / "orc")
    write_format(df, orc_path, "orc")
    got = sorted((r.id, r.s) for r in read_orc(spark, orc_path).collect())
    assert got == expect

    json_path = str(tmp_path / "json")
    write_format(df, json_path, "json")
    got = sorted(
        (r.id, r.s) for r in read_jsonl(spark, json_path, schema).collect()
    )
    assert got == expect

    # XML (Spark 4 built-in source): entity-escaping must make markup
    # characters, pre-escaped entities, newlines, unicode — and even
    # the NULL vs empty-string distinction (omitted element vs empty
    # element) — roundtrip losslessly.
    xml_path = str(tmp_path / "xml")
    write_format(df, xml_path, "xml")
    got = sorted(
        (r.id, r.s) for r in read_xml(spark, xml_path, schema).collect()
    )
    assert got == expect

    csv_path = str(tmp_path / "csv")
    write_format(df, csv_path, "csv")
    got = sorted(
        (r.id, r.s)
        for r in read_csv(
            spark, csv_path, schema=schema, escape='"', multiLine="true"
        ).collect()
    )
    # CSV cannot distinguish NULL from empty string without a quoted
    # emptyValue convention; Spark reads both back as NULL.  That is
    # the documented CSV limitation — assert it explicitly instead of
    # papering over it.
    expect_csv = [(i, None if s == "" else s) for i, s in expect]
    assert got == expect_csv


def test_read_parquet_evolved_unifies_schema_versions(spark, tmp_path):
    # Schema evolution: files written months apart with added columns
    # must read as ONE frame — union schema, NULLs where a file
    # predates a column, and types preserved per column.
    from hadoop_data_pipeline_spark.sources.readers import (
        read_parquet_evolved,
    )

    v1 = spark.createDataFrame([(1, "a")], "id bigint, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    )
    v1.write.parquet(str(tmp_path / "t" / "v1"))
    v2.write.parquet(str(tmp_path / "t" / "v2"))

    df = read_parquet_evolved(
        spark, [str(tmp_path / "t" / "v1"), str(tmp_path / "t" / "v2")]
    )
    assert sorted(df.columns) == ["id", "name", "score"]
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # plain read_parquet of the same files would pick ONE footer and
    # silently drop (or never see) the evolved column — assert the
    # difference so the reader choice stays deliberate.
    plain = spark.read.parquet(str(tmp_path / "t" / "v1"))
    assert "score" not in plain.columns


def test_debounce_flags_gap_semantics(spark):
    # Strict-> boundary: a row exactly gap_seconds after its
    # predecessor is still a duplicate; the comparison is against the
    # PREVIOUS ROW (kept or not), which equals keep-first-per-session.
    from datetime import datetime

    t0 = datetime(2024, 1, 1)

    def at(s):
        return datetime.fromtimestamp(t0.timestamp() + s)

    df = spark.createDataFrame(
        [
            (1, 10, "click", at(0)),      # kept (first)
            (2, 10, "click", at(100)),    # dup: 100s after
            (3, 10, "click", at(3700)),   # dup: exactly 3600s after #2
            (4, 10, "click", at(7500)),   # kept: 3800s after #3
            (5, 10, "view", at(50)),      # kept (different key)
            (6, 11, "click", at(60)),     # kept (different key)
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        r.event_id: r.kept
        for r in Q.debounce_flags(
            df, ["user_id", "event_type"], gap_seconds=3600
        ).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: True, 5: True, 6: True}


def test_planned_scan_partition_estimate_matches_probe(spark):
    """_planned_scan_partitions must agree with the authoritative
    (and ~100x more expensive) df.rdd probe for local parquet scans —
    including a filtered/projected frame — and decline (None) for
    in-memory relations so scatter_small_scan falls back."""
    from hadoop_data_pipeline_spark.sources.readers import load_table

    for t in ("lineitem", "documents", "nation"):
        df = load_table(spark, "/root/testdata/sf0.001", t)
        est = Q._planned_scan_partitions(df)
        assert est == df.rdd.getNumPartitions(), t
    filt = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    assert Q._planned_scan_partitions(filt) == filt.rdd.getNumPartitions()
    mem = spark.createDataFrame([(1,)], "x int")
    assert Q._planned_scan_partitions(mem) is None
    # and the scatter contract on top of it: small scan -> repartition
    # to defaultParallelism; in-memory frame falls back without error.
    small = load_table(spark, "/root/testdata/sf0.001", "nation")
    assert (
        Q.scatter_small_scan(small).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_scatter_scan_shape_gate(spark):
    """r17 gate: scatter_small_scan repartitions ONLY scan-shaped
    frames (project/filter chains over one file-source relation).
    Frames whose partitioning is governed by an exchange or a cache —
    aggregates, windows, joins, repartitions, in-memory relations,
    persisted scans —
    come back IDENTICAL (same plan object semantics, no probe, no
    injected exchange), because split packing never decided their
    partition count in the first place."""
    from hadoop_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    scan = load_table(spark, sf, "nation")
    assert Q._is_scan_shaped(scan)
    assert Q._is_scan_shaped(
        scan.where(F.col("n_nationkey") > 0).select("n_name")
    )
    agg = scan.groupBy("n_regionkey").count()
    joined = scan.join(
        load_table(spark, sf, "region"),
        scan.n_regionkey == F.col("r_regionkey"),
    )
    rep = scan.repartition(4)
    mem = spark.createDataFrame([(1,)], "x int")
    coalesced = spark.range(100).coalesce(1)
    # a persisted scan reads back with the partitioning it was cached
    # with, and so does a row-local op over it
    cached = load_table(spark, sf, "supplier").persist()
    try:
        for f in (
            agg, joined, rep, mem, coalesced, cached, cached.select("s_name")
        ):
            assert not Q._is_scan_shaped(f)
            assert Q.scatter_small_scan(f) is f
    finally:
        cached.unpersist()
    # scan-shaped small frames still scatter to full parallelism
    assert (
        Q.scatter_small_scan(scan).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
