"""Structured Streaming tests (SURVEY.md §2.10): file-source pipeline
with AvailableNow + checkpoint, batch/stream window equivalence, and
the stateful running-totals operator."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from hadoop_data_pipeline_spark.sources.readers import load_table
from hadoop_data_pipeline_spark.streaming import windows as W
from hadoop_data_pipeline_spark.streaming.file_pipeline import StreamingFilePipeline
from hadoop_data_pipeline_spark.streaming.stateful import running_totals_per_user

WIDE_SCHEMA = (
    "date string, total_amount double, details string, "
    "m1 double, m2 double, m3 double"
)


def _write_csv(tmp_path, year, name, rows):
    d = tmp_path / "raw" / f"year={year}"
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_text(
        "date,total_amount,details,m1,m2,m3\n"
        + "\n".join(",".join(str(v) for v in r) for r in rows)
    )


def _events_stream_dir(spark, tmp_path):
    """Materialize sf0.001 events as a normal-timestamp parquet dir the
    file-source stream can read (the fixture itself is TIMESTAMP_NANOS)."""
    out = str(tmp_path / "events_parquet")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    batch.coalesce(2).write.mode("overwrite").parquet(out)
    return out, batch


def _file_pipeline(spark, tmp_path) -> StreamingFilePipeline:
    return StreamingFilePipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "wide"),
        long_path=str(tmp_path / "long"),
        checkpoint=str(tmp_path / "ckpt"),
        schema=WIDE_SCHEMA,
    )


def test_file_pipeline_available_now_and_checkpoint(
    spark, tmp_path, monkeypatch
):
    _write_csv(
        tmp_path, 2024, "a.csv",
        [("2024-01", 6.0, "spent", 1.0, 2.0, 3.0),
         ("all-year-budget", 60.0, "budget", 10.0, 20.0, 30.0)],
    )
    p = _file_pipeline(spark, tmp_path)
    seen_batches: list[int] = []
    write_batch = p._write_batch

    def recording_write_batch(df, batch_id):
        seen_batches.append(df.count())
        write_batch(df, batch_id)

    monkeypatch.setattr(p, "_write_batch", recording_write_batch)
    assert p.run_available_now()
    assert seen_batches == [2]
    wide = spark.read.parquet(str(tmp_path / "wide"))
    assert wide.count() == 2
    assert spark.read.parquet(str(tmp_path / "long")).count() == 6

    # Second trigger with one NEW file: checkpoint excludes the old one.
    _write_csv(
        tmp_path, 2023, "b.csv", [("2023-05", 3.0, "spent", 1.0, 1.0, 1.0)]
    )
    assert p.run_available_now()
    assert seen_batches == [2, 1]  # only the new file's rows
    assert spark.read.parquet(str(tmp_path / "wide")).count() == 3

    # Third trigger, nothing new -> empty or no batch.
    assert p.run_available_now()
    assert sum(seen_batches) == 3


def test_file_pipeline_timeout_stops_the_query(spark, tmp_path, monkeypatch):
    """A tick whose batch outlasts ``timeout_sec`` returns False and
    stops its query before returning: no live writer is left to race
    the next tick's recovery."""
    _write_csv(
        tmp_path, 2024, "a.csv", [("2024-01", 6.0, "spent", 1.0, 2.0, 3.0)]
    )
    p = _file_pipeline(spark, tmp_path)
    write_batch = p._write_batch

    def slow_write_batch(df, batch_id):
        time.sleep(5)
        write_batch(df, batch_id)

    monkeypatch.setattr(p, "_write_batch", slow_write_batch)
    assert p.run_available_now(timeout_sec=1) is False
    assert spark.streams.active == []


def test_stream_windows_match_batch(spark, tmp_path):
    src, batch = _events_stream_dir(spark, tmp_path)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = W.tumbling_stats(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("tumbling_out").collect()
    }
    want = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in W.tumbling_stats(batch).collect()
    }
    assert got == want


def test_session_windows_match_batch(spark, tmp_path):
    src, batch = _events_stream_dir(spark, tmp_path)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = W.session_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("session_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
        for r in spark.table("session_out").collect()
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
        for r in W.session_stats(batch).collect()
    )
    assert got == want


def test_stateful_running_totals(spark, tmp_path):
    src, batch = _events_stream_dir(spark, tmp_path)
    stream = spark.readStream.schema(batch.schema).parquet(src).select(
        "user_id", "ts", "value"
    )
    out = running_totals_per_user(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    time.sleep(1)
    # Last emitted row per user = final running totals == batch agg.
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table("totals_out").collect()
    }
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
        .collect()
    }
    assert got == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    src, batch = _events_stream_dir(spark, tmp_path)
    # Duplicate the whole source: at-least-once delivery simulation.
    dup_dir = str(tmp_path / "events_dup")
    batch.unionAll(batch).coalesce(2).write.mode("overwrite").parquet(dup_dir)
    stream = spark.readStream.schema(batch.schema).parquet(dup_dir)
    out = W.dedup_events(stream, keys=["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert spark.table("dedup_out").count() == batch.count()
    # Batch mode: same function, plain dropDuplicates.
    assert W.dedup_events(batch.unionAll(batch)).count() == batch.count()


def test_stream_interval_join_matches_batch(spark, tmp_path):
    src, batch = _events_stream_dir(spark, tmp_path)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = W.interval_join(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["event_id"], r["l_ts"], r["r_ts"])
        for r in spark.table("ij_out").collect()
    )
    want = sorted(
        (r["user_id"], r["event_id"], r["l_ts"], r["r_ts"])
        for r in W.interval_join(batch).collect()
    )
    assert got and got == want


def test_stream_static_enrichment_join(spark, tmp_path):
    # Stream-static join: the streaming fact enriched by a static dim
    # (broadcast per micro-batch, no state needed).
    src, batch = _events_stream_dir(spark, tmp_path)
    dim = spark.createDataFrame(
        [("click", 0.0), ("view", 0.0), ("purchase", 10.0),
         ("signup", 5.0), ("error", -1.0)],
        "event_type string, weight double",
    )
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stream.join(dim, "event_type").selectExpr(
        "event_id", "value * weight AS weighted"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("enriched_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("enriched_out").agg({"weighted": "sum"}).collect()[0][0]
    want = (
        batch.join(dim, "event_type")
        .selectExpr("value * weight AS weighted")
        .agg({"weighted": "sum"})
        .collect()[0][0]
    )
    assert abs(got - want) < 1e-6


def test_streaming_and_batch_pipelines_agree(spark, tmp_path):
    # The same raw input through the marker-file batch pipeline and the
    # checkpointed streaming pipeline yields identical curated data.
    rows = [("all-year-budget", 60.0, "budget", 10.0, 20.0, 30.0),
            ("2024-01", 6.0, "spent", 1.0, 2.0, 3.0),
            ("2024-02", 5.0, "remaining", 1.0, 2.0, 2.0),
            ("total spent", 6.0, "spent", 1.0, 2.0, 3.0),
            ("remaining", 5.0, "remaining", 1.0, 2.0, 2.0)]
    for sub in ("a", "b"):
        d = tmp_path / sub / "raw" / "year=2024"
        d.mkdir(parents=True)
        (d / "f.csv").write_text(
            "date,total_amount,details,m1,m2,m3\n"
            + "\n".join(",".join(str(v) for v in r) for r in rows)
        )
    from hadoop_data_pipeline_spark.pipeline import IncrementalPipeline

    batch = IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "a" / "raw"),
        wide_path=str(tmp_path / "a" / "wide"),
        long_path=str(tmp_path / "a" / "long"),
        expected_columns=["date", "total_amount", "details", "m1", "m2", "m3"],
    )
    assert batch.run().processed == [2024]
    stream = StreamingFilePipeline(
        spark,
        raw_root=str(tmp_path / "b" / "raw"),
        wide_path=str(tmp_path / "b" / "wide"),
        long_path=str(tmp_path / "b" / "long"),
        checkpoint=str(tmp_path / "b" / "ckpt"),
        schema=WIDE_SCHEMA,
    )
    assert stream.run_available_now()
    a = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "a/long/year=2024")).collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "b/long/year=2024")).collect())
    )
    assert a == b
    assert len(a) == 9  # 3 analytics rows x 3 measures (sentinels dropped)


def test_stream_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming as-of enrichment == batch asof_join(how='left') when
    micro-batches arrive in event-time order (two files split at a ts
    boundary, maxFilesPerTrigger=1 so they process as two batches)."""
    import os
    import shutil

    from hadoop_data_pipeline_spark.operators import temporal
    from hadoop_data_pipeline_spark.streaming.stateful import (
        asof_enrich_stream,
    )

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .where("event_type IN ('click', 'purchase')")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    median_ts = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS m").collect()[0]["m"]
    src = tmp_path / "asof_src"
    src.mkdir()
    for i, part in enumerate(
        (
            ev.where(f"unix_micros(ts) <= {median_ts}"),
            ev.where(f"unix_micros(ts) > {median_ts}"),
        )
    ):
        d = tmp_path / f"half{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(d))
        (pf,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        dst = src / f"part-{i}.parquet"
        shutil.copy(d / pf, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        asof_enrich_stream(stream)
        .writeStream.format("memory")
        .queryName("asof_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    cols = ("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("asof_out").collect())
    want_df = temporal.asof_join(
        ev.where("event_type = 'click'").select("event_id", "user_id", "ts", "value"),
        ev.where("event_type = 'purchase'"),
        on=["user_id"],
        ts_col="ts",
        payload_cols=["value"],
        tie_cols=["event_id"],
        how="left",
    )
    want = sorted(tuple(r[c] for c in cols) for r in want_df.collect())
    assert got and got == want


def test_stream_dedup_sink_incremental(spark, tmp_path):
    from hadoop_data_pipeline_spark.streaming.dedup_sink import (
        StreamingDedupSink,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        import shutil, glob

        part = glob.glob(str(tmp_path / "stage" / name / "*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    sink = StreamingDedupSink(
        spark,
        source_dir=str(src),
        schema=schema,
        clean_dir=str(tmp_path / "clean"),
        digest_dir=str(tmp_path / "digests"),
        checkpoint=str(tmp_path / "ckpt"),
    )

    # batch 1: one internal dup
    write_batch("b1", [(1, "alpha"), (2, "beta"), (3, "alpha")])
    assert sink.run_available_now()
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]

    # batch 2: one dup vs store, one new; file source must only read
    # the new file
    write_batch("b2", [(10, "beta"), (11, "gamma")])
    assert sink.run_available_now()
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 11]

    # re-run with nothing new: no growth (checkpoint skips seen files)
    assert sink.run_available_now()
    assert spark.read.parquet(str(tmp_path / "clean")).count() == 3
    digests = spark.read.parquet(str(tmp_path / "digests"))
    assert digests.count() == 3  # alpha, beta, gamma

    # between-ticks compaction: per-batch part sets merge under the
    # writer lease; row sets unchanged; ingest continues correctly
    import glob as _glob

    assert (
        len(_glob.glob(str(tmp_path / "clean" / "*.parquet"))) >= 2
    )  # one part set per tick
    got = sink.compact_stores(target_bytes=10**9)
    assert got == {"clean": 1, "digests": 1}
    assert len(_glob.glob(str(tmp_path / "clean" / "*.parquet"))) == 1
    assert sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "clean")).collect()
    ) == [1, 2, 11]
    assert not (tmp_path / "ckpt" / "commitlog" / "writer.lock").exists()
    write_batch("b3", [(20, "gamma"), (21, "delta")])
    assert sink.run_available_now()
    assert sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "clean")).collect()
    ) == [1, 2, 11, 21]


def test_stream_neardup_sink_probes_persisted_index(spark, tmp_path):
    """The full daily-ingest near-dup loop: batch 1 bootstraps the
    band index; batch 2 is probed against the STORED index (its
    near-dup of an admitted doc dies, within-batch twin dies), and the
    index grows by exactly the survivors' band keys."""
    from hadoop_data_pipeline_spark.operators import dedup as dd
    from hadoop_data_pipeline_spark.streaming.neardup_sink import (
        StreamingNearDupSink,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "stage" / name / "*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    sink = StreamingNearDupSink(
        spark,
        source_dir=str(src),
        schema=schema,
        clean_dir=str(tmp_path / "clean"),
        index_dir=str(tmp_path / "band_index"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    ships = (
        "totally different words about ships and harbors with cargo "
        "cranes and tide tables every morning"
    )
    # batch 1: an internal near-dup pair (1,3) and one unique doc
    write_batch("b1", [(1, base), (2, ships), (3, base + " extra")])
    assert sink.run_available_now()
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]

    # batch 2: near-dup of ADMITTED doc 2 dies via the stored index;
    # 11/12 are within-batch twins (11 survives); 13 is new
    write_batch(
        "b2",
        [
            (10, ships + " again"),
            (11, "unrelated corpus line with entirely fresh vocabulary "
                 "spanning many nouns"),
            (12, "unrelated corpus line with entirely fresh vocabulary "
                 "spanning many nouns indeed"),
        ],
    )
    assert sink.run_available_now()
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 11]

    # the index holds exactly the survivors' band keys
    idx = dd.read_band_index(spark, str(tmp_path / "band_index"))
    assert sorted(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 11]

    # nothing new -> no growth (checkpointed file source)
    assert sink.run_available_now()
    assert spark.read.parquet(str(tmp_path / "clean")).count() == 3


def test_interval_join_left_outer_keeps_gaps(spark):
    import datetime as dt

    rows = [
        (1, 1, "click", dt.datetime(2026, 1, 1, 10, 0)),
        (2, 1, "purchase", dt.datetime(2026, 1, 1, 10, 30)),  # matched
        (3, 2, "purchase", dt.datetime(2026, 1, 1, 12, 0)),   # no click
        (4, 3, "click", dt.datetime(2026, 1, 1, 8, 0)),
        (5, 3, "purchase", dt.datetime(2026, 1, 1, 10, 0)),   # click too old
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    inner = W.interval_join(df)
    assert [r.event_id for r in inner.collect()] == [2]
    outer = {r.event_id: r for r in W.interval_join(df, how="left_outer").collect()}
    assert set(outer) == {2, 3, 5}
    assert outer[2].r_ts is not None
    assert outer[3].r_ts is None and outer[5].r_ts is None
    import pytest as _pt
    with _pt.raises(ValueError):
        W.interval_join(df, how="full")


def test_hll_sketch_union_exact_on_small_cardinality(spark):
    # HLL is exact far below its error regime; the sketch union of two
    # overlapping batches must equal the true distinct count.
    df = spark.range(1000).selectExpr("id % 7 AS g", "id % 83 AS u")
    sk1 = df.where("id < 600").groupBy("g").agg(
        F.expr("hll_sketch_agg(u)").alias("sk")
    )
    sk2 = df.where("id >= 400").groupBy("g").agg(
        F.expr("hll_sketch_agg(u)").alias("sk")
    )
    merged = (
        sk1.unionByName(sk2).groupBy("g")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    )
    truth = {r.g: r.n for r in df.groupBy("g").agg(
        F.countDistinct("u").alias("n")).collect()}
    for r in merged.collect():
        assert r.est == truth[r.g]


def test_stateful_running_totals_tws(spark, tmp_path):
    # Same semantics as test_stateful_running_totals, on the Spark 4
    # transformWithState API with the RocksDB state store. The state
    # protocol between the JVM and the Python driver worker is
    # protobuf-based; this container ships pyspark without protobuf,
    # so the test activates only where the dependency exists (the
    # operator itself is pure pyspark API).
    pytest.importorskip("google.protobuf.descriptor")
    from hadoop_data_pipeline_spark.streaming.stateful import (
        running_totals_per_user_tws,
    )

    src, batch = _events_stream_dir(spark, tmp_path)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(batch.schema).parquet(src).select(
            "user_id", "ts", "value"
        )
        out = running_totals_per_user_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("totals_tws_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        time.sleep(1)
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.table("totals_tws_out").collect()
        }
        want = {
            r["user_id"]: (r["n"], r["tv"])
            for r in batch.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("tv"),
            )
            .collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_prep_equals_iterative_batch(spark, tmp_path):
    # The full streaming prep pipeline (gate -> exact dedup vs digest
    # store -> near-dup probe vs band index -> clean zone) over three
    # AvailableNow ticks: gate rejects never touch state, exact dups
    # are caught within AND across batches, near-dups across batches,
    # and the final clean zone is exactly the first-occurrence
    # survivor set.
    from hadoop_data_pipeline_spark.streaming.prep_sink import (
        StreamingPrepSink,
    )

    base = "the quick brown fox and the lazy dog run in the park together"
    other = "a slow green turtle walks along the warm sand near the sea"
    third = ("it is the case that a good engine keeps all of the "
            "shuffles keyed and all of the state bounded")
    batches = [
        [
            (1, base, "en"),
            (2, base, "en"),            # exact dup within batch
            (3, "???!!!....", "en"),    # gate: quality reject
            (4, other, "fr"),           # gate: lang reject
        ],
        [
            (5, base, "en"),            # exact dup across batches
            (6, base + " today", "en"),  # near-dup of doc 1
            (7, other, "en"),           # survives
        ],
        [
            (8, other + " again", "en"),  # near-dup of doc 7
            (9, third, "en"),           # survives
        ],
    ]
    schema = "doc_id bigint, text string, lang string"
    src = tmp_path / "src"
    sink = StreamingPrepSink(
        spark,
        str(src),
        schema,
        str(tmp_path / "clean"),
        str(tmp_path / "digests"),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        min_quality=0.5,
        langs=("en",),
        threshold=0.5,
    )
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        assert sink.run_available_now(timeout_sec=180), f"tick {i}"

    clean = spark.read.parquet(str(tmp_path / "clean"))
    got = sorted(r.doc_id for r in clean.select("doc_id").collect())
    assert got == [1, 7, 9]
    # state stores hold exactly the survivors
    digests = spark.read.parquet(str(tmp_path / "digests"))
    assert digests.count() == 3
    from hadoop_data_pipeline_spark.operators.dedup import read_band_index
    from hadoop_data_pipeline_spark.functions.dual import N_BANDS

    idx = read_band_index(spark, str(tmp_path / "index"), "doc_id")
    assert sorted(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == [1, 7, 9]
    assert idx.count() == 3 * N_BANDS
    # checkpoint incrementality: a fourth tick with no new files
    # admits nothing and appends nothing.
    assert sink.run_available_now(timeout_sec=180)
    assert spark.read.parquet(str(tmp_path / "clean")).count() == 3


def test_stream_neardup_sink_bucketed_index_mode(spark, tmp_path):
    # Same two-batch loop as the directory-index test, with the sink
    # persisting its state as the BUCKETED catalog table instead:
    # identical clean-zone survivors, a real bucketed table with the
    # declared spec, and the exchange-free probe path engaged from
    # batch 2 on.
    from hadoop_data_pipeline_spark.streaming.neardup_sink import (
        StreamingNearDupSink,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "stage" / name / "*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    sink = StreamingNearDupSink(
        spark,
        source_dir=str(src),
        schema=schema,
        clean_dir=str(tmp_path / "clean"),
        index_dir=str(tmp_path / "band_index"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
        index_table="b_stream_band_index",
        n_buckets=4,
    )
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    ships = (
        "totally different words about ships and harbors with cargo "
        "cranes and tide tables every morning"
    )
    try:
        write_batch("b1", [(1, base), (2, ships), (3, base + " extra")])
        assert sink.run_available_now()
        assert spark.catalog.tableExists("b_stream_band_index")
        write_batch(
            "b2",
            [
                (10, ships + " again"),
                (11, "unrelated corpus line with entirely fresh "
                     "vocabulary spanning many nouns"),
                (12, "unrelated corpus line with entirely fresh "
                     "vocabulary spanning many nouns indeed"),
            ],
        )
        assert sink.run_available_now()
        clean = spark.read.parquet(str(tmp_path / "clean"))
        assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 11]
        idx = spark.table("b_stream_band_index")
        assert sorted(
            r.doc_id for r in idx.select("doc_id").distinct().collect()
        ) == [1, 2, 11]
        # the table really is bucketed with the declared spec
        ddl = "\n".join(
            r.createtab_stmt
            for r in spark.sql(
                "SHOW CREATE TABLE b_stream_band_index"
            ).collect()
        )
        assert "CLUSTERED BY (band_key)" in ddl and "4 BUCKETS" in ddl, ddl
    finally:
        spark.sql("DROP TABLE IF EXISTS b_stream_band_index")


def test_commit_log_rollback_and_idempotence(tmp_path):
    """Pure-filesystem contract of the manifest-last commit: rollback
    deletes exactly the files a crashed batch added, a committed batch
    survives recovery untouched, and a pending record whose marker DID
    land (crash between rename and cleanup) is finished, not rolled
    back."""
    from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog

    a = tmp_path / "store_a"
    b = tmp_path / "store_b"
    a.mkdir()
    b.mkdir()
    (a / "pre.parquet").write_text("pre")
    log = BatchCommitLog(str(tmp_path / "log"), {"a": str(a), "b": str(b)})

    # batch 0: full commit — recovery must not touch it
    log.begin(0)
    (a / "b0.parquet").write_text("x")
    (b / "b0.parquet").write_text("y")
    log.commit(0)
    assert log.is_committed(0)
    assert log.recover() == {}
    assert (a / "b0.parquet").exists() and (b / "b0.parquet").exists()

    # batch 1: crash after a partial append — rollback to the snapshot
    log.begin(1)
    (a / "b1.parquet").write_text("x")
    (a / "nested").mkdir()
    (a / "nested" / "b1b.parquet").write_text("x")
    rolled = log.recover()
    assert sorted(rolled["a"]) == ["b1.parquet", "nested/b1b.parquet"]
    assert not (a / "b1.parquet").exists()
    assert (a / "pre.parquet").exists() and (a / "b0.parquet").exists()
    assert not log.is_committed(1)

    # batch 2: crash between marker rename and pending cleanup — the
    # batch IS committed; recovery only finishes the cleanup.
    log.begin(2)
    (b / "b2.parquet").write_text("z")
    log._write_atomic(log._commit_path(2), {"batch_id": 2})
    assert log.recover() == {}
    assert (b / "b2.parquet").exists() and log.is_committed(2)


def test_commit_log_writer_lock_fails_fast(tmp_path):
    """A second LIVE writer must raise instead of proceeding — its
    recover() would delete the first writer's in-flight files. A lease
    whose pid is dead is stale and reclaimed; our own pid (the
    restart-after-crash path) is reclaimed too."""
    import json as _json
    import os as _os

    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})

    # foreign LIVE holder (pid 1 is always alive): begin and recover
    # both fail fast.
    lock = tmp_path / "log" / "writer.lock"
    lock.write_text(_json.dumps({"pid": 1, "host": _os.uname().nodename}))
    with pytest.raises(ConcurrentWriterError):
        log.begin(0)
    with pytest.raises(ConcurrentWriterError):
        log.recover()

    # dead holder: reclaimed transparently. Find a pid that is free.
    dead = 2
    while True:
        try:
            _os.kill(dead, 0)
            dead += 1
        except ProcessLookupError:
            break
        except PermissionError:
            dead += 1
    lock.write_text(_json.dumps({"pid": dead, "host": _os.uname().nodename}))
    log.begin(0)
    log.commit(0)  # commit releases the lease
    assert not lock.exists()

    # our own pid (pre-crash instance of this process): reclaimed.
    log.begin(1)
    assert lock.exists()
    log2 = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})
    assert log2.recover() == {}  # reclaims, rolls back batch 1's (empty) diff
    # a remote-host lease is never auto-reclaimed (no liveness check)
    lock.write_text(_json.dumps({"pid": dead, "host": "some-other-host"}))
    with pytest.raises(ConcurrentWriterError):
        log2.begin(2)


def test_commit_log_lease_ttl_cross_host(tmp_path):
    """TTL-based cross-host lease expiry (opt-in): a remote holder's
    lease is reclaimed only after a full TTL of heartbeat silence; a
    fresh (heartbeated) remote lease still fails fast; the default
    (ttl=None) never reclaims a remote lease; and heartbeat() refreshes
    the held lease's mtime."""
    import json as _json
    import os as _os
    import time as _time

    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log_dir = tmp_path / "log"
    lock = log_dir / "writer.lock"
    remote = {"pid": 12345, "host": "some-other-host"}

    # default: never reclaimed, regardless of age
    log_none = BatchCommitLog(str(log_dir), {"s": str(store)})
    lock.write_text(_json.dumps(remote))
    _os.utime(lock, (0, 0))  # epoch-old
    with pytest.raises(ConcurrentWriterError):
        log_none.begin(0)

    # TTL enabled: an expired remote lease is reclaimed...
    log_ttl = BatchCommitLog(
        str(log_dir), {"s": str(store)}, lease_ttl_sec=60.0
    )
    log_ttl.begin(0)
    log_ttl.commit(0)
    assert not lock.exists()

    # ...but a FRESH remote lease (recent heartbeat) fails fast, and
    # the error names the TTL
    lock.write_text(_json.dumps(remote))  # mtime = now
    with pytest.raises(ConcurrentWriterError, match="TTL"):
        log_ttl.begin(1)

    # a heartbeat arriving between observation and steal aborts the
    # reclaim: _reclaim_stale(require_expired=True) re-checks under
    # the marker and leaves a freshened lease alone
    _os.utime(lock, (0, 0))
    real_expired = BatchCommitLog._lease_expired

    def freshen_then_check(self, path):
        # first call = the acquire-loop observation: report expired,
        # then simulate the remote holder heartbeating right after
        if not getattr(self, "_observed", False):
            self._observed = True
            return True
        return real_expired(self, path)

    log_race = BatchCommitLog(
        str(log_dir), {"s": str(store)}, lease_ttl_sec=60.0
    )
    log_race._observed = False
    BatchCommitLog._lease_expired = freshen_then_check
    try:
        _os.utime(lock)  # the "heartbeat": mtime fresh again
        with pytest.raises(ConcurrentWriterError):
            log_race.begin(2)
        assert lock.exists(), "reclaim deleted a heartbeated lease"
        assert _json.loads(lock.read_text()) == remote
    finally:
        BatchCommitLog._lease_expired = real_expired
        lock.unlink()

    # heartbeat() refreshes a HELD lease's mtime
    log_hb = BatchCommitLog(
        str(log_dir), {"s": str(store)}, lease_ttl_sec=60.0
    )
    log_hb.begin(3)
    _os.utime(lock, (0, 0))
    assert _os.stat(lock).st_mtime == 0
    log_hb.heartbeat()
    assert _os.stat(lock).st_mtime > _time.time() - 30
    log_hb.commit(3)


def test_commit_log_displaced_holder_fails_loudly(tmp_path):
    """Once TTL reclaim makes it possible for a LIVE writer to lose
    the lease, every lease operation must detect displacement instead
    of mutating the new holder's state: heartbeat() raises, commit()
    refuses to stamp the unprotected batch, and releasing never
    deletes the new holder's lease file."""
    import json as _json

    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log_dir = tmp_path / "log"
    lock = log_dir / "writer.lock"
    thief = {"pid": 99999, "host": "the-new-holder"}

    # heartbeat after displacement: loud, and the thief's lease stays
    log = BatchCommitLog(str(log_dir), {"s": str(store)}, lease_ttl_sec=60)
    log.begin(0)
    lock.write_text(_json.dumps(thief))  # peer reclaimed + re-acquired
    with pytest.raises(ConcurrentWriterError, match="reclaimed"):
        log.heartbeat()
    assert _json.loads(lock.read_text()) == thief

    # commit after displacement: refused (heartbeat dropped our claim,
    # so this surfaces as committing without the lease), no marker
    with pytest.raises(ConcurrentWriterError, match="without the"):
        log.commit(0)
    assert not (log_dir / "commit-0.json").exists()
    assert _json.loads(lock.read_text()) == thief

    # vanished lease: same contract via the FileNotFoundError path
    log2 = BatchCommitLog(str(log_dir), {"s": str(store)}, lease_ttl_sec=60)
    lock.unlink()
    log2.begin(1)
    lock.unlink()
    with pytest.raises(ConcurrentWriterError, match="vanished"):
        log2.heartbeat()

    # commit() without any begin(): refused outright
    log3 = BatchCommitLog(str(log_dir), {"s": str(store)})
    with pytest.raises(ConcurrentWriterError, match="without the"):
        log3.commit(7)


def test_commit_log_exclusive_rejects_reentry(tmp_path):
    """exclusive() while this instance already holds the lease (a
    batch in flight) must raise — the naive acquire would no-op and
    its exit would release the batch's lease out from under it."""
    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})
    log.begin(0)
    with pytest.raises(ConcurrentWriterError, match="in flight"):
        log.exclusive()
    # the batch's lease survived the refused maintenance attempt
    assert (tmp_path / "log" / "writer.lock").exists()
    log.commit(0)
    # between ticks it works
    with log.exclusive():
        assert (tmp_path / "log" / "writer.lock").exists()
    assert not (tmp_path / "log" / "writer.lock").exists()


def test_commit_log_recover_composes_under_exclusive(tmp_path):
    """Maintenance must roll back and rewrite under ONE lease hold:
    recover() called while the caller already holds the lease keeps it
    held on exit (instead of releasing the caller's lease), and a
    strict exclusive() exit re-raises displacement."""
    import json as _json

    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log_dir = tmp_path / "log"
    lock = log_dir / "writer.lock"
    log = BatchCommitLog(str(log_dir), {"s": str(store)})

    # plant a dead batch: pending record without its marker
    (store / "pre.parquet").write_text("x")
    log.begin(0)
    (store / "b0.parquet").write_text("y")
    log._lock_held = False  # simulate the crashed instance's amnesia
    lock.unlink()

    with log.exclusive():
        rolled = log.recover()  # composes: rollback under OUR hold
        assert rolled == {"s": ["b0.parquet"]}
        assert lock.exists(), "recover() released the caller's lease"
        assert log._lock_held
    assert not lock.exists()  # exclusive's exit released it

    # strict exit: displacement DURING the body surfaces to the caller
    thief = {"pid": 4242, "host": "elsewhere"}
    with pytest.raises(ConcurrentWriterError, match="reclaimed|held by"):
        with log.exclusive():
            lock.write_text(_json.dumps(thief))  # peer reclaim mid-body
    assert _json.loads(lock.read_text()) == thief  # thief's lease intact
    lock.unlink()


def test_commit_log_exclusive_body_exception_stays_primary(tmp_path):
    """When the maintenance BODY raises AND a TTL displacement also
    occurred, the strict release must not replace the body's original
    exception with ConcurrentWriterError — the primary failure is what
    the operator debugs; the displacement is chained as __cause__."""
    import json as _json

    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log_dir = tmp_path / "log"
    lock = log_dir / "writer.lock"
    log = BatchCommitLog(str(log_dir), {"s": str(store)}, lease_ttl_sec=60)

    thief = {"pid": 4242, "host": "elsewhere"}
    with pytest.raises(ValueError, match="maintenance blew up") as exc:
        with log.exclusive():
            lock.write_text(_json.dumps(thief))  # peer reclaim mid-body
            raise ValueError("maintenance blew up")
    # the displacement is visible, but as the CAUSE, not the headline
    assert isinstance(exc.value.__cause__, ConcurrentWriterError)
    assert _json.loads(lock.read_text()) == thief  # thief's lease intact
    lock.unlink()

    # body exception WITHOUT displacement: propagates clean, lease freed
    with pytest.raises(ValueError, match="plain failure") as exc2:
        with log.exclusive():
            raise ValueError("plain failure")
    assert exc2.value.__cause__ is None
    assert not lock.exists()


def test_commit_log_reclaim_is_serialized_and_foreign_pending_refused(
    tmp_path,
):
    """(a) Stale-lease reclaim goes through an O_EXCL .steal marker: a
    concurrent reclaimer (marker present) gets ConcurrentWriterError
    instead of both writers running remove+create and ending up with
    two 'exclusive' leases. (b) recover() REFUSES a pending record
    from a different query lineage — rolling back against a foreign
    snapshot would delete data later lineages committed."""
    import json as _json
    import os as _os

    from hadoop_data_pipeline_spark.streaming.commitlog import (
        BatchCommitLog,
        ConcurrentWriterError,
    )

    store = tmp_path / "s"
    store.mkdir()
    log_dir = tmp_path / "log"
    log = BatchCommitLog(str(log_dir), {"s": str(store)})

    # (a) dead holder + someone mid-steal: fail fast, don't double-steal
    dead = 2
    while True:
        try:
            _os.kill(dead, 0)
            dead += 1
        except ProcessLookupError:
            break
        except PermissionError:
            dead += 1
    lock = log_dir / "writer.lock"
    lock.write_text(_json.dumps({"pid": dead, "host": _os.uname().nodename}))
    steal = log_dir / "writer.lock.steal"
    steal.write_text(_json.dumps({"pid": 1, "host": _os.uname().nodename}))
    with pytest.raises(ConcurrentWriterError, match="reclaiming"):
        log.begin(0)
    # a steal marker whose holder DIED mid-steal must self-heal, not
    # wedge recovery forever (crash-recovery code a crash can disable
    # is no recovery code)
    steal.write_text(_json.dumps({"pid": dead, "host": _os.uname().nodename}))
    log.begin(0)  # reclaims the stale marker, then the stale lock
    log.commit(0)
    assert not steal.exists()

    # (b) foreign-lineage pending record: loud refusal, zero deletion
    meta = tmp_path / "metadata"
    meta.write_text(_json.dumps({"id": "run-B"}))
    (store / "committed-by-B.parquet").write_text("x")
    foreign = {
        "batch_id": 0,
        "snapshot": {"s": []},  # foreign snapshot knows none of B's files
        "run_id": "run-A",
    }
    scoped = BatchCommitLog(
        str(log_dir), {"s": str(store)}, run_id_file=str(meta)
    )
    scoped._write_atomic(scoped._pending_path(0), foreign)
    with pytest.raises(RuntimeError, match="lineage"):
        scoped.recover()
    assert (store / "committed-by-B.parquet").exists()  # nothing deleted


def test_commit_log_prune_retention(tmp_path):
    """Markers older than (latest - KEEP) are pruned at commit time;
    everything inside the retention window stays committed — including
    exactly AT the boundary. The engine only ever replays the LAST
    uncommitted batch, so a pruned marker can never be consulted; this
    pins that the window is wide enough and the off-by-one stays put
    (a marker wrongly pruned inside the window would re-run an old
    batch as a double append on a deep replay)."""
    from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog

    store = tmp_path / "s"
    store.mkdir()
    log = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})
    n = BatchCommitLog.KEEP * 2 + 5
    for bid in range(n):
        log.begin(bid)
        log.commit(bid)
    latest = n - 1
    boundary = latest - BatchCommitLog.KEEP
    for bid in range(n):
        if bid >= boundary:
            assert log.is_committed(bid), f"batch {bid} inside window"
        else:
            assert not log.is_committed(bid), f"batch {bid} should be pruned"
    # no pending residue, and a fresh instance sees the same state
    log2 = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})
    assert log2.is_committed(latest) and not log2.is_committed(0)
    assert log2.recover() == {}


def test_commit_log_run_id_scopes_markers(tmp_path):
    """Markers are stamped with the streaming query id: a marker from
    a different query lineage (checkpoint reset kept the commitlog
    subdir, batch ids restarted) must NOT no-op a real batch."""
    import json as _json

    from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog

    store = tmp_path / "s"
    store.mkdir()
    meta = tmp_path / "metadata"
    meta.write_text(_json.dumps({"id": "run-A"}))
    log = BatchCommitLog(
        str(tmp_path / "log"), {"s": str(store)}, run_id_file=str(meta)
    )
    log.begin(0)
    log.commit(0)
    assert log.is_committed(0)

    # same lineage, fresh instance: still committed
    again = BatchCommitLog(
        str(tmp_path / "log"), {"s": str(store)}, run_id_file=str(meta)
    )
    assert again.is_committed(0)

    # new lineage (engine rewrote metadata after a reset): batch 0 of
    # run-B is a REAL batch, not a replay of run-A's batch 0.
    meta.write_text(_json.dumps({"id": "run-B"}))
    fresh = BatchCommitLog(
        str(tmp_path / "log"), {"s": str(store)}, run_id_file=str(meta)
    )
    assert not fresh.is_committed(0)

    # unstamped legacy marker or unconfigured run_id_file: existence
    # decides (backward-compatible lenient path)
    legacy = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})
    assert legacy.is_committed(0)


def test_commit_log_recover_prunes_empty_dirs(tmp_path):
    """Rollback removes the directories a crashed batch created once
    they are empty (Hadoop _temporary attempt dirs), but keeps the
    store root and any directory that still holds surviving files."""
    from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog

    store = tmp_path / "s"
    (store / "year=2024").mkdir(parents=True)
    (store / "year=2024" / "pre.parquet").write_text("pre")
    log = BatchCommitLog(str(tmp_path / "log"), {"s": str(store)})

    log.begin(0)
    tmpdir = store / "_temporary" / "0" / "attempt_1"
    tmpdir.mkdir(parents=True)
    (tmpdir / "part-0.parquet").write_text("x")
    (store / "year=2024" / "new.parquet").write_text("y")
    rolled = log.recover()
    assert sorted(rolled["s"]) == [
        "_temporary/0/attempt_1/part-0.parquet",
        "year=2024/new.parquet",
    ]
    assert not (store / "_temporary").exists()  # skeleton swept
    assert (store / "year=2024" / "pre.parquet").exists()  # kept
    assert store.exists()  # root never removed


def test_stream_dedup_sink_crash_between_appends(spark, tmp_path, monkeypatch):
    """Crash injection between the clean-zone and digest appends: the
    failed tick leaves partial clean-zone rows on disk, the next tick
    rolls them back and replays the batch, and the final stores hold
    exactly-once rows (zero duplicates)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hadoop_data_pipeline_spark.streaming.dedup_sink import (
        StreamingDedupSink,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        import glob
        import shutil

        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        part = glob.glob(str(tmp_path / "stage" / name / "*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    clean_dir = str(tmp_path / "clean")
    digest_dir = str(tmp_path / "digests")
    sink = StreamingDedupSink(
        spark,
        source_dir=str(src),
        schema=schema,
        clean_dir=clean_dir,
        digest_dir=digest_dir,
        checkpoint=str(tmp_path / "ckpt"),
    )

    write_batch("b1", [(1, "alpha"), (2, "beta")])
    assert sink.run_available_now()

    # inject: the NEXT write to the digest store dies AFTER the clean
    # zone append landed — the exact between-appends window.
    real_parquet = DataFrameWriter.parquet
    armed = {"on": True}

    def flaky_parquet(self, path, *args, **kwargs):
        if armed["on"] and path == digest_dir:
            raise RuntimeError("injected crash before digest append")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky_parquet)
    write_batch("b2", [(10, "beta"), (11, "gamma"), (12, "gamma")])
    with pytest.raises(Exception, match="injected crash"):
        sink.run_available_now()
    # the partial commit is visible: clean zone grew, digests did not
    assert spark.read.parquet(clean_dir).count() == 3  # 1,2 + partial 11
    assert spark.read.parquet(digest_dir).count() == 2

    # replay tick: rollback + recompute -> exactly-once
    armed["on"] = False
    assert sink.run_available_now()
    clean = spark.read.parquet(clean_dir)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 11]
    assert clean.count() == clean.select("doc_id").distinct().count()
    assert spark.read.parquet(digest_dir).count() == 3

    # replay of a marker-committed batch (engine checkpoint lost after
    # our commit): a direct re-run of the batch is a no-op.
    last_batch = spark.createDataFrame([(10, "beta"), (11, "gamma")], schema)
    committed = sorted(
        int(f.split("-")[1].split(".")[0])
        for f in __import__("os").listdir(str(tmp_path / "ckpt" / "commitlog"))
        if f.startswith("commit-")
    )
    sink._process_batch(last_batch, committed[-1])
    assert spark.read.parquet(clean_dir).count() == 3
    assert spark.read.parquet(digest_dir).count() == 3


def test_stream_prep_sink_crash_between_appends(spark, tmp_path, monkeypatch):
    """Crash injection in the three-store prep sink: kill between the
    clean-zone and band-index appends, replay, and assert the final
    clean zone equals the batch pipeline's survivor set with zero
    duplicate rows."""
    from hadoop_data_pipeline_spark.operators import dedup as dd
    from hadoop_data_pipeline_spark.streaming.prep_sink import (
        StreamingPrepSink,
    )

    base = "the quick brown fox and the lazy dog run in the park together"
    other = "a slow green turtle walks along the warm sand near the sea"
    schema = "doc_id bigint, text string, lang string"
    src = tmp_path / "src"
    sink = StreamingPrepSink(
        spark,
        str(src),
        schema,
        str(tmp_path / "clean"),
        str(tmp_path / "digests"),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        min_quality=0.5,
        langs=("en",),
        threshold=0.5,
    )

    spark.createDataFrame(
        [(1, base, "en"), (2, other, "en")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    assert sink.run_available_now(timeout_sec=180)

    # arm: the band-index append of the NEXT batch dies after the
    # clean-zone append landed.
    real_write_band_index = dd.write_band_index
    armed = {"on": True}

    def flaky_write_band_index(*args, **kwargs):
        if armed["on"]:
            raise RuntimeError("injected crash before index append")
        return real_write_band_index(*args, **kwargs)

    monkeypatch.setattr(dd, "write_band_index", flaky_write_band_index)
    spark.createDataFrame(
        [
            (5, base, "en"),             # exact dup of 1 — must die
            (6, base + " today", "en"),  # near-dup of 1 — must die
            (7, other + " again", "en"), # near-dup of 2 — must die
            (8, "it is the case that a good engine keeps all of the "
                "shuffles keyed and all of the state bounded", "en"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    with pytest.raises(Exception, match="injected crash"):
        sink.run_available_now(timeout_sec=180)
    # the partial commit is visible: clean zone grew past 2 rows
    assert spark.read.parquet(str(tmp_path / "clean")).count() > 2

    armed["on"] = False
    assert sink.run_available_now(timeout_sec=180)
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert sorted(r.doc_id for r in clean.select("doc_id").collect()) == [
        1,
        2,
        8,
    ]
    assert clean.count() == clean.select("doc_id").distinct().count()
    # every store self-consistent: exactly the survivors
    assert spark.read.parquet(str(tmp_path / "digests")).count() == 3
    idx = dd.read_band_index(spark, str(tmp_path / "index"), "doc_id")
    assert sorted(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 8]


def test_stream_neardup_sink_crash_between_appends(
    spark, tmp_path, monkeypatch
):
    """Crash injection in the near-dup sink: kill between the clean-zone
    and band-index appends, replay, and assert the clean zone equals a
    crash-free run's with zero duplicate rows."""
    import os

    from hadoop_data_pipeline_spark.operators import dedup as dd
    from hadoop_data_pipeline_spark.streaming.neardup_sink import (
        StreamingNearDupSink,
    )

    schema = "doc_id long, text string"
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    ships = (
        "totally different words about ships and harbors with cargo "
        "cranes and tide tables every morning"
    )
    batches = [
        [(1, base), (2, ships)],
        [
            (10, ships + " again"),      # near-dup of 2 — must die
            (11, "unrelated corpus line with entirely fresh vocabulary "
                 "spanning many nouns"),
            (12, base + " extra"),       # near-dup of 1 — must die
        ],
    ]

    def make_sink(root):
        return StreamingNearDupSink(
            spark,
            source_dir=str(root / "src"),
            schema=schema,
            clean_dir=str(root / "clean"),
            index_dir=str(root / "index"),
            checkpoint=str(root / "ckpt"),
            threshold=0.5,
        )

    def land(root, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(root / "src"))

    def clean_ids(root):
        clean = spark.read.parquet(str(root / "clean"))
        return sorted(r.doc_id for r in clean.select("doc_id").collect())

    def index_ids(root):
        idx = dd.read_band_index(spark, str(root / "index"), "doc_id")
        return sorted(
            r.doc_id for r in idx.select("doc_id").distinct().collect()
        )

    # the crash-free run the replayed one must equal
    ref_root = tmp_path / "ref"
    ref = make_sink(ref_root)
    for rows in batches:
        land(ref_root, rows)
        assert ref.run_available_now()
    want = clean_ids(ref_root)
    assert want == [1, 2, 11]

    root = tmp_path / "crash"
    sink = make_sink(root)
    land(root, batches[0])
    assert sink.run_available_now()

    # arm: the band-index append of the NEXT batch dies after the
    # clean-zone append landed.
    real_write_band_index = dd.write_band_index
    armed = {"on": True}

    def flaky_write_band_index(*args, **kwargs):
        if armed["on"]:
            raise RuntimeError("injected crash before index append")
        return real_write_band_index(*args, **kwargs)

    monkeypatch.setattr(dd, "write_band_index", flaky_write_band_index)
    land(root, batches[1])
    with pytest.raises(Exception, match="injected crash"):
        sink.run_available_now()
    # the partial commit is visible: clean zone grew, index did not
    assert clean_ids(root) == [1, 2, 11]
    assert index_ids(root) == [1, 2]

    # replay tick: rollback + recompute -> exactly-once
    armed["on"] = False
    assert sink.run_available_now()
    got = clean_ids(root)
    assert got == want
    assert len(got) == len(set(got))
    assert index_ids(root) == want

    # replay of a marker-committed batch (engine checkpoint lost after
    # our commit): a direct re-run of the batch is a no-op.
    committed = max(
        int(f[len("commit-"):-len(".json")])
        for f in os.listdir(str(root / "ckpt" / "commitlog"))
        if f.startswith("commit-")
    )
    sink._process_batch(spark.createDataFrame(batches[1], schema), committed)
    assert clean_ids(root) == want
    assert index_ids(root) == want


def test_stream_neardup_sink_bucketed_index_restart(spark, tmp_path):
    """Process-restart recovery for the bucketed index mode (ADVICE
    r7): the in-memory catalog loses the table registration while the
    bucketed files survive; the next tick must re-register the
    external table over the surviving files (NOT bootstrap-overwrite
    them) and keep probing correctly."""
    from hadoop_data_pipeline_spark.streaming.neardup_sink import (
        StreamingNearDupSink,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        import glob
        import shutil

        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        part = glob.glob(str(tmp_path / "stage" / name / "*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    sink = StreamingNearDupSink(
        spark,
        source_dir=str(src),
        schema=schema,
        clean_dir=str(tmp_path / "clean"),
        index_dir=str(tmp_path / "band_index"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
        index_table="b_restart_band_index",
        n_buckets=4,
    )
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    try:
        write_batch("b1", [(1, base), (2, "ships and harbors with cargo "
                                         "cranes and tide tables")])
        assert sink.run_available_now()
        # simulate a process restart: the in-memory catalog entry is
        # gone, the external table's files remain.
        spark.sql("DROP TABLE b_restart_band_index")
        assert not spark.catalog.tableExists("b_restart_band_index")

        # tick 2: near-dup of admitted doc 1 must die via the
        # re-registered index; the genuinely new doc survives.
        write_batch(
            "b2",
            [
                (10, base + " extra"),
                (11, "fresh vocabulary spanning compilers registers "
                     "and allocation strategies"),
            ],
        )
        assert sink.run_available_now()
        clean = spark.read.parquet(str(tmp_path / "clean"))
        assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 11]
        # the index was APPENDED (1, 2 survived the restart), and the
        # re-created table kept the bucket spec.
        idx = spark.table("b_restart_band_index")
        assert sorted(
            r.doc_id for r in idx.select("doc_id").distinct().collect()
        ) == [1, 2, 11]
        ddl = "\n".join(
            r.createtab_stmt
            for r in spark.sql(
                "SHOW CREATE TABLE b_restart_band_index"
            ).collect()
        )
        assert "CLUSTERED BY (band_key)" in ddl and "4 BUCKETS" in ddl, ddl
    finally:
        spark.sql("DROP TABLE IF EXISTS b_restart_band_index")
