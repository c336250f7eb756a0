"""StreamingMediaSink: the multimodal tier's exactly-once ingest
(decimate + per-frame signatures + shared-scene dedup against the
persisted band index), held to the same contracts as the text sinks —
multi-tick convergence to the sequential-admission survivor set, and
crash-injected replay with zero duplicates."""

from __future__ import annotations

import pytest

from hadoop_data_pipeline_spark.operators import multimodal as mm
from hadoop_data_pipeline_spark.sources.readers import load_table
from hadoop_data_pipeline_spark.streaming.media_sink import StreamingMediaSink

SF = "/root/testdata/sf0.001"
SCHEMA = "doc_id bigint, text string"


def _sequential_reference(
    spark, docs_df, chunk_bounds: list[tuple[int, int]]
) -> list[int]:
    """The sink's exact admission convention, replayed chunk by chunk
    over the global scene-pair list (the incremental_near_dup
    survivor rule): a chunk member is dropped iff it pairs with an
    ADMITTED clip from an earlier chunk, or with a LOWER-id member of
    its own chunk — even one that is itself dropped (so this is NOT
    greedy admission; the two differ on non-clique chains inside one
    batch)."""
    sig = mm.video_frame_dhashes_from_text(docs_df)
    pairs = [
        (r.id_a, r.id_b)
        for r in mm.video_scene_near_dup_pairs(
            sig, max_hamming=2, n_bands=4, min_shared_frames=3
        ).collect()
    ]  # operator contract: id_a < id_b
    all_ids = sorted(r.doc_id for r in docs_df.select("doc_id").collect())
    admitted: list[int] = []
    admitted_set: set[int] = set()
    for lo, hi in chunk_bounds:
        chunk = {i for i in all_ids if lo <= i < hi}
        dropped = {
            b
            for a, b in pairs
            if b in chunk and (a in admitted_set or a in chunk)
        }
        for i in sorted(chunk - dropped):
            admitted.append(i)
            admitted_set.add(i)
    return sorted(admitted)


@pytest.fixture()
def corpus(spark):
    # sf0.001 documents carry the planted near-dup profile, so the
    # scene detector has real work at 50 docs.
    return load_table(spark, SF, "documents").select("doc_id", "text")


def test_stream_media_sink_converges_to_sequential_batch(
    spark, tmp_path, corpus
):
    src = tmp_path / "src"
    sink = StreamingMediaSink(
        spark, str(src), SCHEMA,
        str(tmp_path / "clean"), str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
    )
    # three ticks in doc_id order — ingest order IS arrival order
    bounds = [(0, 17), (17, 34), (34, 1_000_000)]
    for lo, hi in bounds:
        corpus.where(
            f"doc_id >= {lo} AND doc_id < {hi}"
        ).coalesce(1).write.mode("append").parquet(str(src))
        assert sink.run_available_now(timeout_sec=180)

    clean = spark.read.parquet(str(tmp_path / "clean"))
    got = sorted(r.doc_id for r in clean.select("doc_id").collect())
    assert got == _sequential_reference(spark, corpus, bounds)
    # exactly-once: no duplicate ids, and the transform stage ran for
    # every admitted clip (decimate digest is the pinned lens value)
    assert clean.count() == clean.select("doc_id").distinct().count()
    assert clean.where("dec_md5 IS NULL OR n_frames <> 2").count() == 0
    # the index holds band rows ONLY for admitted clips
    idx = mm.read_signature_band_index(
        spark, str(tmp_path / "index"), frame_col="frame_idx"
    )
    assert sorted(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == got


def test_stream_media_sink_crash_between_appends(
    spark, tmp_path, corpus, monkeypatch
):
    src = tmp_path / "src"
    sink = StreamingMediaSink(
        spark, str(src), SCHEMA,
        str(tmp_path / "clean"), str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
    )
    corpus.where("doc_id < 25").coalesce(1).write.mode("append").parquet(
        str(src)
    )
    assert sink.run_available_now(timeout_sec=180)
    n_clean_t1 = spark.read.parquet(str(tmp_path / "clean")).count()

    # arm: the index append of the NEXT batch dies after the clean-
    # zone append landed (the half-committed shape).
    real_write = mm.write_signature_band_index
    armed = {"on": True}

    def flaky_write(*args, **kwargs):
        if armed["on"]:
            raise RuntimeError("injected crash before index append")
        return real_write(*args, **kwargs)

    monkeypatch.setattr(mm, "write_signature_band_index", flaky_write)
    corpus.where("doc_id >= 25").coalesce(1).write.mode("append").parquet(
        str(src)
    )
    with pytest.raises(Exception, match="injected crash"):
        sink.run_available_now(timeout_sec=180)
    # the partial commit is visible: clean zone grew past tick 1
    assert spark.read.parquet(str(tmp_path / "clean")).count() > n_clean_t1

    armed["on"] = False
    assert sink.run_available_now(timeout_sec=180)
    clean = spark.read.parquet(str(tmp_path / "clean"))
    got = sorted(r.doc_id for r in clean.select("doc_id").collect())
    # replay after rollback reproduces the crash-free sequential
    # admission exactly — no dupes, no lost survivors
    assert got == _sequential_reference(
        spark, corpus, [(0, 25), (25, 1_000_000)]
    )
    assert clean.count() == clean.select("doc_id").distinct().count()
    idx = mm.read_signature_band_index(
        spark, str(tmp_path / "index"), frame_col="frame_idx"
    )
    # 4 frames x C(4,2)=6 subset rows per admitted clip, exactly once
    assert idx.count() == 24 * len(got)


def test_stream_media_sink_replay_of_committed_batch_is_noop(
    spark, tmp_path, corpus
):
    src = tmp_path / "src"
    sink = StreamingMediaSink(
        spark, str(src), SCHEMA,
        str(tmp_path / "clean"), str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
    )
    corpus.where("doc_id < 10").coalesce(1).write.mode("append").parquet(
        str(src)
    )
    assert sink.run_available_now(timeout_sec=180)
    before = spark.read.parquet(str(tmp_path / "clean")).count()
    # direct replay of batch 0 (the engine does this after a crash
    # between marker-commit and checkpoint-commit)
    batch0 = spark.read.schema(SCHEMA).parquet(str(src))
    sink._process_batch(batch0, 0)
    assert spark.read.parquet(str(tmp_path / "clean")).count() == before


def test_stream_media_sink_failed_staging_leaves_no_staging_dir(
    spark, tmp_path, corpus, monkeypatch
):
    """A batch whose second staging write fails still removes every
    per-batch staging directory, the first one included."""
    from pyspark.sql.readwriter import DataFrameWriter

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    sink = StreamingMediaSink(
        spark, str(src), SCHEMA,
        str(tmp_path / "clean"), str(tmp_path / "index"), str(ckpt),
    )
    corpus.where("doc_id < 10").coalesce(1).write.mode("append").parquet(
        str(src)
    )
    batch0 = spark.read.schema(SCHEMA).parquet(str(src))
    real_parquet = DataFrameWriter.parquet

    def flaky_parquet(self, path, *args, **kwargs):
        if "staging-sig-" in str(path):
            raise RuntimeError("injected staging failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky_parquet)
    with pytest.raises(RuntimeError, match="injected staging failure"):
        sink._process_batch(batch0, 0)
    assert list(ckpt.glob("staging-*")) == []
