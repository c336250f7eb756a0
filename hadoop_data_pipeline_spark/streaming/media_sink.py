"""Continuous-ingest MEDIA maintenance: the streaming form of the
multimodal tier's decode -> transform -> signature -> near-dup ladder
(r14 verdict stretch #8) — every micro-batch of clips is rendered/
decoded and DECIMATED (the transform stage), per-frame dHash
signatures are probed for shared-scene near-duplicates against the
persisted signature band index (yesterday's admissions) AND within
the batch, and survivors append to the media clean zone and the
index. Admission convention (pinned by ``test_stream_media_sink_*``
against an iterative batch reference): a clip is dropped iff it
pairs with an already-ADMITTED index clip or with a LOWER-ID member
of its own batch — even if that lower-id member is itself dropped.
This is NOT greedy-by-arrival admission: on a non-clique chain
within one batch (a~b, b~c, a!~c) greedy file-by-file ingest would
keep {a, c} while this convention keeps only {a}; the two agree
whenever same-batch dup groups are cliques (the fixture corpus is),
and the batch-order-independence the tests pin holds for the
implemented convention, not for greedy. The text pipeline's
exactly-once story (``prep_sink``/``embed_sink``) now covers a
multimodal sink too.

Per micro-batch work (the 100 TB shape):

* decimation and signature extraction are chained ``mapInPandas``
  kernels over the batch's input splits — payloads never shuffle;
* near-dup candidates are the batch's 2-int band-subset rows joined
  against the STORED index rows (``multimodal.read_signature_band_
  index``) — admitted clips are never re-decoded or re-hashed, their
  band rows were persisted on admission;
* appends: clean zone (id + decimate digest + timing), band index —
  both inside ONE manifest-last :class:`~hadoop_data_pipeline_spark.
  streaming.commitlog.BatchCommitLog` commit.

Delivery semantics: EXACTLY-ONCE clean-zone rows across crashes —
the checkpointed file source replays the batch, ``recover()`` rolls
half-committed appends back to the pre-batch snapshot first, and a
replay of a marker-committed batch is a no-op (crash-injection-pinned
by ``test_stream_media_sink_crash_between_appends``).

Fixture note: clips are content-addressed renders of ``text`` (the
multimodal tier's rule — the container ships no real media corpus),
so the clean zone carries the text column in place of a payload
column; the kernels the sink routes are the production ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.operators import multimodal as mm
from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog
from hadoop_data_pipeline_spark.streaming.sink import (
    drain_available_now,
    field_ddl,
    parquet_stream,
    read_store,
    stage_and_release,
)


class StreamingMediaSink:
    """File stream -> decimated, shared-scene-deduped media zone."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType | str,
        clean_dir: str,
        index_dir: str,
        checkpoint: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        keep_every: int = 2,
        max_hamming: int = 2,
        n_bands: int = 4,
        min_shared_frames: int = 3,
    ):
        self.spark = spark
        self.source_dir = source_dir.rstrip("/")
        self.schema = schema
        self.clean_dir = clean_dir.rstrip("/")
        self.index_dir = index_dir.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.keep_every = keep_every
        self.max_hamming = max_hamming
        self.n_bands = n_bands
        self.min_shared_frames = min_shared_frames
        self.commit_log = BatchCommitLog(
            f"{self.checkpoint}/commitlog",
            {"clean": self.clean_dir, "index": self.index_dir},
            run_id_file=f"{self.checkpoint}/metadata",
        )

    def _band_index(self) -> DataFrame:
        return read_store(
            self.spark,
            self.index_dir,
            f"{self.id_col} {field_ddl(self.schema, self.id_col)}, "
            "frame_idx int, dhash bigint, band_id int, band_key bigint",
            lambda: mm.read_signature_band_index(
                self.spark,
                self.index_dir,
                id_col=self.id_col,
                frame_col="frame_idx",
            ),
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.commit_log.is_committed(batch_id):
            return
        docs = batch_df.select(self.id_col, self.text_col)
        sig = mm.video_frame_dhashes_from_text(
            docs.withColumnRenamed(self.id_col, "doc_id")
            .withColumnRenamed(self.text_col, "text")
        ).withColumnRenamed("doc_id", self.id_col)
        bands_new = mm.band_subset_rows(
            sig, "dhash", self.max_hamming, self.n_bands,
            [self.id_col, "frame_idx"],
        )
        # dropped = batch ids scene-matched to the index, or to a
        # LOWER-id batch member (the incremental_near_dup survivor
        # convention: greedy first-occurrence by arrival order).
        cross = mm._probe_signature_bands(
            bands_new, self._band_index(), "dhash", self.max_hamming,
            self.id_col, "frame_idx", self.min_shared_frames,
        ).select(F.col("id_new").alias(self.id_col))
        within = mm.video_scene_near_dup_pairs(
            sig.withColumnRenamed(self.id_col, "doc_id"),
            self.max_hamming, self.n_bands, self.min_shared_frames,
        ).select(F.col("id_b").alias(self.id_col))
        dropped = cross.unionByName(within).distinct()
        survivor_docs = docs.join(dropped, self.id_col, "left_anti")
        # transform stage (decimation) runs on SURVIVORS only — the
        # whole point of dedup-before-transform at 100 TB
        dec = mm.decimate_video(
            mm.attach_avi_payload(
                survivor_docs.withColumnRenamed(self.id_col, "doc_id")
                .withColumnRenamed(self.text_col, "text"),
                text_col="text",
            ),
            keep_every=self.keep_every,
        ).select(
            F.col("doc_id").alias(self.id_col),
            "n_frames",
            "us_per_frame",
            F.md5("payload").alias("dec_md5"),
        )
        clean_rows = survivor_docs.join(dec, self.id_col)
        # Decide survivors EXACTLY ONCE (stage_and_release): the probe
        # plan reads the index directory the append below mutates.
        with stage_and_release(
            clean_rows, f"{self.checkpoint}/staging-{batch_id}"
        ) as staged, stage_and_release(
            sig.join(staged.select(self.id_col), self.id_col),
            f"{self.checkpoint}/staging-sig-{batch_id}",
        ) as staged_sig:
            self.commit_log.commit_appends(batch_id, [
                lambda: staged.write.mode("append").parquet(self.clean_dir),
                lambda: mm.write_signature_band_index(
                    staged_sig,
                    self.index_dir,
                    id_col=self.id_col,
                    frame_col="frame_idx",
                    max_hamming=self.max_hamming,
                    n_bands=self.n_bands,
                    mode="append",
                ),
            ])

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Drain everything currently in ``source_dir``, then stop —
        one tick of continuous ingest (:func:`drain_available_now`)."""
        self.commit_log.recover()
        return drain_available_now(
            parquet_stream(self.spark, self.schema, self.source_dir),
            self._process_batch,
            self.checkpoint,
            timeout_sec,
        )
