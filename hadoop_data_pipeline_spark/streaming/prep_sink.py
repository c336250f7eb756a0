"""Continuous-ingest TRAINING-DATA PREP: the streaming form of the
whole `prepare_training_shards` front half — every micro-batch is
quality/language gated, exact-deduped (within the batch and against
the digest store all previous batches persisted), then LSH-probed for
near-duplicates against the persisted band index; survivors append to
the clean zone and both state stores. Composes the mechanics of
:class:`StreamingDedupSink` (digest store) and
:class:`StreamingNearDupSink` (band index) behind one sink, so a
corpus ingested file-by-file converges to the same first-occurrence
survivor set the batch operators produce on the concatenation
(pinned by ``test_stream_prep_equals_iterative_batch``).

Per micro-batch work (the 100 TB shape):

* the gate is a zero-shuffle projection (quality score + lang filter)
  — rejected documents never touch any state store;
* exact dedup joins batch DIGESTS against the digest store (column-
  pruned scan, no text), O(batch + matching digests);
* near-dup candidates come from batch band keys x the stored band-key
  parquet; verification re-shingles only candidate documents;
* appends: clean zone, band index, digest store — all three inside
  ONE manifest-last :class:`~hadoop_data_pipeline_spark.streaming.
  commitlog.BatchCommitLog` commit. (The index-before-digests order
  is kept as defense in depth: even if a rollback were somehow
  skipped, a replay over a partial commit stays self-consistent —
  an index-present/digests-missing state still drops exact dups via
  the index probe, because an identical document always exceeds any
  Jaccard threshold.)

Delivery semantics: EXACTLY-ONCE clean-zone rows across crashes —
exactly-once file processing from the checkpointed source, and a
crash anywhere between the three appends rolls the stores back to
the pre-batch snapshot before the engine replays the batch; a replay
of a marker-committed batch is a no-op (crash-injection-pinned by
``test_stream_prep_sink_crash_between_appends``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.functions import dual
from hadoop_data_pipeline_spark.operators import dedup
from hadoop_data_pipeline_spark.operators import text as tx
from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog
from hadoop_data_pipeline_spark.streaming.dedup_sink import first_per_digest
from hadoop_data_pipeline_spark.streaming.maintenance import compact_sink_stores
from hadoop_data_pipeline_spark.streaming.sink import (
    band_index,
    clean_docs,
    drain_available_now,
    has_parquet,
    parquet_stream,
    stage_and_release,
)


class StreamingPrepSink:
    """File stream -> gated, exact- and near-dup-free clean zone."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType | str,
        clean_dir: str,
        digest_dir: str,
        index_dir: str,
        checkpoint: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        lang_col: str = "lang",
        min_quality: float = 0.5,
        langs: tuple[str, ...] = ("en", "de"),
        threshold: float = 0.5,
    ):
        self.spark = spark
        self.source_dir = source_dir.rstrip("/")
        self.schema = schema
        self.clean_dir = clean_dir.rstrip("/")
        self.digest_dir = digest_dir.rstrip("/")
        self.index_dir = index_dir.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.lang_col = lang_col
        self.min_quality = min_quality
        self.langs = tuple(langs)
        self.threshold = threshold
        self.commit_log = BatchCommitLog(
            f"{self.checkpoint}/commitlog",
            {
                "clean": self.clean_dir,
                "index": self.index_dir,
                "digests": self.digest_dir,
            },
            run_id_file=f"{self.checkpoint}/metadata",
        )

    # -- the pipeline ---------------------------------------------------

    def gate(self, df: DataFrame) -> DataFrame:
        """Quality floor + language allowlist — zero-shuffle, applied
        before any state store is touched. The allowlist is a column
        `isin` (never string-spliced SQL: a quote inside a malformed
        lang tag, or an empty tuple, must not break the expression);
        an empty ``langs`` means no language filter."""
        staged = df.selectExpr(
            "*", f"{dual.tokens(self.text_col, dual.SPARK)} AS __toks"
        )
        q = tx.quality_score_expr(self.text_col, "__toks", dual.SPARK)
        out = staged.where(F.expr(f"{q} >= {self.min_quality}"))
        if self.langs:
            out = out.where(F.col(self.lang_col).isin(*self.langs))
        return out.drop("__toks")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.commit_log.is_committed(batch_id):
            # replay of a batch whose marker landed before the engine's
            # checkpoint commit — already fully in the stores.
            return
        gated = self.gate(batch_df)
        # exact dedup (shared convention, see dedup_sink.first_per_
        # digest): first occurrence within the batch, then anti-join
        # the digest store — digests only, never text.
        exact = first_per_digest(gated, self.text_col, self.id_col)
        if has_parquet(self.digest_dir):
            stored = self.spark.read.parquet(self.digest_dir).select("digest")
            exact = exact.join(stored, "digest", "left_anti")
        exact = exact.persist()
        try:
            # near-dup: probe the persisted band index (+ within batch).
            survivor_ids = dedup.incremental_near_dup_against_index(
                exact.drop("digest"),
                clean_docs(
                    self.spark,
                    self.clean_dir,
                    self.schema,
                    self.id_col,
                    self.text_col,
                ),
                band_index(
                    self.spark, self.index_dir, self.schema, self.id_col
                ),
                self.text_col,
                self.id_col,
                self.threshold,
            )
            # Decide the survivor set EXACTLY ONCE (see
            # stage_and_release): the probe plan reads the clean zone
            # and the band index, and the appends below MUTATE those
            # directories — a re-evaluation would see every survivor
            # as its own near-duplicate (observed: the band-index
            # append silently wrote 0 rows).
            with stage_and_release(
                exact.join(survivor_ids, self.id_col),
                f"{self.checkpoint}/staging-{batch_id}",
            ) as survivors:
                # all three appends inside one manifest-last commit;
                # the index-before-digests order is defense in depth
                # (module doc).
                docs = survivors.drop("digest")
                digests = survivors.select("digest").write.mode("append")
                self.commit_log.commit_appends(batch_id, [
                    lambda: docs.write.mode("append").parquet(self.clean_dir),
                    lambda: dedup.write_band_index(
                        docs, self.index_dir, self.text_col, self.id_col,
                        mode="append",
                    ),
                    lambda: digests.parquet(self.digest_dir),
                ])
        finally:
            exact.unpersist()

    def compact_stores(
        self, target_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Between-ticks small-file compaction of all three stores
        (clean zone, plain band index, digest store — all append-only
        parquet directories) under the commit log's writer lease
        (`streaming/maintenance.py`)."""
        return compact_sink_stores(
            self.spark, self.commit_log, target_bytes=target_bytes
        )

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Drain everything currently in ``source_dir``, then stop —
        one tick of continuous ingest (:func:`drain_available_now`)."""
        # roll back any half-committed batch BEFORE the engine replays
        # it — the replay must recompute against pre-batch state.
        self.commit_log.recover()
        return drain_available_now(
            parquet_stream(self.spark, self.schema, self.source_dir),
            self._process_batch,
            self.checkpoint,
            timeout_sec,
        )
