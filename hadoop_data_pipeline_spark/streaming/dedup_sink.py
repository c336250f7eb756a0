"""Continuous-ingest exact dedup: the streaming form of
:func:`~hadoop_data_pipeline_spark.operators.curation.incremental_dedup`.

A file-source stream of documents is deduplicated per micro-batch —
within the batch AND against a persistent DIGEST STORE (a parquet
table of md5 digests written by all previous batches) — and only the
survivors are appended to the clean zone. The corpus itself is never
re-read or re-shuffled: each micro-batch joins against digests only.

Delivery semantics: EXACTLY-ONCE clean-zone rows across crashes.
The file source's checkpoint gives exactly-once file processing, and
the two appends (clean zone, digest store) run inside one
manifest-last commit (:class:`~hadoop_data_pipeline_spark.streaming.
commitlog.BatchCommitLog`): a crash between the appends is rolled
back to the pre-batch snapshot before the engine replays the batch,
and a replay of a batch whose marker already landed is a no-op —
no window duplicates or loses rows (crash-injection-pinned by
``test_stream_dedup_sink_crash_between_appends``). See the commitlog
module doc for the single-writer / append-only assumptions.

Scale shape per batch: digest store scanned as (digest) only —
column-pruned, no text; batch reduced to digests before the LEFT
ANTI probe; appends are partitioned parquet. Batch cost is
O(batch + matching digests), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog
from hadoop_data_pipeline_spark.streaming.maintenance import compact_sink_stores
from hadoop_data_pipeline_spark.streaming.sink import (
    drain_available_now,
    has_parquet,
    parquet_stream,
    stage_and_release,
)


def first_per_digest(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The exact-dedup convention both the dedup and prep sinks share:
    md5 digest of the text, FIRST occurrence (min id) per digest
    within the frame (WindowGroupLimit shape). Returns the frame plus
    a ``digest`` column. Changing the digest algorithm or tie-break
    here changes it for every sink at once."""
    staged = df.withColumn("digest", F.md5(F.col(text_col)))
    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        staged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


class StreamingDedupSink:
    """File-source stream -> exact-deduped clean zone + digest store."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType | str,
        clean_dir: str,
        digest_dir: str,
        checkpoint: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.spark = spark
        self.source_dir = source_dir.rstrip("/")
        self.schema = schema
        self.clean_dir = clean_dir.rstrip("/")
        self.digest_dir = digest_dir.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.commit_log = BatchCommitLog(
            f"{self.checkpoint}/commitlog",
            {"clean": self.clean_dir, "digests": self.digest_dir},
            run_id_file=f"{self.checkpoint}/metadata",
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.commit_log.is_committed(batch_id):
            # replay of a batch whose marker landed before the engine's
            # own checkpoint commit — everything is already in the
            # stores; re-appending would duplicate it.
            return
        first = first_per_digest(batch_df, self.text_col, self.id_col)
        if has_parquet(self.digest_dir):
            stored = self.spark.read.parquet(self.digest_dir).select("digest")
            first = first.join(stored, "digest", "left_anti")
        # Decide survivors EXACTLY ONCE (see stage_and_release): the
        # plan reads the digest store the second append mutates, so
        # it must not be re-evaluable after the first append.
        with stage_and_release(
            first, f"{self.checkpoint}/staging-{batch_id}"
        ) as survivors:
            # both appends inside one manifest-last commit — a crash
            # anywhere in here rolls back to the begin() snapshot on
            # the next tick (see module doc).
            clean = survivors.drop("digest").write.mode("append")
            digests = survivors.select("digest").write.mode("append")
            self.commit_log.commit_appends(batch_id, [
                lambda: clean.parquet(self.clean_dir),
                lambda: digests.parquet(self.digest_dir),
            ])

    def compact_stores(
        self, target_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Between-ticks small-file compaction of the clean zone and
        digest store (both plain append-only parquet — safe to
        coalesce), under the commit log's writer lease
        (`streaming/maintenance.py`). Run after a drain, never during
        a tick (a live tick makes it raise ConcurrentWriterError)."""
        return compact_sink_stores(
            self.spark, self.commit_log, target_bytes=target_bytes
        )

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Drain everything currently in ``source_dir``, then stop —
        one cron tick of continuous ingest (:func:`drain_available_now`)."""
        # roll back any half-committed batch BEFORE the engine replays
        # it — the replay must recompute against pre-batch state.
        self.commit_log.recover()
        return drain_available_now(
            parquet_stream(self.spark, self.schema, self.source_dir),
            self._process_batch,
            self.checkpoint,
            timeout_sec,
        )
