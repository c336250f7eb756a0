"""Continuous-ingest NEAR-dup dedup: the streaming form of
:func:`~hadoop_data_pipeline_spark.operators.dedup.incremental_near_dup`,
closing the loop the batch operators open — every micro-batch is
LSH-probed against the band-key index all PREVIOUS batches persisted,
survivors land in the clean zone, and their band keys are appended to
the index for the next batch (reference analogue: the pending-file
ledger discipline of `jobs/finance_itsc_pipeline.py:32-56`, applied
to derived dedup state).

Per micro-batch work (the 100 TB shape):

* candidate generation = batch band keys x the stored band-key
  parquet — the admitted corpus is never re-shingled;
* exact-Jaccard verification re-shingles only CANDIDATE documents
  (clean zone semi-joined down to candidate ids);
* survivors append to the clean zone, then their band keys append to
  the index.

Delivery semantics match :class:`StreamingDedupSink`: EXACTLY-ONCE
clean-zone rows across crashes — exactly-once file processing from
the checkpointed source, both appends (clean zone, band index)
inside one manifest-last :class:`~hadoop_data_pipeline_spark.
streaming.commitlog.BatchCommitLog` commit: a crash between them is
rolled back to the pre-batch snapshot before the replay, and a
replay of a marker-committed batch is a no-op. The bucketed-table
index mode participates too (the table's storage IS ``index_dir``,
so snapshot-rollback covers it; the catalog re-registration after a
restart reads only surviving committed files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.operators import dedup
from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog
from hadoop_data_pipeline_spark.streaming.maintenance import compact_sink_stores
from hadoop_data_pipeline_spark.streaming.sink import (
    band_index,
    clean_docs,
    drain_available_now,
    field_ddl,
    has_parquet,
    parquet_stream,
    stage_and_release,
)


class StreamingNearDupSink:
    """File-source stream -> near-dup-free clean zone + band index."""

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
        threshold: float = 0.2,
        index_table: str | None = None,
        n_buckets: int = 8,
    ):
        """``index_table`` switches the persisted state to the
        BUCKETED catalog table (:func:`dedup.write_band_index_bucketed`)
        instead of the ``index_dir`` parquet directory: every probe
        then reads the index side with NO exchange — the top-scale
        daily-ingest layout; ``index_dir`` doubles as the table's
        storage path. Survivor semantics are identical either way
        (pinned by the bucketed-vs-directory test)."""
        self.spark = spark
        self.source_dir = source_dir.rstrip("/")
        self.schema = schema
        self.clean_dir = clean_dir.rstrip("/")
        self.index_dir = index_dir.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.threshold = threshold
        self.index_table = index_table
        self.n_buckets = n_buckets
        self.commit_log = BatchCommitLog(
            f"{self.checkpoint}/commitlog",
            {"clean": self.clean_dir, "index": self.index_dir},
            run_id_file=f"{self.checkpoint}/metadata",
        )

    def _ensure_index_table(self) -> bool:
        """Return True when ``index_table`` is registered and backed by
        data. The session catalog is in-memory (no Hive metastore), so
        after a process restart the registration is gone while the
        bucketed data at ``index_dir`` survives; without this guard the
        first batch of the next run would pick mode='overwrite' and
        silently destroy the accumulated index (ADVICE r6). Re-register
        the external bucketed table over the surviving files instead —
        Spark recovers bucket ids from the file names, so the
        exchange-free probe layout is intact across restarts (pinned by
        the restart test)."""
        if self.spark.catalog.tableExists(self.index_table):
            return True
        if not has_parquet(self.index_dir):
            return False
        self.spark.sql(
            f"CREATE TABLE {self.index_table} "
            f"({self.id_col} {field_ddl(self.schema, self.id_col)}, "
            f"band_id INT, band_key STRING) USING parquet "
            f"CLUSTERED BY (band_key) SORTED BY (band_key) "
            f"INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{self.index_dir}'"
        )
        return True

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.commit_log.is_committed(batch_id):
            # replay of a batch whose marker landed before the engine's
            # checkpoint commit — already fully in the stores.
            return
        docs = clean_docs(
            self.spark, self.clean_dir, self.schema, self.id_col, self.text_col
        )
        if self.index_table and self._ensure_index_table():
            survivor_ids = dedup.incremental_near_dup_against_bucketed_index(
                self.spark,
                batch_df,
                docs,
                self.index_table,
                self.text_col,
                self.id_col,
                self.threshold,
            )
        else:
            survivor_ids = dedup.incremental_near_dup_against_index(
                batch_df,
                docs,
                band_index(
                    self.spark, self.index_dir, self.schema, self.id_col
                ),
                self.text_col,
                self.id_col,
                self.threshold,
            )
        # Decide survivors EXACTLY ONCE (see stage_and_release): the
        # probe plan reads the clean zone AND the band index, both of
        # which the appends below mutate — a re-evaluation would see
        # every survivor as its own near-duplicate and silently
        # append 0 index rows.
        with stage_and_release(
            batch_df.join(survivor_ids, self.id_col),
            f"{self.checkpoint}/staging-{batch_id}",
        ) as survivors:
            # both appends inside one manifest-last commit (module doc).
            self.commit_log.commit_appends(batch_id, [
                lambda: survivors.write.mode("append").parquet(self.clean_dir),
                lambda: self._append_index(survivors),
            ])

    def _append_index(self, survivors: DataFrame) -> None:
        if not self.index_table:
            dedup.write_band_index(
                survivors, self.index_dir, self.text_col, self.id_col,
                mode="append",
            )
            return
        # first batch creates the bucketed table; later batches append
        # (Spark validates the bucket spec).
        mode = (
            "append"
            if self.spark.catalog.tableExists(self.index_table)
            else "overwrite"
        )
        dedup.write_band_index_bucketed(
            survivors,
            self.index_table,
            n_buckets=self.n_buckets,
            text_col=self.text_col,
            id_col=self.id_col,
            path=self.index_dir,
            mode=mode,
        )
        # The append ran on the micro-batch's session clone; the MAIN
        # session's relation cache for the table is now stale
        # (observed: spark.table kept serving the pre-append file list,
        # so the next probe missed this batch's band keys). Refresh
        # through the sink's own session, which every later probe uses.
        self.spark.catalog.refreshTable(self.index_table)

    def compact_stores(
        self, target_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Between-ticks small-file compaction under the writer lease
        (`streaming/maintenance.py`). The clean zone always compacts;
        the band index compacts ONLY in plain-directory mode — with
        ``index_table`` set it is a BUCKETED table whose bucket-id-to-
        file mapping lives in the file names, and a coalesce rewrite
        would silently break the exchange-free probe layout."""
        stores = ["clean"] if self.index_table else ["clean", "index"]
        return compact_sink_stores(
            self.spark,
            self.commit_log,
            stores=stores,
            target_bytes=target_bytes,
        )

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Drain everything currently in ``source_dir``, then stop —
        one tick of continuous ingest (:func:`drain_available_now`)."""
        # roll back any half-committed batch BEFORE the engine replays
        # it; in bucketed-table mode the catalog's cached file list may
        # now be stale, so refresh when the table is registered.
        if self.commit_log.recover() and self.index_table and (
            self.spark.catalog.tableExists(self.index_table)
        ):
            self.spark.catalog.refreshTable(self.index_table)
        return drain_available_now(
            parquet_stream(self.spark, self.schema, self.source_dir),
            self._process_batch,
            self.checkpoint,
            timeout_sec,
        )
