"""Streaming variant of the incremental CSV pipeline (SURVEY.md §2.10,
§3.1).

Replaces the reference's marker-file protocol with Structured
Streaming's file source + checkpoint: discovered files are recorded in
the checkpoint's file-source log, so a crashed or re-triggered run
never reprocesses them — the exactly-once bookkeeping the reference
hand-rolls with ``.done`` sidecars (``jobs/finance_itsc_pipeline.py:
32-35``) comes from the engine instead.

``Trigger.AvailableNow`` processes everything currently present and
stops — the drop-in replacement for the reference's 5-minute Airflow
cron batch (each cron tick = one AvailableNow run), with the option to
go continuous by dropping the trigger.

``foreachBatch`` bridges to the SAME batch write path (normalize ->
wide->long -> partitioned write), so batch and streaming share one
transformation definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.atomic import atomic_write_partition
from hadoop_data_pipeline_spark.pipeline import wide_to_long
from hadoop_data_pipeline_spark.streaming.sink import drain_available_now


class StreamingFilePipeline:
    """File-source streaming ETL: ``{raw_root}/year=*/ *.csv`` ->
    partitioned parquet wide + long zones, checkpointed."""

    def __init__(
        self,
        spark: SparkSession,
        raw_root: str,
        wide_path: str,
        long_path: str,
        checkpoint: str,
        schema: T.StructType | str,
        id_columns: tuple[str, ...] = ("date", "details"),
    ):
        self.spark = spark
        self.raw_root = raw_root.rstrip("/")
        self.wide_path = wide_path.rstrip("/")
        self.long_path = long_path.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.schema = schema
        self.id_columns = id_columns

    def source(self) -> DataFrame:
        """CSV file-source stream. ``pathGlobFilter`` admits only data
        files; partition discovery binds ``year`` from the directory
        name (same as the batch reader)."""
        return (
            self.spark.readStream.schema(self.schema)
            .option("header", "true")
            .option("pathGlobFilter", "*.csv")
            .csv(self.raw_root)
        )

    def normalize(self, df: DataFrame) -> DataFrame:
        """P1 cast discipline on the streaming frame (year comes from
        the ``year=YYYY`` partition directory)."""
        cols = [
            F.col(c).cast("string").alias(c)
            if c in self.id_columns
            else F.col(c).cast("double").alias(c)
            for c in df.columns
            if c != "year"
        ]
        return df.select(*cols, F.col("year").cast("int").alias("year"))

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: the SAME atomic rename-swap per touched
        partition as the batch pipeline (one write path for both
        modes) — concurrent readers of the zone never observe a
        half-written year. The touched-year list is bounded by the
        micro-batch's file set (driver-side collect of a few ints)."""
        wide = self.normalize(batch_df).persist()
        try:
            years = [r["year"] for r in wide.select("year").distinct().collect()]
            for y in years:
                year_df = wide.where(F.col("year") == y)
                atomic_write_partition(year_df, self.wide_path, "year", y)
                atomic_write_partition(
                    wide_to_long(year_df), self.long_path, "year", y
                )
        finally:
            wide.unpersist()

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Process all currently-available files, then stop (the cron
        replacement). Returns True if the query terminated in time."""
        return drain_available_now(
            self.source(), self._write_batch, self.checkpoint, timeout_sec
        )
