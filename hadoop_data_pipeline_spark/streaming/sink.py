"""Machinery every streaming sink shares: the one micro-batch runner
(:func:`drain_available_now`), the parquet source stream, the
empty-safe state readers and the exactly-once staging step
(:func:`stage_and_release`)."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.operators import dedup


def drain_available_now(
    stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    timeout_sec: int,
) -> bool:
    """Run ``process_batch`` over everything ``stream`` currently has,
    then stop — one cron tick of continuous ingest. Re-running after
    new files arrive processes ONLY the new files (the file source's
    checkpoint at ``checkpoint``). Returns True if the query terminated
    within ``timeout_sec``; raises the batch's exception if it failed."""
    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    done = query.awaitTermination(timeout_sec)
    # The wait returns True for a FAILED termination too — surface the
    # foreachBatch exception instead of reporting a green tick with
    # partial state.
    if query.exception() is not None:
        raise query.exception()
    if not done:
        # TIMEOUT: the query is still RUNNING. Returning without
        # stopping it would let a retrying caller race a live batch —
        # the retry's recover() (same commit-log instance, lease already
        # held by the in-flight begin) would roll back that batch's
        # appends mid-write. Stopping aborts any in-flight batch —
        # exactly the crash shape the commit log already recovers from
        # — so no live writer survives this return.
        query.stop()
    return done


def parquet_stream(
    spark: SparkSession, schema: T.StructType | str, source_dir: str
) -> DataFrame:
    """File-source stream over the parquet files in ``source_dir``.
    Data files only: a sidecar or ``.tmp`` file dropped there must not
    become a permanently re-failing tick."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(source_dir)
    )


def has_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one parquet file (recursively)
    — the empty-state probe every stateful sink shares."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def field_ddl(schema: T.StructType | str, name: str) -> str:
    """DDL type string of one field of a (possibly DDL-string) schema
    — used to type EMPTY state frames from the sink's own source
    schema instead of hardcoding bigint ids (string doc ids are
    common; a hardcoded type would break the first batch's union)."""
    st = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    return st[name].dataType.simpleString()


def read_store(
    spark: SparkSession,
    path: str,
    empty_ddl: str,
    read: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """A sink's state store: ``read()`` (plain parquet of ``path`` by
    default) once the store holds data, else an empty frame typed by
    ``empty_ddl`` so the first batch's probes and unions still plan."""
    if not has_parquet(path):
        return spark.createDataFrame([], empty_ddl)
    return read() if read is not None else spark.read.parquet(path)


def clean_docs(
    spark: SparkSession,
    clean_dir: str,
    schema: T.StructType | str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, text) of a text sink's clean zone, empty-safe."""
    ddl = f"{id_col} {field_ddl(schema, id_col)}, {text_col} string"
    return read_store(spark, clean_dir, ddl).select(id_col, text_col)


def band_index(
    spark: SparkSession, index_dir: str, schema: T.StructType | str, id_col: str
) -> DataFrame:
    """A text sink's MinHash band-index directory, empty-safe."""
    return read_store(
        spark,
        index_dir,
        f"{id_col} {field_ddl(schema, id_col)}, band_id int, band_key string",
        lambda: dedup.read_band_index(spark, index_dir, id_col),
    )


@contextmanager
def stage_and_release(df: DataFrame, staging_dir: str) -> Iterator[DataFrame]:
    """Materialize ``df`` to a per-batch staging parquet and yield the
    re-read frame; the staging directory is removed on every exit,
    including a failed staging write. The survivor set of a
    state-mutating sink must be decided EXACTLY ONCE: its plan reads
    the state directories the subsequent appends mutate, and any
    re-evaluation (cache-plan mismatch — observed with
    `write_band_index`'s derived plan — or an evicted cached/
    checkpointed block) would re-run the probe against post-append
    state and silently append wrong (usually empty) rows. A staging
    write cuts the lineage completely and, unlike `localCheckpoint`,
    releases its storage deterministically (a hard crash leaves only
    an orphan staging dir that the replayed batch overwrites)."""
    try:
        df.write.mode("overwrite").parquet(staging_dir)
        yield df.sparkSession.read.parquet(staging_dir)
    finally:
        shutil.rmtree(staging_dir, ignore_errors=True)
