"""Atomic per-partition write via the rename-swap pattern (SURVEY.md
§2.2 K3).

Plain ``INSERT OVERWRITE`` on parquet is not atomic per partition:
readers can observe a half-deleted directory. The reference solves
this with a swap (``jobs/utils/retry.py:63-178``): write to
``<partition>_tmp``, back the live dir up to ``<partition>_old``,
rename tmp into place, drop the backup — with rollback from ``_old``
if the final rename fails. This module re-implements that contract on
:class:`~hadoop_data_pipeline_spark.fs.FS`.

Differences from the reference (deliberate):

* Other partitions are physically untouched — the swap renames exactly
  one directory, so a 100 TB table with thousands of partitions pays
  only for the partition being replaced.
* Metastore repoint is an injectable callback rather than inline
  ``ALTER TABLE`` strings, and the recommended form is a single
  ``ALTER TABLE ... PARTITION ... SET LOCATION`` (no drop/add window
  during which readers miss the partition — SURVEY.md §7.4).
* Rename-swap assumes atomic rename (HDFS/ABFS). On S3-like stores
  swap this module for a manifest-commit (or use a table format with
  a transactional commit protocol); the FS seam isolates that choice.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation

from hadoop_data_pipeline_spark.fs import FS
from hadoop_data_pipeline_spark.retry import with_retry


def swap_directory(fs: FS, src: str, dst: str) -> None:
    """Atomically replace ``dst`` with ``src`` keeping a transient
    ``dst_old`` backup (reference ``_hdfs_swap`` contract).

    Crash recovery at every step: before the final rename the previous
    data survives at ``dst`` or ``dst_old``; after it, the new data is
    live and at worst a stale ``_old``/``_tmp`` dir remains.
    """
    old = f"{dst}_old"
    if fs.exists(dst):
        fs.delete(old)  # clear a stale backup from a prior crash
        if not fs.rename(dst, old):
            raise RuntimeError(f"backup rename failed: {dst} -> {old}")
    if not fs.rename(src, dst):
        if fs.exists(old):
            fs.rename(old, dst)  # rollback
        raise RuntimeError(f"swap rename failed: {src} -> {dst}")
    fs.delete(old)


def compact_partition(
    spark,
    table_path: str,
    partition_col: str,
    partition_value: Any,
    target_files: int = 1,
) -> str:
    """Rewrite one partition directory into ``target_files`` files via
    the atomic swap — the small-files compaction an incremental
    pipeline needs (many tiny appended files degrade scan parallelism
    bookkeeping and NameNode memory at scale). Readers never observe a
    partial state: the swap is the same rename dance as a data write.
    """
    partition_path = f"{table_path}/{partition_col}={partition_value}"
    df = spark.read.parquet(partition_path).coalesce(target_files)
    return atomic_write_partition(df, table_path, partition_col, partition_value)


def atomic_write_partition(
    df: DataFrame,
    table_path: str,
    partition_col: str,
    partition_value: Any,
    update_metastore: Callable[[str], None] | None = None,
    max_retries: int | None = None,
    sleep: Callable[[float], None] | None = None,
    observe: dict[str, Column] | None = None,
) -> str:
    """Atomically overwrite one partition directory of a parquet table.

    ``df`` must NOT contain ``partition_col`` (the value lives in the
    directory name, Hive-style). Returns the final partition path.

    ``update_metastore`` receives the final path after the swap — pass
    e.g. ``lambda p: spark.sql(f"ALTER TABLE t PARTITION ({partition_col}=
    {partition_value}) SET LOCATION '{p}'")`` when a metastore fronts
    the table.

    ``observe`` maps names to aggregate Columns evaluated as the write
    scans ``df`` (no extra job); on return each name holds the value the
    attempt that succeeded observed. Each attempt observes afresh: a
    failed attempt completes its Observation with partial values.
    """
    if partition_col in df.columns:
        df = df.drop(partition_col)
    fs = FS(df.sparkSession)
    partition_path = f"{table_path}/{partition_col}={partition_value}"
    tmp_path = f"{partition_path}_tmp"

    def _do_write() -> None:
        out, seen = df, Observation()
        if observe:
            out = df.observe(seen, *[c.alias(k) for k, c in observe.items()])
        out.write.mode("overwrite").parquet(tmp_path)
        swap_directory(fs, tmp_path, partition_path)
        if update_metastore is not None:
            update_metastore(partition_path)
        if observe:
            observe.update(seen.get)

    kwargs: dict[str, Any] = {"label": f"atomic write {partition_path}"}
    if max_retries is not None:
        kwargs["max_retries"] = max_retries
    if sleep is not None:
        kwargs["sleep"] = sleep
    try:
        with_retry(_do_write, **kwargs)
    except Exception:
        fs.delete(tmp_path)  # never leave a stray _tmp behind
        raise
    return partition_path
