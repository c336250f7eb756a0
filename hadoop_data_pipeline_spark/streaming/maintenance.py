"""Between-ticks maintenance shared by the streaming sinks.

Every sink appends one parquet part set per micro-batch to each of
its stores, so a long-running ingest accumulates small files whose
per-file open/footer cost eventually dominates probes and scans (and
whose listing cost dominates the commit log's per-batch snapshot).
This module compacts a sink's stores SAFELY:

* after ``recover()`` (never leave a dead batch's diff interleaved
  with a rewrite),
* under ONE hold of the commit log's single-writer lease
  (``exclusive()``) — the log's rollback deletes files absent from a
  pending snapshot, so a compaction racing a live batch must be
  impossible, not unlikely;
* through the remote-FS-safe, rename-swap
  :func:`~hadoop_data_pipeline_spark.operators.layout.compact_small_files`.

BUCKETED stores must be excluded by the caller: a bucketed table's
bucket-id-to-file mapping lives in the file NAMES, so a plain
coalesce rewrite silently breaks the exchange-free probe layout
(``StreamingNearDupSink`` excludes its band index whenever
``index_table`` is set; each sink's ``compact_stores`` method bakes
in the right subset so users don't have to know this).
"""

from __future__ import annotations

from hadoop_data_pipeline_spark.operators.layout import compact_small_files
from hadoop_data_pipeline_spark.streaming.sink import has_parquet


def compact_sink_stores(
    spark,
    commit_log,
    stores: list[str] | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Compact the named store directories registered on a sink's
    commit log (default: all of them) under one exclusive lease hold.
    Returns {store_name: post-compaction parquet file count} (0 for a
    store that has not received data yet). Raises
    :class:`~hadoop_data_pipeline_spark.streaming.commitlog.ConcurrentWriterError`
    while a tick is live — safe to retry after it drains."""
    names = list(commit_log.stores) if stores is None else list(stores)
    unknown = [n for n in names if n not in commit_log.stores]
    if unknown:
        raise ValueError(
            f"compact_sink_stores: {unknown} not registered on this "
            f"commit log (stores: {sorted(commit_log.stores)})"
        )
    out: dict[str, int] = {}
    # ONE lease hold across rollback AND rewrite: a separate
    # recover()-then-acquire would leave a window where a peer's
    # begin() wedges a pending record (listing the OLD file names)
    # between them — the next recover() would then "roll back" by
    # deleting the entire compacted output. recover() composes under
    # exclusive() (it keeps an already-held lease held). The lease is
    # heartbeated per store so a TTL peer never declares this writer
    # dead mid-rewrite; exclusive()'s strict exit re-verifies
    # ownership, so a displacement DURING a rewrite surfaces as
    # ConcurrentWriterError instead of a silent success.
    with commit_log.exclusive():
        commit_log.recover()
        for name in names:
            commit_log.heartbeat()
            path = commit_log.stores[name]
            if not has_parquet(path):
                out[name] = 0
                continue
            out[name] = compact_small_files(spark, path, target_bytes)
    return out
