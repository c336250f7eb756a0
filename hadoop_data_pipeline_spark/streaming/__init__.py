"""Structured Streaming layer (SURVEY.md §2.10).

The reference has no true streaming — its "stream" is a 5-minute
Airflow cron re-running the batch job with ``.done``/``.failed``
marker files for exactly-once (``airflow/dags/hadoop_dag.py:117``,
``jobs/finance_itsc_pipeline.py:32-35``). This package is the
Spark-native upgrade path:

* ``file_pipeline`` — the same incremental CSV flow as
  ``pipeline.IncrementalPipeline`` but as a file-source stream with
  ``Trigger.AvailableNow`` and checkpointed offsets (markers ->
  checkpoint/commit log).
* ``windows`` — tumbling / sliding / session event-time windows with
  watermarks; the SAME functions run on batch DataFrames (oracle-
  checked in the catalog) and streaming DataFrames.
* ``stateful`` — custom per-key state via ``applyInPandasWithState``.
* ``commitlog`` — manifest-last commit across a sink's store
  directories (exactly-once appends across crashes).
* ``sink`` — the one micro-batch runner and the state helpers every
  sink shares.
* ``maintenance`` — between-ticks compaction of a sink's stores.
* ``dedup_sink`` — exact (digest) dedup into a clean zone.
* ``neardup_sink`` — MinHash-LSH near-dup dedup against a band index.
* ``prep_sink`` — quality gate + exact + near-dup training-data prep.
* ``embed_sink`` — semantic dedup of embeddings into a vector store.
* ``media_sink`` — decimation + shared-scene dedup of media clips.
"""
