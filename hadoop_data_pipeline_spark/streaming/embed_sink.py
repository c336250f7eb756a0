"""Continuous EMBEDDING ingest with semantic dedup on admission — the
vector-space counterpart of the text sinks, closing the similarity
half of the streaming story: every micro-batch of (id, embedding)
rows is enriched with its retrieval geometry (staged L2 norm, 256-way
random-hyperplane LSH bucket, IVF cell from the PINNED coarse
quantizer), semantically deduplicated against everything already
ADMITTED, and appended to one growing vector store that ANN queries
probe directly. This is the SemDeDup-style ingest shape of a training
pipeline at 100 TB: drop near-duplicate embeddings BEFORE they ever
reach storage, paying cosine only inside LSH buckets, never all-pairs.

Admission rule per micro-batch (deterministic, mirrored exactly by
the iterative batch reference in the tests):

1. a batch vector whose cosine >= ``threshold`` to ANY stored vector
   in the same LSH bucket is dropped (it duplicates the admitted
   corpus);
2. the remaining batch vectors run within-batch semantic dedup —
   bucket-blocked cosine pairs -> connected components -> min-id
   canonical survivor per cluster (`curation.semantic_dedup`
   semantics, bucket-blocked);
3. survivors append to the store with norm/bucket/cell attached, so
   later probes and ANN queries reuse the geometry instead of
   recomputing it.

Like incremental MinHash dedup, cross-batch transitivity is by design
AGAINST the admitted set (a chain a~b~c arriving in different batches
keeps a, drops b, then drops c only if c matches a surviving vector)
— the same first-writer-wins contract the text sinks document.

Per-batch work at scale: the batch side is broadcast into the
bucket-equi-join against the store scan (the store never shuffles);
within-batch pairs are bucket-blocked (bounded blocks, the
`embedding_near_dup_pairs` guard applies); the one staged write is
digest-narrow. Exactly-once across crashes via the same manifest-last
:class:`~hadoop_data_pipeline_spark.streaming.commitlog.BatchCommitLog`
the text sinks use (single store here, but the engine's replay of an
uncommitted batch would still double-append without it).

Reference analogue: the reference has no vector surface; this extends
its incremental-ingest discipline (`jobs/finance_itsc_pipeline.py:32-56`)
to the embedding modality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.functions import dual
from hadoop_data_pipeline_spark.operators import dedup
from hadoop_data_pipeline_spark.operators import similarity as sim
from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog
from hadoop_data_pipeline_spark.streaming.maintenance import compact_sink_stores
from hadoop_data_pipeline_spark.streaming.sink import (
    drain_available_now,
    field_ddl,
    parquet_stream,
    read_store,
    stage_and_release,
)


class StreamingEmbeddingSink:
    """File-source stream of (id, embedding) -> semantically
    deduplicated vector store with retrieval geometry attached."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType | str,
        store_dir: str,
        checkpoint: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
        centroids: list[list[float]] | None = None,
    ):
        """``centroids`` injects the pinned IVF coarse quantizer
        (:func:`similarity.fit_coarse_quantizer` — the versioned
        ~kilobyte artifact); when omitted the ``cell`` column is
        skipped (bucket-only geometry)."""
        self.spark = spark
        self.source_dir = source_dir.rstrip("/")
        self.schema = schema
        self.store_dir = store_dir.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.centroids = (
            [[float(x) for x in c] for c in centroids] if centroids else None
        )
        self.commit_log = BatchCommitLog(
            f"{self.checkpoint}/commitlog",
            {"store": self.store_dir},
            run_id_file=f"{self.checkpoint}/metadata",
        )

    # -- geometry ---------------------------------------------------------

    def enrich(self, df: DataFrame) -> DataFrame:
        """Attach the retrieval geometry: staged norm, LSH bucket,
        and (with a quantizer) the IVF cell — one codegen'd
        projection, computed ONCE at ingest and reused by every later
        probe/query instead of per-read."""
        out = df.withColumn(
            "norm", F.expr(dual.norm(self.vec_col, dual.SPARK))
        ).withColumn(
            "bucket", F.expr(dual.ann_bucket(self.vec_col, dual.SPARK))
        )
        if self.centroids is not None:
            # SHARED assignment expressions (similarity.centroid_d2_expr
            # + CELL_FROM_D2): the sink's cells can never diverge from
            # ann_topk_ivf's, and the centroid literal tree is staged
            # ONCE into __d2 instead of inlined per consumer (the
            # inlined form measurably doubled cold-plan time).
            out = (
                out.withColumn(
                    "__d2",
                    F.expr(
                        sim.centroid_d2_expr(self.centroids, self.vec_col)
                    ),
                )
                .withColumn("cell", F.expr(sim.CELL_FROM_D2))
                .drop("__d2")
            )
        return out

    # -- persisted state --------------------------------------------------

    def store(self) -> DataFrame:
        """The admitted vector store (empty-safe, typed)."""
        ddl = (
            f"{self.id_col} {field_ddl(self.schema, self.id_col)}, "
            f"{self.vec_col} {field_ddl(self.schema, self.vec_col)}, "
            f"norm double, bucket int"
        )
        if self.centroids is not None:
            ddl += ", cell int"
        return read_store(self.spark, self.store_dir, ddl)

    # -- admission --------------------------------------------------------

    def admit(self, batch_enriched: DataFrame, stored: DataFrame) -> DataFrame:
        """Survivor ids for one batch under the admission rule (module
        doc). Pure function of (batch, store) — the batch reference in
        the tests calls exactly this against in-memory state."""
        cos = dual.cosine_staged("bv", "sv", "bn", "sn", dual.SPARK)
        b = batch_enriched.selectExpr(
            f"{self.id_col} AS bid",
            f"{self.vec_col} AS bv",
            "norm AS bn",
            "bucket",
        )
        s = stored.selectExpr(
            f"{self.vec_col} AS sv", "norm AS sn", "bucket"
        )
        dup_vs_store = (
            F.broadcast(b)
            .join(s, "bucket")
            .where(F.expr(cos) >= self.threshold)
            .select(F.col("bid").alias(self.id_col))
            .distinct()
        )
        fresh = batch_enriched.join(dup_vs_store, self.id_col, "left_anti")
        pairs = sim.embedding_near_dup_pairs(
            fresh,
            threshold=self.threshold,
            id_col=self.id_col,
            vec_col=self.vec_col,
            block_col="bucket",
        ).select("id_a", "id_b")
        comps = dedup.connected_components(
            pairs, fresh.select(self.id_col), id_col=self.id_col
        )
        return comps.where(
            F.col(self.id_col) == F.col("cluster_id")
        ).select(self.id_col)

    # -- streaming --------------------------------------------------------

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.commit_log.is_committed(batch_id):
            return  # replay of a marker-committed batch: no-op
        enriched = self.enrich(batch_df)
        survivor_ids = self.admit(enriched, self.store())
        # Decide survivors EXACTLY ONCE: the admit plan reads the
        # store directory the append below mutates.
        with stage_and_release(
            enriched.join(survivor_ids, self.id_col),
            f"{self.checkpoint}/staging-{batch_id}",
        ) as survivors:
            self.commit_log.commit_appends(batch_id, [
                lambda: survivors.write.mode("append").parquet(self.store_dir),
            ])

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Drain everything currently in ``source_dir``, then stop —
        one cron tick of continuous vector ingest
        (:func:`drain_available_now`)."""
        self.commit_log.recover()
        return drain_available_now(
            parquet_stream(self.spark, self.schema, self.source_dir),
            self._process_batch,
            self.checkpoint,
            timeout_sec,
        )

    # -- maintenance --------------------------------------------------------

    def compact_store(self, target_bytes: int = 128 * 1024 * 1024) -> int:
        """Between-ticks small-file compaction of the vector store, whose
        per-batch part files would otherwise come to dominate every
        probe's open/footer cost. Runs under the commit log's writer
        lease (safety contract in `streaming/maintenance.py`), so it
        raises
        :class:`~hadoop_data_pipeline_spark.streaming.commitlog.ConcurrentWriterError`
        if a tick is live. Returns the post-compaction file count
        (0 for a store that has not admitted anything yet)."""
        return compact_sink_stores(
            self.spark, self.commit_log, target_bytes=target_bytes
        )["store"]

    # -- queries over the accumulated store -------------------------------

    def ann_topk(self, query_ids, k: int = 5, n_probe: int = 1) -> DataFrame:
        """Bucket-blocked approximate top-k over the ADMITTED store,
        reusing the geometry persisted at ingest (no recomputation):
        probe rows broadcast into the bucket equi-join.

        ``n_probe > 1`` enables MULTI-PROBE (default 1 keeps the
        historical single-bucket behavior): each query also probes its
        ``n_probe - 1`` most-promising Hamming-1 neighbor buckets —
        the ones across the planes with the smallest projection margin
        (:func:`similarity.lsh_probe_buckets_expr`) — recovering the
        near neighbors single-bucket LSH loses to a sign flip
        (recall-pinned in ``tests/test_embed_sink.py``). The fan-out
        is query-side only: |Q| x n_probe broadcast rows; the store
        side never replicates. No distinct is needed — a candidate
        lives in exactly one bucket and the probe list is distinct, so
        each (query, cand) pair arises at most once."""
        if n_probe < 1:
            # validate the degenerate path too — the expression helper
            # only guards the multi-probe branch, and a 0/negative
            # value from a config typo must not silently mean "1".
            raise ValueError(f"n_probe must be >= 1, got {n_probe}")
        st = self.store()
        cos = dual.cosine_staged("qv", "cv", "qn", "cn", dual.SPARK)
        q = st.where(F.col(self.id_col).isin(*list(query_ids))).selectExpr(
            f"{self.id_col} AS query_id",
            f"{self.vec_col} AS qv",
            "norm AS qn",
            "bucket",
        )
        if n_probe > 1:
            q = q.selectExpr(
                "query_id",
                "qv",
                "qn",
                f"explode({sim.lsh_probe_buckets_expr('qv', 'bucket', n_probe)})"
                " AS bucket",
            )
        c = st.selectExpr(
            f"{self.id_col} AS cand_id",
            f"{self.vec_col} AS cv",
            "norm AS cn",
            "bucket",
        )
        from hadoop_data_pipeline_spark.operators.queries import (
            top_k_per_group,
        )

        scored = (
            F.broadcast(q)
            .join(c, "bucket")
            .where(F.col("query_id") != F.col("cand_id"))
            .selectExpr("query_id", "cand_id", f"{cos} AS cosine")
        )
        return top_k_per_group(
            scored, ["query_id"], "cosine", k=k, tie_breakers=["cand_id"]
        )

    def drift_report(self, baseline: DataFrame, smoothing: float = 0.5) -> DataFrame:
        """Per-cell PSI of the ADMITTED store's population against a
        BASELINE frame (a previous store snapshot, or any frame with
        a ``cell`` column) — continuous distribution monitoring on
        the vector store, reusing the cell persisted at admission
        (`operators/similarity.py::psi_from_cells`; never re-derived
        from the vectors). Requires a quantizer-enabled sink.

        The operational loop this enables at 100 TB: snapshot the
        store's 16-row cell histogram at each publication, and alert
        when sum(psi_contrib) vs the last accepted snapshot crosses
        ~0.2 — two kilobyte aggregates per tick, independent of store
        size."""
        if self.centroids is None:
            raise ValueError(
                "drift_report requires a quantizer-enabled sink "
                "(centroids=...); without cells there is no "
                "distribution to compare"
            )
        return sim.psi_from_cells(
            baseline.select("cell"),
            self.store().select("cell"),
            n_cells=len(self.centroids),
            smoothing=smoothing,
        )

    def drift_advisory(
        self, baseline: DataFrame, smoothing: float = 0.5
    ) -> DataFrame:
        """:meth:`drift_report` composed with
        `operators/similarity.py::drift_refit_advisory` — the
        per-publication check that closes the pinned-artifact
        lifecycle: when the admitted store's cell distribution has
        drifted past the PSI re-fit band, the returned frame says
        ``status='refit'`` on every row, and the operator follows
        docs/QUANTIZER_DRIFT_RUNBOOK.md (re-fit, re-pin, re-gate —
        never auto-mutate the artifacts under a live store)."""
        return sim.drift_refit_advisory(
            self.drift_report(baseline, smoothing=smoothing)
        )
