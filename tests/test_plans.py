"""Physical-plan regression tests (SURVEY.md §4, scale contract).

Correctness tests say WHAT each operator computes; these pin HOW —
the plan properties that make the same code viable at 100 TB:
column-pruned scans, filter pushdown to parquet, map-side partial
aggregation, broadcast for small build sides, and window top-k
pushdown. If a refactor silently loses one of these, this file fails
even though results stay correct."""

from __future__ import annotations

import pytest

from hadoop_data_pipeline_spark import queries_catalog as qc

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return qc.QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def scans_of(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "filtered_sum_returned_revenue")
    (scan,) = scans_of(plan)
    # Only the 3 needed columns of lineitem's 16 reach the scan...
    assert "[l_extendedprice" in scan and "l_returnflag" in scan
    assert "l_orderkey" not in scan
    # ...and the predicate is applied at the data source.
    assert "l_returnflag" in scan.split("DataFilters:")[1]


def test_partial_aggregation_before_shuffle(spark):
    plan = plan_of(spark, "pricing_summary")
    # Map-side combine: partial_sum below the exchange, final above.
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")


def test_small_dims_broadcast(spark):
    plan = plan_of(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # nation (25 rows) must never be the shuffle side of a sort-merge.
    assert "SortMergeJoin" not in plan


def test_anti_join_broadcasts(spark):
    plan = plan_of(spark, "customers_without_orders")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_window_topk_pushdown(spark):
    # rank-limit window queries get WindowGroupLimit: per-partition
    # top-1 is taken BEFORE the shuffle, so the exchange moves one row
    # per (user, event_type) per input partition instead of all rows.
    plan = plan_of(spark, "latest_event_per_user_type")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[2]


def test_unpivot_is_narrow(spark):
    # Expand, not shuffle: wide->long must add zero exchanges beyond
    # what the source scan needs.
    plan = plan_of(spark, "unpivot_part_measures")
    assert "Expand" in plan
    assert "Exchange" not in plan


@pytest.mark.parametrize(
    "name",
    ["text_token_stats", "doc_fingerprint", "simhash_docs"],
)
def test_text_projections_have_no_shuffle(spark, name):
    # Pure per-row projections must stay free of KEYED shuffles end to
    # end: no hash/range exchange may appear (nothing groups or sorts).
    # The single allowed exchange is the r16 small-scan scatter
    # (round-robin, queries.scatter_small_scan) that spreads the
    # tokenize projection across cores — a no-op at production split
    # counts, so the at-scale contract (zero exchanges) is unchanged.
    plan = plan_of(spark, name)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges == plan.count("Exchange RoundRobinPartitioning")


def test_exact_dedup_shuffles_digest_not_text(spark):
    plan = plan_of(spark, "dedup_exact_docs")
    scan = scans_of(plan)[0]
    assert "text" in scan  # text read for hashing...
    ex = plan.split("Exchange hashpartitioning")[1].split("\n")[0]
    assert "__key" in ex or "content_key" in ex  # ...but only digests shuffle


def test_image_near_dup_shuffles_ints_not_pixels(spark):
    """The image near-dup plan's contract at 100 TB: payloads (and
    the rendered pixel bytes) stay inside the map-side mapInPandas
    chain; every Exchange carries only the (band_id, band_key) ints
    or the final (id_a, id_b, hamming) pair rows."""
    plan = plan_of(spark, "image_near_dup_phash")
    assert "MapInPandas" in plan  # render + dhash are Arrow kernels
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg.split("\n")[0]
        assert "payload" not in head
    # lossless banding, never an all-pairs join
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_semi_join_broadcasts(spark):
    plan = plan_of(spark, "order_priority_counts")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_interval_join_is_not_cartesian(spark):
    # equi-key + time-range join must plan as a keyed join (hash/SMJ),
    # never a cartesian/broadcast-nested-loop over all rows.
    plan = plan_of(spark, "clicks_before_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_cube_is_single_expand_pass(spark):
    plan = plan_of(spark, "cube_returnflag_linestatus")
    assert "Expand" in plan
    # one scan feeds all grouping sets
    assert len(scans_of(plan)) == 1


def test_topk_orderby_limit_is_bounded(spark):
    # ORDER BY ... LIMIT k must plan as TakeOrderedAndProject (k rows
    # per partition cross the wire), not a global sort.
    plan = plan_of(spark, "top_returning_customers")
    assert "TakeOrderedAndProject" in plan


def test_gap_stats_window_has_no_python_stage(spark):
    # The default gap-stats path is the lag-window + percentile form:
    # one hash exchange on user_id and zero Python/Arrow stages (the
    # applyInPandas kernel remains as the custom-kernel variant).
    plan = plan_of(spark, "user_event_gap_stats_window")
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_driver_window_covers_load_bearing_queries():
    # The round driver oracle-checks only the FIRST 50 registered
    # queries. The r12+ rotation contract is the STALENESS RULE
    # (COVERAGE.md): new entries lead, then the stalest cohorts by
    # CORRECTNESS_r*.json history, no entry's latest driver check
    # older than 4 rounds, and no slot spent on a `no_oracle` row
    # (the sketches/BPE already carry their committed BOUNDS_r{N}.json
    # verdicts; a driver slot would prove nothing).
    names = list(qc.QUERIES)
    first50 = names[:50]
    for required in (
        # representatives of the r13-cohort REMAINDER (exactly 4
        # rounds old at r17 — the staleness bound's hard edge; all 33
        # are in the window, these pin corners)
        "event_type_transitions",
        "min_cost_supplier_per_part",
        "user_journey_paths",
        "weekly_cohort_retention",
        # VERDICT r16 item 3: rewritten queries get independent
        # driver-side oracle confirmation the round after the rewrite
        "association_rules_copurchase",
        "copurchase_triangle_counts",
        "sole_failing_supplier",
        "benchmark_contamination",
        "decontaminate_corpus",
        # r17 rewrites/vectorizations landing this round
        "pagerank_part_supplier",
        "prepare_training_shards",
        "clean_corpus",
        "video_scene_near_dup",
        "ngram_jaccard_pairs_lang",
    ):
        assert required in first50, required
    # every slot carries an exact value-hash oracle
    assert all(n in qc.ORACLES for n in first50)
    assert not (set(first50) & set(qc.BOUND_ORACLES))
    assert "bpe_tokenize_docs" not in first50


def test_ivf_pretrained_plan_shape(spark):
    """The pinned-quantizer IVF query must keep its scale contract:
    the 10-row probe side BROADCASTS into the cell join (never a
    shuffled join of the corpus against itself), top-k is pushed down
    as WindowGroupLimit (partial limit before the exchange), the cell
    assignment is computed ONCE and reused from cache by both join
    sides, and — with centroids pinned — there is no Python stage and
    no driver-side fit anywhere in the plan."""
    plan = plan_of(spark, "embedding_ann_ivf_topk")
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "InMemoryRelation" in plan  # assignment cached, not re-derived
    assert "Python" not in plan  # pure JVM expressions
    # only the embeddings table feeds the whole query (both sides of
    # the join read the SAME cached assignment over it); non-empty
    # guard keeps this from passing vacuously if the cache stops
    # rendering its FileScan lines
    scans = scans_of(plan)
    assert scans and all("embeddings" in s for s in scans)


def test_multiprobe_and_filtered_ann_plan_shape(spark):
    """The multi-probe / filtered ANN queries must keep their scale
    contract: the exploded probe side BROADCASTS into the bucket join
    (BuildLeft — the corpus side never replicates or shuffles for the
    join), top-k is window-pushed (partial WindowGroupLimit before the
    single exchange), and no Python stage anywhere (margin ranking is
    pure codegen arithmetic)."""
    for name in (
        "embedding_ann_multiprobe_topk",
        "embedding_ann_filtered_topk",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan and "BuildLeft" in plan, name
        assert plan.count("WindowGroupLimit") >= 2, name
        assert "Python" not in plan, name
        scans = scans_of(plan)
        assert scans and all("embeddings" in s for s in scans), name


def test_filtered_ann_pushes_sourceable_predicate_to_scan(spark):
    """Pre-filter ANN's scale story: a SOURCE-PUSHABLE slice predicate
    reaches the candidate scan's PushedFilters (row-group pruning at
    100 TB); an arithmetic predicate legitimately stops at a Filter
    node but must still sit BELOW the bucket join (pre-filter, never
    post-filtering the top-k)."""
    from hadoop_data_pipeline_spark.operators import similarity as sim
    from hadoop_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = (
        sim.ann_topk_filtered(emb, list(range(10)), "label = 1", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    cand_scans = [
        s for s in plan.splitlines() if "PushedFilters" in s and "label" in s
    ]
    assert any(
        "EqualTo(label,1)" in s for s in cand_scans
    ), f"equality slice predicate not pushed to scan:\n{plan}"
    # the catalog's modulo form: Filter above the scan, below the join
    plan_mod = plan_of(spark, "embedding_ann_filtered_topk")
    join_pos = plan_mod.index("BroadcastHashJoin")
    filter_pos = plan_mod.index("(label")
    assert filter_pos > join_pos, "slice filter not below the join"


@pytest.mark.parametrize(
    "name", ["repetition_quality_stats", "pii_redaction_stats"]
)
def test_curation_projections_have_no_shuffle(spark, name):
    # Repetition/PII signals are per-row projections: zero exchanges,
    # and the regex/array work stays JVM-side (no Python stages).
    plan = plan_of(spark, name)
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_split_and_mix_are_stateless_filters(spark):
    # Hash split adds columns, mix filters rows — neither may shuffle
    # (statelessness is the scale contract: no sampled state, no sort).
    for name in ("train_val_test_split", "corpus_mix_sample"):
        assert "Exchange" not in plan_of(spark, name), name


def test_contamination_broadcasts_benchmark(spark):
    # The benchmark side must broadcast so the corpus side (100 TB in
    # production) is never shuffled for the join itself; the only hash
    # exchange is the bounded per-(corpus,bench) pair aggregation.
    plan = plan_of(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_topk_partial_agg_and_bounded_sort(spark):
    # Zipfian-head tokens are combined map-side; top-k never sorts the
    # full vocabulary globally.
    plan = plan_of(spark, "token_vocab_top50")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


#: Queries ALLOWED an unpartitioned window: audited bounded frames
#: whose size grows with calendar span / group count, not data volume.
BOUNDED_GLOBAL_WINDOWS = {
    "monthly_revenue_moving_avg",  # ~84 month rows
    "cumulative_distinct_users_daily",  # day-level frame: 1 row/day forever
    # PSI monitor family: window sums run on the POST-AGGREGATE cell
    # frame (<= n_quantizer_cells rows, 16 here) — deliberately chosen
    # over an agg+crossJoin total, which re-evaluated the upstream and
    # doubled the corpus scans (test_drift_advisory_plan_shape).
    "embedding_drift_psi_by_cell",
    "quantizer_drift_advisory",
    # hierarchical prefix-sum's cross-bucket cumulation: the global
    # window runs on the bucket-TOTALS frame (1 row per 10^4 docs,
    # two bigints wide — corpus/10^4 row reduction, ~100 MB in one
    # task even at ~7e10 docs), never on the row-level path. The
    # within-bucket windows partition by bucket and stay <= 10^4 rows.
    "context_chunk_boundary_stats",
}


def _unpartitioned_window_nodes(df) -> list[str]:
    """Walk the physical plan tree and return every Window-family node
    whose partition spec is empty (the 'move everything to one
    partition' shape that kills a row-level path at scale)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    found: list[str] = []
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if "Window" in cls:
            try:
                if node.partitionSpec().isEmpty():
                    found.append(cls)
            except Exception:  # node without partitionSpec
                pass
        kids = node.children()
        for i in range(kids.length()):
            stack.append(kids.apply(i))
        # AQE wraps the real plan; descend into it too.
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
    return found


def test_no_unaudited_global_windows(spark):
    """Catalog-wide scale audit: no query may plan an unpartitioned
    window unless it is on the audited bounded allowlist. This is the
    durable form of Spark's WindowExec warning (which bench.py
    downgrades): a NEW global window on a row-level path fails here."""
    offenders = {}
    for name, fn in qc.QUERIES.items():
        try:
            nodes = _unpartitioned_window_nodes(fn(spark, SF))
        except Exception:
            continue  # non-plannable-without-execution paths
        if nodes and name not in BOUNDED_GLOBAL_WINDOWS:
            offenders[name] = nodes
    assert not offenders, f"unaudited global windows: {offenders}"


def test_ts_normalization_preserves_pushdown(spark):
    """load_table casts timestamp_ntz columns to timestamp (UTC
    session). The cast is order-preserving, so Catalyst must still
    push ts predicates and column pruning through it to the parquet
    scan — without this, every time-filtered query on a 100 TB events
    table would scan the full table."""
    import pyspark.sql.functions as F

    from hadoop_data_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, SF, "events")
    q = (
        ev.where(F.col("ts") >= "2024-06-01")
        .where(F.col("value") > 100)
        .select("event_id", "ts")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    (scan,) = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    pushed = scan.split("PushedFilters:")[1]
    assert "GreaterThanOrEqual(ts" in pushed and "GreaterThan(value" in pushed
    read_schema = scan.split("ReadSchema:")[1]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_latest_agg_form_partial_aggregates_before_shuffle(spark):
    # The max_by aggregation form must plan partial aggregation below
    # the exchange (one candidate per key per partition crosses the
    # shuffle) and must never sort by the timestamp ordering — its
    # SortAggregate sorts by the grouping key only.
    plan = plan_of(spark, "latest_event_agg_form")
    assert "partial_max_by" in plan
    # parent prints before child: the Exchange consumes the partial agg
    assert plan.index("Exchange") < plan.index("partial_max_by")
    for line in plan.splitlines():
        if line.strip().startswith("Sort "):
            assert "ts" not in line and "DESC" not in line


def test_domain_cap_window_group_limit(spark):
    # row_number<=cap must hit WindowGroupLimit: every map task
    # pre-truncates each domain to cap rows BEFORE the exchange, so a
    # hot domain never funnels its full page count through one task.
    plan = plan_of(spark, "domain_cap_per_source")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[2]
    # the window keys are (hash, id) — text never enters the shuffle
    ex = plan.split("Exchange hashpartitioning")[1].split("\n")[0]
    assert "text" not in ex


def test_chunk_docs_is_narrow(spark):
    # chunking is a per-row explode: no shuffle at any point.
    plan = plan_of(spark, "chunk_documents_overlap")
    assert "Exchange" not in plan
    (scan,) = scans_of(plan)
    assert "text" in scan and "lang" not in scan


def test_incremental_dedup_digest_only_shuffle(spark):
    # both shuffles carry the 32-char digest, never document text.
    plan = plan_of(spark, "incremental_dedup_new_docs")
    for part in plan.split("Exchange hashpartitioning")[1:]:
        assert "text" not in part.split("\n")[0]


def test_fuzzy_pairs_no_cross_join(spark):
    # candidate generation must be an equi hash join on the block key.
    plan = plan_of(spark, "fuzzy_name_pairs_part")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_event_level_exchange(spark):
    # lag flag + island sum + run aggregate + lead all cluster on
    # user_id (subset satisfaction), so the event-level data is
    # shuffled exactly once.
    plan = plan_of(spark, "user_state_history_scd2")
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_single_event_level_exchange(spark):
    # the whole ordered funnel (all running-min layers + per-user
    # reduce) must cluster on user_id: one event-level exchange, no
    # step self-joins.
    plan = plan_of(spark, "event_funnel_conversion")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ship_latency_pruned_scans(spark):
    # Q12-shaped large-large join: only the join key + the 3 used
    # columns may reach either scan (lineitem has 11, orders 6).
    plan = plan_of(spark, "ship_latency_priority_counts")
    li_scan = next(s for s in scans_of(plan) if "lineitem" in s)
    od_scan = next(s for s in scans_of(plan) if "orders" in s)
    assert "l_extendedprice" not in li_scan and "l_quantity" not in li_scan
    assert "o_totalprice" not in od_scan and "o_custkey" not in od_scan


def test_daily_anomalies_no_rowlevel_window(spark):
    # the z-score must come from a second aggregate + broadcast of the
    # 1-row stats frame, never from an unpartitioned window over rows.
    plan = plan_of(spark, "daily_revenue_anomalies")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_cumulative_distinct_first_seen_collapse(spark):
    # growth curve = min(day)-per-user collapse, then day-level frame;
    # no COUNT(DISTINCT) expansion and no join.
    plan = plan_of(spark, "cumulative_distinct_users_daily")
    assert "Join" not in plan
    assert "distinct" not in plan.lower() or "partial_min" in plan


def test_bm25_no_explode_and_bounded_topk(spark):
    # fixed-query BM25 must score via per-row tf projections + one
    # broadcast stats frame — no inverted-index explode — and take the
    # top-20 with a per-partition heap, not a global sort.
    plan = plan_of(spark, "keyword_search_bm25")
    assert "Generate" not in plan  # no explode
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_dup_ngram_digest_only_shuffles(spark):
    # both exchanges (df aggregate + per-doc regroup) carry 28-bit
    # trigram hashes, never document text.
    plan = plan_of(spark, "dup_ngram_fraction")
    for part in plan.split("Exchange hashpartitioning")[1:]:
        assert "text" not in part.split("\n")[0]


def test_cdc_merge_single_exchange_with_group_limit(spark):
    # merge-on-read resolution: one hash exchange on the merge key,
    # rank-1 candidates pre-filtered per input partition, no join.
    plan = plan_of(spark, "cdc_upsert_orders")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan


def test_tombstone_purge_broadcasts_tombstones(spark):
    # the 100 TB event log must never shuffle for the tombstone join;
    # only the bounded per-event-type aggregate may exchange.
    plan = plan_of(spark, "tombstone_delete_users")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_integer_only_and_keyed_joins(spark):
    # fixed-point PageRank: the per-iteration edge->rank joins must be
    # keyed hash/SMJ joins; the only nested-loop allowed is the 1-row
    # node-count frame feeding the teleport term.
    plan = plan_of(spark, "pagerank_part_supplier")
    assert "CartesianProduct" not in plan
    # every BroadcastNestedLoopJoin must have the 1-row count frame
    # (a HashAggregate with no grouping keys) as its build side.
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "rank_scaled" in plan
    # the corpus is scanned ONCE into the cached pair/degree frames;
    # every unrolled-iteration reference reads the cache (the inline
    # form planned 22 real lineitem scans — r11 scan-count audit)
    assert "InMemoryTableScan" in plan


def test_salted_aggregate_two_stage(spark):
    # skew rewrite: stage 1 keys on (event_type, __salt) — the hot key
    # fans out — stage 2 combines per-salt partials on the real key.
    plan = plan_of(spark, "salted_event_type_stats")
    assert plan.count("Exchange hashpartitioning") == 2
    first_ex = plan.split("Exchange hashpartitioning")[1].split("\n")[0]
    assert "__salt" in first_ex or "__salt" in plan


def test_grouping_sets_single_expand_pass(spark):
    plan = plan_of(spark, "grouping_sets_revenue")
    assert "Expand" in plan
    assert len(scans_of(plan)) == 1


def test_journey_paths_all_jvm_bounded_topk(spark):
    # ordered path aggregation is pure JVM higher-order functions: no
    # Python stage, one user-keyed exchange for the collect_list, and
    # the top-20 cut is a bounded TakeOrderedAndProject (never a
    # global sort of every distinct path).
    plan = plan_of(spark, "user_journey_paths")
    assert "Python" not in plan and "Arrow" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" in plan


def test_rolling_range_window_single_exchange(spark):
    # the 1h RANGE frame needs exactly one user-keyed shuffle; the
    # frame itself is maintained with moving pointers inside the sort.
    plan = plan_of(spark, "rolling_1h_user_event_stats")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    assert "Python" not in plan


def test_frame_digests_zero_shuffle_single_python_stage(spark):
    # media frame sampling is a map-side explode: exactly one
    # Arrow-batched Python stage, no exchange anywhere, and the scan
    # reads only (doc_id, text).
    plan = plan_of(spark, "media_frame_digests")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    (scan,) = scans_of(plan)
    assert "doc_id" in scan and "text" in scan and "lang" not in scan


def test_dominant_supplier_broadcasts_and_prunes(spark):
    # Q20 shape: the red-part filter reaches the part scan, the
    # filtered dim broadcasts, and lineitem is scanned exactly once.
    plan = plan_of(spark, "dominant_supplier_share")
    assert "BroadcastHashJoin" in plan
    li_scans = [s for s in scans_of(plan) if "l_quantity" in s]
    assert len(li_scans) == 1
    part_scans = [s for s in scans_of(plan) if "p_name" in s]
    assert any("StartsWith" in s or "red" in s for s in part_scans)


def test_transitions_two_keyed_exchanges_no_python(spark):
    # lag window (user key) + transition-matrix agg: exactly two hash
    # exchanges, all JVM.
    plan = plan_of(spark, "event_type_transitions")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Python" not in plan


def test_correlation_single_partial_agg_exchange(spark):
    # integer moments partial-aggregate map-side; one exchange on the
    # 3-value group key, decimal sums all JVM.
    plan = plan_of(spark, "quantity_price_correlation")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")


def test_changelog_keyed_outer_join_no_cartesian(spark):
    # snapshot diff: full-outer on the key, never a cross product;
    # the drift branches re-scan orders but stay key-partitioned.
    plan = plan_of(spark, "cdc_emit_changelog_orders")
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_incremental_near_dup_banded_joins_only(spark):
    # ingest-time near-dup: band-key equi joins + verification joins —
    # no cartesian anywhere, no Python stage, all candidate work keyed.
    plan = plan_of(spark, "incremental_near_dup_new_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_bom_recursive_cte_single_loop(spark):
    # the recursion is one declarative UnionLoop (no driver-side
    # iteration), and the rollup needs a single keyed exchange. The
    # registered query wraps this plan in an eager localCheckpoint to
    # scope the recursion budget, so the pin inspects the inner frame.
    plan = (
        qc._bom_rollup_frame(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "UnionLoop" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_substring_scrub_digest_only_shuffles(spark):
    # exact-substring scrub: every exchange carries digests/ints, the
    # document text never enters a shuffle, and no cartesian appears.
    plan = plan_of(spark, "substring_scrub_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line and "__toks" not in line


def test_bom_checkpoint_schema_stable(spark):
    # Durable guard behind bench.py's LogicalRDD-warning downgrade:
    # the warning fires on exprId differences between the logical and
    # optimized plans of recursion-materialized RDDs, which is benign
    # IFF names and types agree. Pin exactly that: the registered
    # (checkpointed) query's schema equals the lazy recursive frame's
    # schema, name for name, type for type.
    lazy = qc._bom_rollup_frame(spark, SF)
    materialized = qc.QUERIES["bom_rollup_recursive"](spark, SF)
    assert [
        (f.name, f.dataType) for f in materialized.schema.fields
    ] == [(f.name, f.dataType) for f in lazy.schema.fields]


def test_bom_recursion_budget_is_scoped(spark):
    # running the registered query must leave the session's recursion
    # valve exactly as it found it — raised only within the call.
    key = "spark.sql.cteRecursionRowLimit"
    before = spark.conf.get(key, None)
    df = qc.QUERIES["bom_rollup_recursive"](spark, SF)
    assert spark.conf.get(key, None) == before
    # and the recursion really ran (eagerly), matching the lazy form
    assert df.count() == qc._bom_rollup_frame(spark, SF).count()

    # with an explicit pre-set value, that value is restored
    spark.conf.set(key, "123456789")
    try:
        qc.QUERIES["bom_rollup_recursive"](spark, SF)
        assert spark.conf.get(key) == "123456789"
    finally:
        spark.conf.unset(key)


def test_runtime_bloom_filter_injectable(spark):
    # At cluster scale Spark can inject a runtime BLOOM FILTER from a
    # selective dim side into the fact scan (shuffle-input pruning on
    # top of static pushdown).  The size thresholds that gate it
    # (creation side <= 10 MB, application side >= 10 GB scan) are
    # cluster-scale numbers, so the fixtures never trigger it by
    # default — lower them here to pin that OUR join shapes are
    # ELIGIBLE: a selective filter on orders semi-filtering lineitem
    # plans a bloom_filter probe on the fact side.  If a refactor
    # rewrites the join into a form the optimizer can't inject into
    # (e.g. a non-equi wrapper), this fails.
    from hadoop_data_pipeline_spark.sources.readers import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # Force SMJ so the runtime filter is worth injecting (a
        # broadcast join already prunes via DPP/broadcast).
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").where(
            "o_orderpriority = '1-URGENT'"
        )
        q = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower(), plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_dedup_measured_shuffle_is_digest_sized(spark):
    # The plan test above pins the SHAPE (digest keys in the
    # exchange); this pins the measured VOLUME: executing exact dedup
    # must shuffle far fewer bytes than the document text it scanned.
    # A refactor that keeps the groupBy but widens the shuffled row
    # (e.g. dragging `text` along for a later projection) passes the
    # plan-string test and fails here.
    from hadoop_data_pipeline_spark import queries_catalog as qc
    from hadoop_data_pipeline_spark.profile import profile

    m = profile(spark, lambda: qc.QUERIES["dedup_exact_docs"](spark, SF))
    assert m["scan_bytes"] > 0
    assert 0 < m["shuffle_bytes"] < m["scan_bytes"], m


def test_pq_topk_plan_shape(spark):
    """PQ ANN scale contract: the bounded query side broadcasts into
    the ADC scan (BroadcastNestedLoopJoin — there is deliberately no
    join key), top-k is window-pushed (partial WindowGroupLimit before
    the exchange), and no Python stage exists anywhere (encode /
    reconstruct / ADC are all codegen'd expressions)."""
    plan = plan_of(spark, "embedding_pq_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "Python" not in plan
    # the candidate side never shuffles before scoring: the only
    # exchange is the per-query window's.
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ivfpq_plan_shape(spark):
    """IVF-PQ composition contract: probes broadcast into the cell
    join (BuildLeft — the corpus is never the build side), top-k is
    window-pushed, the cell assignment is cached once
    (InMemoryRelation) and reused by both join inputs, and there is
    no Python stage."""
    plan = plan_of(spark, "embedding_ann_ivfpq_topk")
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan
    assert plan.count("WindowGroupLimit") >= 2
    assert "InMemoryRelation" in plan
    assert "Python" not in plan


def test_kmeans_refine_plan_shape(spark):
    """Distributed Lloyd iteration contract: the updated centroids
    (16 rows) BROADCAST back onto the corpus (never a shuffled join
    of corpus vs corpus), the per-(cell, dim) means partial-aggregate
    map-side before their exchange, and the assignment frame is
    persisted (InMemoryRelation) for its two consumers."""
    plan = plan_of(spark, "kmeans_refine_cluster_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_avg" in plan or "partial_average" in plan
    assert "InMemoryRelation" in plan


def test_debounce_single_exchange(spark):
    """The debounce lag window costs exactly ONE hash exchange on the
    dedup key; the per-type summary reuses partial aggregation."""
    plan = plan_of(spark, "debounce_dedup_events")
    # one exchange for the (user_id, event_type) window, one for the
    # event_type groupBy — never more.
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_count" in plan or "partial_sum" in plan


def test_drift_advisory_plan_shape(spark):
    """The quantizer drift advisory keeps the PSI monitor's scale
    contract: EXACTLY two column-pruned embedding scans (base +
    current snapshot; the argmin assignment is a codegen projection)
    — the original agg-plus-crossJoin totals re-evaluated the PSI
    subtree per reference and quietly cost 8 corpus scans; the
    window-sum totals pin it back to 2. Per-cell counts combine
    map-side; everything after them is kilobyte frames; no Python
    stage anywhere."""
    plan = plan_of(spark, "quantizer_drift_advisory")
    scans = scans_of(plan)
    assert len(scans) == 2 and all("embeddings" in s for s in scans)
    # scans read only the split key + vector, with the snapshot-split
    # predicate pushed to the source
    for s in scans:
        assert "[vec_id" in s and "embedding" in s
        assert "label" not in s
        assert "% 2)" in s.split("DataFilters:")[1]
    assert "partial_count" in plan  # per-cell counts combine map-side
    assert "Python" not in plan


def test_decontaminate_broadcast_anti_join(spark):
    """Decontamination must keep the corpus un-shuffled at any scale:
    the bench postings join AND the flagged-id anti join both
    broadcast (no SortMergeJoin anywhere), scans stay column-pruned
    (the output-side corpus scan reads no text), zero Python.

    Corpus-side contract: EXACTLY two corpus scans (the detection
    pass and the anti-join output pass — pinned by the pushed
    `% 97 <> 0` filter). The benchmark side is a persisted staging
    frame since r16 (one tokenize pass shared by the broadcast guard
    and the join build); its cache-FILL FileScan prints once per
    InMemoryRelation reference in `toString`, so it is asserted by
    filter (>= 1, benchmark-pruned) rather than by raw line count —
    the gate's scan_audit (Location-deduped) still pins the real
    totals at documents=3."""
    plan = plan_of(spark, "decontaminate_corpus")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    scans = scans_of(plan)
    assert scans and all("documents" in s for s in scans)
    # partition (not split): a FileScan block printing without a
    # DataFilters section yields '' and fails the assertions readably
    # instead of raising IndexError (ADVICE r16).
    corpus_side = [
        s for s in scans if "NOT ((" in s.partition("DataFilters:")[2]
    ]
    bench_side = [
        s for s in scans if "NOT ((" not in s.partition("DataFilters:")[2]
    ]
    assert len(corpus_side) == 2
    assert bench_side  # cached staging fill, printed per reference
    assert "InMemoryTableScan" in plan  # benchmark staging is cached
    out_side = [s for s in corpus_side if "lang" in s]
    assert out_side and all("text" not in s for s in out_side)


def test_scan_audit_counts_and_budgets(spark):
    """The gate's scan-count audit (tools/scan_audit.py) must count
    planned per-table FileScans correctly: single-scan for a plain
    multi-join aggregate, the PINNED count for a known multi-pass
    plan, and the pagerank cache shape (the r11 22x offender) must
    stay at ONE corpus scan."""
    from tools.scan_audit import DEFAULT_BUDGET, SCAN_BUDGETS, scan_counts

    assert scan_counts(qc.QUERIES["revenue_by_nation"](spark, SF)) == {
        "lineitem": 1, "orders": 1, "customer": 1, "nation": 1,
    }
    assert scan_counts(qc.QUERIES["pagerank_part_supplier"](spark, SF)) == {
        "lineitem": 1,
    }
    inc = scan_counts(qc.QUERIES["incremental_near_dup_new_docs"](spark, SF))
    assert inc["documents"] == SCAN_BUDGETS[
        "incremental_near_dup_new_docs"]["documents"]
    assert DEFAULT_BUDGET == 1


def test_epoch_shuffle_no_global_sort(spark):
    """epoch_shuffle's window must partition on shard — a training
    order that needs one totally-ordered partition (empty PARTITION
    BY) is a single-task sort at 100 TB. Scan stays pruned to the id."""
    plan = plan_of(spark, "epoch_shuffle_order")
    assert "partitionBy=[shard" in plan.replace(" ", "").replace(
        "#", "").lower() or "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan
    (scan,) = scans_of(plan)
    assert "doc_id" in scan and "text" not in scan


def test_padding_waste_partial_agg_and_pruned_scan(spark):
    """padding_waste_by_length_bucket: map-side partial aggregation
    before the exchange (<= 8 groups), scan reads only the text."""
    plan = plan_of(spark, "padding_waste_by_length_bucket")
    assert "partial_count" in plan or "partial_sum" in plan
    (scan,) = scans_of(plan)
    assert "text" in scan and "lang" not in scan
