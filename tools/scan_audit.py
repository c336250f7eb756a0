"""Planned-scan-count audit: count `Scan parquet/orc/csv/json` leaves
per SOURCE TABLE in every catalog query's formatted physical plan and
assert each stays within its pinned budget.

Why this exists (r11 -> r12 verdict): byte-level metrics
(`tools/profile_queries.py`) and wall-time are blind to subtree
re-evaluation at sf0.01 — a 22x re-scan of a 1 MB table is invisible
in both. Counting PLANNED FileScans caught fixed-point PageRank's
unrolled CTE references (22 real lineitem scans) and the PSI
monitor's agg+crossJoin totals (8 scans); scans-per-table is the
number that turns into petabytes first at a 100x scale-up. This tool
makes that one-off audit a per-round gate step so the next
unrolled-CTE or self-referenced-aggregate query can never ship with
an unbudgeted N-x re-scan.

Mechanics: each query is BUILT (not executed) at the audit sf_dir and
its `formatted` explain string parsed for `Location: <Index> [path]`
leaf lines. Formatted mode prints each physical node once —
`ReusedExchange` / `ReusedSubquery` subtrees are references, not
repeats — so the count is real planned scans, not textual plan fanout.
Frames a query persists show up as the cache-build plan's single scan
(`InMemoryTableScan` references add nothing), which is exactly the
at-scale read count. Non-testdata locations (the roundtrip queries'
own temp write-read dirs) are normalized by stripping the mkdtemp
counter suffix so budgets stay deterministic across runs.

Budgets: DEFAULT_BUDGET (1 scan per table) unless the query has an
entry in SCAN_BUDGETS — the committed exception table below, each pin
carrying its justification. The gate fails on ANY query exceeding its
budget; a query planning FEWER scans than a pinned exception prints a
`re-pin` note so slack never accumulates silently.

Budgets are pinned at sf0.001 (plan SHAPE is sf-independent for every
catalog query except adaptive branches, which choose the small-data
plan at both audit sfs; the gate runs the same sf the pins were made
at).

Usage:
    python tools/scan_audit.py [sf_dir] [query ...]

Exit 0 and `scan_audit PASS (N queries, 0 over budget)` on success;
exit 1 listing offenders otherwise. Writes SCAN_AUDIT.json (observed
counts per query) when run over the full catalog.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_BUDGET = 1

#: Exception table: every query allowed >1 planned scan of some table,
#: with the reason the shape is intentional. Counts are scans of the
#: named SOURCE TABLE inside one query plan (column-pruned widths —
#: see METRICS.json for the byte reality of each).
SCAN_BUDGETS: dict[str, dict[str, int]] = {
    # -- two-pass analytics over one table (self-join / union / anti) --
    "union_high_low_value_events": {"events": 2},  # UNION of 2 filters
    "users_purchase_and_error": {"events": 2},  # INTERSECT arms
    "users_purchase_no_error": {"events": 2},  # EXCEPT arms
    "asof_last_purchase_per_click": {"events": 2},  # clicks x purchases
    "range_active_orders_daily": {"orders": 2},  # days x intervals
    "range_overlap_order_pairs": {"orders": 2},  # binned self-join arms
    "range_peak_concurrent_orders": {"orders": 2},  # +1/-1 delta arms
    "clicks_before_purchase": {"events": 2},  # interval self-join
    "purchases_without_prior_click": {"events": 2},  # anti self-join
    "rolling_7d_user_value": {"events": 2},  # grid x obs as-of
    "daily_value_resample_ffill": {"events": 2},  # grid x obs
    "weekly_cohort_retention": {"events": 2},  # cohort x activity
    "tombstone_delete_users": {"events": 2},  # tombstones x live
    "incremental_daily_agg_merge": {"events": 2},  # state x delta halves
    "incremental_distinct_users_hll": {"events": 2},  # state x delta
    # CMS counter build x true-top-k anchor scan, both pruned to the
    # key column; the counter matrix itself is <= 1024 cells
    "cms_heavy_hitter_counts": {"events": 2},
    # copurchase_triangle_counts: re-pinned to the 1-scan default in
    # r16 (grouped within-order pair expansion replaced the self-join).
    "latest_order_join_form": {"orders": 2},  # J1 join form: max x rows
    "table_diff_orders_drift": {"orders": 2},  # snapshot x snapshot
    "daily_revenue_anomalies": {"orders": 2},  # daily x global stats
    "cdc_upsert_orders": {"orders": 3},  # base x changes x dedup-window
    "cdc_emit_changelog_orders": {"orders": 3},  # before x after x keys
    "median_price_by_segment": {"orders": 2, "customer": 2},  # acct-median
    "idle_rich_customers": {"customer": 2},  # percentile x rows
    "top_supplier_revenue": {"lineitem": 2},  # revenue x global max
    "small_quantity_part_revenue": {"lineitem": 2},  # part-avg x rows
    "part_revenue_concentration": {"lineitem": 2},  # per-part x total
    "profile_lineitem_columns": {"lineitem": 2},  # typed-stats unpivot arms
    # sole_failing_supplier / min_cost_supplier_per_part: re-pinned to
    # the 1-scan default in r16 (stacked-aggregate / struct-min
    # rewrites removed the self-join and join-back passes).
    "nation_pair_trade_volume": {"nation": 2},  # supp-nation x cust-nation
    "fuzzy_name_pairs_part": {"part": 2},  # blocked self-join
    # -- documents corpus: staged text pipelines --
    "tfidf_top_terms_per_lang": {"documents": 2},  # tf x df arms
    "segment_dedup_docs": {"documents": 2},  # segments x survivors
    "lang_id_confusion": {"documents": 2},  # predicted x labeled
    "keyword_search_bm25": {"documents": 2},  # postings x doc-norms
    "pack_token_shards": {"documents": 2},  # token-counts x text
    # hierarchical prefix-sum: within-bucket window x bucket totals
    # (both column-pruned to doc_id + token count, same as
    # pack_token_shards' two-pass shape)
    "context_chunk_boundary_stats": {"documents": 2},
    "bpe_tokenize_docs": {"documents": 2},  # train-sample x encode
    "unigram_logprob_quality": {"documents": 3},  # vocab x totals x score
    "curriculum_quality_buckets": {"documents": 3},  # score x bounds x bucket
    # prepare_training_shards: re-pinned to the 1-scan default in r17
    # (split/pack consume clean_corpus's persisted survivors directly
    # via keep_cols — the docs re-scan + semi-join are gone).
    "benchmark_contamination": {"documents": 2},  # corpus x benchmark view
    "decontaminate_corpus": {"documents": 3},  # corpus x benchmark x anti
    "incremental_dedup_new_docs": {"documents": 2},  # index x batch halves
    # In-plan incremental near-dup: new-batch staged 3x + index staged
    # 2x + survivor anti-join base. Measured AGAINST persist-based and
    # checkpoint-fragmented forms at sf0.1 (3.0 s vs 5.6-9.7 s — the
    # single fused job wins; dedup.incremental_near_dup docstring).
    # The 100 TB daily-ingest path is incremental_near_dup_against_
    # bucketed_index (stored band keys, ZERO corpus re-scans); this
    # catalog entry keeps the in-plan form oracle-checkable.
    "incremental_near_dup_new_docs": {"documents": 6},
    # In-plan media probes: new-batch half x index half (the
    # incremental_dedup precedent). The 100 TB path is
    # probe_signature_index_bucketed (stored band rows, zero index
    # re-scan); the catalog entries keep the in-plan form
    # oracle-checkable against the fixtures.
    "incremental_video_scene_probe": {"documents": 2},
    "incremental_image_probe": {"documents": 2},
    "incremental_audio_probe": {"documents": 2},
    # -- embeddings: query-side x corpus-side reads --
    "embedding_cosine_topk": {"embeddings": 2},  # queries x corpus
    "embedding_ann_lsh_topk": {"embeddings": 2},
    "embedding_ann_multiprobe_topk": {"embeddings": 2},
    "embedding_ann_filtered_topk": {"embeddings": 2},
    "embedding_pq_topk": {"embeddings": 2},
    "embedding_near_dup_pairs": {"embeddings": 2},  # banded self-pairs
    # anchor side + candidate side; the sub-blocking probe is an
    # eager bounded aggregate outside the returned plan, and when it
    # finds oversized blocks the tagged projection is PERSISTED (the
    # pair join then reads the cache — operator docstring, SCALE.md
    # r12).
    "hard_negative_pairs_embeddings": {"embeddings": 2},
    "embedding_drift_psi_by_cell": {"embeddings": 2},  # base x current
    "quantizer_drift_advisory": {"embeddings": 2},  # base x current
    # PQ rerank: PQ-scan shortlist + exact-rerank join back to the
    # original vectors (the rerank step RE-READS true vectors by id —
    # that second corpus read is the operator's defining trade) +
    # the query side; 4 pruned scans total.
    "embedding_pq_rerank_topk": {"embeddings": 4},
    # IVF-PQ + cosine rerank: stage 1 reads the corpus once into the
    # persisted assignment cache; stage 2's rerank re-reads raw
    # vectors by id + the query side (the two-stage trade, as above).
    "embedding_ann_ivfpq_rerank_topk": {"embeddings": 3},
}


def fetch_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


_LOC_RE = re.compile(r"Location: \S+ \[([^\]]*)\]")


def normalize(path: str) -> str:
    """Location path -> stable table key. Testdata parquet dirs map to
    the bare table name; temp write-read dirs (roundtrip queries) drop
    the mkdtemp counter suffix so the key is run-deterministic."""
    base = os.path.basename(path.rstrip("/"))
    base = base.removesuffix(".parquet")
    return re.sub(r"_\d+$", "", base)


def scan_counts(df) -> dict[str, int]:
    counts: dict[str, int] = {}
    for m in _LOC_RE.finditer(fetch_plan(df)):
        key = normalize(m.group(1).split(",")[0])
        counts[key] = counts.get(key, 0) + 1
    return counts


def main() -> int:
    from hadoop_data_pipeline_spark import queries_catalog as qc
    from hadoop_data_pipeline_spark.session import get_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:] or list(qc.QUERIES)

    spark = get_session("scan_audit", master="local[4]", shuffle_partitions=4)
    observed: dict[str, dict[str, int]] = {}
    over: list[str] = []
    repin: list[str] = []
    for name in names:
        try:
            counts = scan_counts(qc.QUERIES[name](spark, sf_dir))
        except Exception as ex:  # a build failure is an audit failure
            observed[name] = {"__err__": str(ex)[:200]}
            over.append(f"{name}: plan build failed: {str(ex)[:120]}")
            continue
        observed[name] = counts
        budget = SCAN_BUDGETS.get(name, {})
        for table, n in counts.items():
            cap = budget.get(table, DEFAULT_BUDGET)
            if n > cap:
                over.append(f"{name}: {table} planned {n} scans > budget {cap}")
        for table, cap in budget.items():
            if cap > DEFAULT_BUDGET and counts.get(table, 0) < cap:
                repin.append(
                    f"{name}: {table} now {counts.get(table, 0)} < pinned "
                    f"{cap} — tighten SCAN_BUDGETS"
                )

    if len(names) == len(qc.QUERIES):
        out = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCAN_AUDIT.json")
        with open(out, "w") as fh:
            json.dump(observed, fh, indent=1, sort_keys=True)
    for line in repin:
        print(f"[scan_audit] re-pin: {line}")
    if over:
        for line in over:
            print(f"[scan_audit] OVER: {line}")
        print(f"scan_audit FAIL ({len(names)} queries, {len(over)} over budget)")
        return 1
    print(f"scan_audit PASS ({len(names)} queries, 0 over budget)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
