"""Catalog workloads: ``catalog_light`` and ``catalog_heavy``.

Set-up generates the catalog tables, then runs an untimed warm pass
that collects every query and checks its row count and canonical
content hash against ``pins.json``. Each timed pass then builds and
runs every query once, in a seed-shuffled order, through the ``noop``
sink (full computation, nothing collected). Whole passes run until at
least ``--seconds`` have elapsed.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import time

import fixtures
from common import Result, timing_metrics
from spans import SparkProbe, Tracer, union_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")

#: One construction job (the parquet schema inference in ``load_table``)
#: and under 0.25 s warm at sf0.1 on 4 cores, measured on the seed commit.
LIGHT = (
    "binary_payload_stats case_when_agg_per_user "
    "cast_and_literal_projection corpus_mix_sample count_orders_per_year "
    "cumulative_distinct_users_daily dedup_exact_docs distinct_order_years "
    "distinct_user_event_pairs domain_cap_per_source epoch_shuffle_order "
    "event_value_histogram filtered_sum_returned_revenue "
    "forecast_revenue_change grouped_max_event_ts k_anonymity_customers "
    "latest_event_global membership_filter mixture_budget_plan_by_lang "
    "null_and_nonzero_counts padding_waste_by_length_bucket "
    "regexp_extract_source_id supplier_balance_percentile "
    "train_val_test_split weighted_sample_per_lang"
).split()

#: Execution-dominated (shuffle, Python/Arrow kernels) or
#: eager-construction (PageRank, BOM, perceptron) queries.
HEAVY = (
    "ngram_jaccard_pairs_lang association_rules_copurchase "
    "simhash_near_dup_pairs near_dup_pairs_minhash "
    "embedding_ann_ivfpq_rerank_topk hard_negative_pairs_embeddings "
    "user_event_gap_stats image_decode_stats audio_decode_stats "
    "pagerank_part_supplier bom_rollup_recursive quality_perceptron_weights"
).split()

#: Scale factor and data seed per workload. The data is fixed so its
#: answers can be pinned; ``--seed`` picks the query order.
SPECS = {
    "catalog_light": {"queries": LIGHT, "sf": 0.1, "data_seed": 1},
    "catalog_heavy": {"queries": HEAVY, "sf": 0.01, "data_seed": 1},
}


def _oracle_check_module():
    """``tools/oracle_check.py``, loaded read-only for its canonical
    form (sorted columns, dtype-faithful value strings, sorted rows)."""
    path = os.path.join(os.path.dirname(HERE), "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def content_digest(pdf, canon) -> dict:
    """Row count plus an order-insensitive hash of the canonical form."""
    c = canon(pdf, True)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for col in c.columns:
        h.update("\x1e".join(c[col].tolist()).encode())
    return {"rows": int(len(pdf)), "sha256": h.hexdigest()}


def pin_problem(name: str, got: dict, pins: dict) -> str | None:
    """None when ``got`` matches the pinned row count and hash."""
    pin = pins.get(name, {})
    if got == {"rows": pin.get("rows"), "sha256": pin.get("sha256")}:
        return None
    return f"{name}: got {got}, pinned {pin}"


def run_op(spark, fn, sf_dir: str) -> None:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def timed_passes(ctx, names, sf_dir, rng, seconds, op=None):
    """Closed loop of whole passes; returns (latencies, elapsed, errors)."""
    from hadoop_data_pipeline_spark import queries_catalog as qc

    spark = ctx.spark
    op = op or (lambda name: run_op(spark, qc.QUERIES[name], sf_dir))
    lat, errors, elapsed = [], [], 0.0
    while elapsed < seconds or not lat:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                op(name)
            except Exception as ex:  # noqa: BLE001 - counted, never fatal
                errors.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
            dt = time.perf_counter() - t0
            lat.append(dt)
            elapsed += dt
    return lat, elapsed, errors


def run(ctx, workload: str) -> Result:
    from hadoop_data_pipeline_spark import queries_catalog as qc

    result = Result()
    names = SPECS[workload]["queries"]
    with open(PINS) as fh:
        pins = json.load(fh)[workload]["queries"]
    ctx.start_session()
    canon = _oracle_check_module()._canon
    t0 = time.perf_counter()
    sf_dir = ctx.fresh_dir("catalog")
    spec = SPECS[workload]
    fixtures.write_catalog(sf_dir, spec["sf"], spec["data_seed"])

    # Untimed warm pass doubling as the correctness check.
    for name in names:
        ctx.spark.catalog.clearCache()
        result.attempted += 1
        try:
            got = content_digest(qc.QUERIES[name](ctx.spark, sf_dir).toPandas(), canon)
        except Exception as ex:  # noqa: BLE001
            result.fail(f"{name}: raised {type(ex).__name__}: {str(ex)[:200]}")
            continue
        problem = pin_problem(name, got, pins)
        if problem:
            result.fail(problem)
    setup_s = ctx.session_s + (time.perf_counter() - t0)

    rng = random.Random(ctx.seed)
    lat, elapsed, errors = timed_passes(ctx, names, sf_dir, rng, ctx.seconds)
    result.attempted += len(lat)
    for e in errors:
        result.fail(e)
    if not ctx.trace:
        timing_metrics(result, setup_s, lat, len(lat) / elapsed)
        return result

    tracer = Tracer(SparkProbe(ctx.spark), count_jobs=True)
    records: dict[str, list[dict]] = {}
    install(tracer, qc)
    try:
        tlat, telapsed, terrors = timed_passes(
            ctx, names, sf_dir, rng, ctx.seconds,
            op=lambda name: traced_op(ctx.spark, tracer, qc, name, sf_dir, records),
        )
    finally:
        tracer.unpatch()
    result.attempted += len(tlat)
    for e in terrors:
        result.fail(e)
    layer_metrics(result, records, len(tlat))
    result.metrics["trace.overhead_frac"] = (
        1.0 - (len(tlat) / telapsed) / (len(lat) / elapsed), "ratio"
    )
    dump(ctx, records)
    return result


def install(tracer: Tracer, qc) -> None:
    """Trace every catalog builder and the table loader."""
    from hadoop_data_pipeline_spark.sources import readers

    for name in list(qc.QUERIES):
        tracer.patch_item(qc.QUERIES, name, "queries_catalog.build")
    tracer.patch_everywhere(readers.load_table, "sources.readers.load_table")


def traced_op(spark, tracer: Tracer, qc, name: str, sf_dir: str, records) -> None:
    """One query with spans for build, Catalyst planning and execution,
    and the Spark counters of the execution's jobs."""
    probe = tracer.probe
    tracer.op = f"{name}#{len(records.get(name, ()))}"
    try:
        df = qc.QUERIES[name](spark, sf_dir)
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        watermark = probe.last_execution_id()
        with tracer.span("exec") as ex:
            df.write.format("noop").mode("overwrite").save()
        probe.drain()
        stages = probe.stage_totals(ex.jobs)
        sql = probe.sql_totals(watermark)
    finally:
        op, tracer.op = tracer.op, None
    spans = [s for s in tracer.spans if s.op == op]
    top_build = [s for s in spans if s.name == "queries_catalog.build"
                 and (s.parent is None or tracer.spans[s.parent].name != "queries_catalog.build")]
    loads = [s for s in spans if s.name == "sources.readers.load_table"]
    plan = next(s for s in spans if s.name == "catalyst.plan")
    rec = {
        "build_s": sum(s.dur for s in top_build),
        "build_jobs": sum(len(s.jobs) for s in top_build),
        "load_table_s": sum(s.dur for s in loads if not _inside(tracer, s, "sources.readers.load_table")),
        "load_table_jobs": sum(len(s.jobs) for s in loads if not _inside(tracer, s, "sources.readers.load_table")),
        "plan_s": plan.dur,
        "wall_s": ex.dur,
        "jobs": len(ex.jobs),
        "stages": stages["stages"],
        "tasks": stages["tasks"],
        "run_s": stages["run_s"],
        "cpu_s": stages["cpu_s"],
        "shuffle_bytes": stages["shuffle_bytes"],
        "spill_bytes": stages["spill_bytes"],
        "scan_bytes": sql["scan_bytes"],
        "python_bytes": sql["python_bytes"],
        "python_s": sql["python_s"],
        "driver_gap_s": max(0.0, ex.dur - union_seconds(stages["intervals"])),
    }
    records.setdefault(name, []).append(rec)


def _inside(tracer: Tracer, span, name: str) -> bool:
    p = span.parent
    while p is not None:
        if tracer.spans[p].name == name:
            return True
        p = tracer.spans[p].parent
    return False


LAYER_KEYS = {
    "queries_catalog.build_s": ("build_s", "s"),
    "queries_catalog.build_jobs": ("build_jobs", "count"),
    "sources.readers.load_table_s": ("load_table_s", "s"),
    "sources.readers.load_table_jobs": ("load_table_jobs", "count"),
    "catalyst.plan_s": ("plan_s", "s"),
    "exec.wall_s": ("wall_s", "s"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.run_s": ("run_s", "s"),
    "exec.cpu_s": ("cpu_s", "s"),
    "exec.shuffle_bytes": ("shuffle_bytes", "bytes"),
    "exec.scan_bytes": ("scan_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
    "exec.python_bytes": ("python_bytes", "bytes"),
    "exec.python_s": ("python_s", "s"),
    "exec.driver_gap_s": ("driver_gap_s", "s"),
}


def layer_metrics(result: Result, records: dict[str, list[dict]], n_ops: int) -> None:
    """Per-op means over every traced op."""
    for metric, (key, unit) in LAYER_KEYS.items():
        total = sum(r[key] for recs in records.values() for r in recs)
        result.metrics[metric] = (total / max(1, n_ops), unit)


def dump(ctx, records) -> None:
    if ctx.dump:
        with open(ctx.dump, "w") as fh:
            json.dump(records, fh, indent=1, sort_keys=True)
