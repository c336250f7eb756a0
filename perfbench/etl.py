"""``etl_backfill``: the DQ-gated incremental pipeline over a seeded raw
zone of reference-shaped yearly CSVs.

The pipeline is built the way ``pipeline.main`` builds it: no explicit
schema (CSV inference), ``versions_root`` set. One op is one year: a
discovery listing, then ``run_year`` on the oldest pending year. Whole
blocks of eight years (exactly one with a fatal DQ defect), at least one,
run until at least ``--seconds`` have elapsed. Afterwards, outside the timed window,
every year is checked against what the generator predicts: accepted or
rejected, wide and long row counts, a version snapshot, and the
per-(year, category) amount sums read back from the long table.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import fixtures
from common import Result, timing_metrics
from spans import SparkProbe, Tracer, dir_bytes

YEARS_PER_ZONE = 24
BLOCK = 8
MIN_BLOCKS = 1


class Zone:
    """One raw zone and the pipeline writing its outputs."""

    def __init__(self, ctx, name: str, seed: int):
        from hadoop_data_pipeline_spark.pipeline import IncrementalPipeline

        self.root = ctx.fresh_dir(name)
        self.years = {fy.year: fy for fy in fixtures.finance_years(seed, YEARS_PER_ZONE)}
        self.raw_bytes = fixtures.write_raw_zone(
            os.path.join(self.root, "raw"), list(self.years.values())
        )
        self.pipe = IncrementalPipeline(
            ctx.spark,
            raw_root=os.path.join(self.root, "raw"),
            wide_path=os.path.join(self.root, "wide"),
            long_path=os.path.join(self.root, "long"),
            versions_root=os.path.join(self.root, "versions"),
        )
        self.results = []

    def step(self) -> bool:
        """Run the oldest pending year; False when none is left."""
        pending = self.pipe.discover()
        if not pending:
            return False
        year = min(pending)
        self.results.append(self.pipe.run_year(year, pending[year]))
        return True

    def stored_bytes(self) -> int:
        return sum(dir_bytes(os.path.join(self.root, d)) for d in ("wide", "long", "versions"))

    def attempted_raw_bytes(self) -> int:
        done = {r.year for r in self.results}
        return sum(
            dir_bytes(os.path.join(self.root, "raw", f"year={y}")) for y in done
        )


def check(zone: Zone, result: Result) -> None:
    for r in zone.results:
        fy = zone.years[r.year]
        where = f"year {r.year}"
        if r.passed == fy.defective:
            result.fail(f"{where}: passed={r.passed} but defective={fy.defective}")
            continue
        if not r.passed:
            continue
        if (r.wide_rows, r.long_rows) != (len(fy.rows), fy.long_rows):
            result.fail(f"{where}: wide/long rows {r.wide_rows}/{r.long_rows}, "
                        f"expected {len(fy.rows)}/{fy.long_rows}")
            continue
        if r.version_id is None:
            result.fail(f"{where}: no version snapshot")
            continue
        table = pq.read_table(os.path.join(zone.root, "long", f"year={r.year}"))
        sums: dict[str, float] = {}
        for cat, amt in zip(table.column("category").to_pylist(),
                            table.column("amount").to_pylist()):
            sums[cat] = sums.get(cat, 0.0) + amt
        # amounts are whole cents, so any real difference exceeds half a cent
        bad = [c for c in fy.long_sums if abs(sums.get(c, 0.0) - fy.long_sums[c]) > 0.005]
        if table.num_rows != fy.long_rows or bad or set(sums) != set(fy.long_sums):
            result.fail(f"{where}: long table sums differ for {bad[:3]}")


def timed(zone_factory, seconds: float, step=None):
    """Whole blocks of years, at least ``MIN_BLOCKS``, until ``seconds``
    have elapsed; returns (latencies, elapsed, zones)."""
    zones = [zone_factory(0)]
    lat, elapsed = [], 0.0
    while elapsed < seconds or len(lat) < MIN_BLOCKS * BLOCK or len(lat) % BLOCK:
        t0 = time.perf_counter()
        if not (step or Zone.step)(zones[-1]):
            zones.append(zone_factory(len(zones)))
            continue
        dt = time.perf_counter() - t0
        lat.append(dt)
        elapsed += dt
    return lat, elapsed, zones


def run(ctx) -> Result:
    result = Result()
    ctx.start_session()
    t0 = time.perf_counter()
    warm = Zone(ctx, "warm", ctx.seed + 1_000_003)
    for _ in range(2):  # the warm zone's first two years
        warm.step()
    setup_s = ctx.session_s + (time.perf_counter() - t0)

    lat, elapsed, zones = timed(lambda k: Zone(ctx, f"zone{k}", ctx.seed + k), ctx.seconds)
    for z in zones:
        check(z, result)
    result.attempted += len(lat)
    stored = sum(z.stored_bytes() for z in zones)
    raw = sum(z.attempted_raw_bytes() for z in zones)
    result.notes["storage_amp"] = stored / raw
    if not ctx.trace:
        timing_metrics(result, setup_s, lat, len(lat) / elapsed)
        return result

    tracer = Tracer(SparkProbe(ctx.spark), count_jobs=True)
    install(tracer)
    records: dict[str, list[dict]] = {}

    def traced_step(zone: Zone) -> bool:
        tracer.op = f"{zone.root}#{len(zone.results)}"
        try:
            ran = zone.step()
        finally:
            op, tracer.op = tracer.op, None
        if ran:
            key = f"{os.path.basename(zone.root)}/{zone.results[-1].year}"
            records.setdefault(key, []).append(year_record(tracer, op))
        return ran

    try:
        tlat, telapsed, tzones = timed(
            lambda k: Zone(ctx, f"traced{k}", ctx.seed + k), ctx.seconds, traced_step
        )
    finally:
        tracer.unpatch()
    for z in tzones:
        check(z, result)
    result.attempted += len(tlat)
    n = max(1, len(tlat))
    for metric, (key, unit) in LAYER_KEYS.items():
        total = sum(r[key] for recs in records.values() for r in recs)
        result.metrics[metric] = (total / n, unit)
    result.metrics["storage_amp"] = (
        sum(z.stored_bytes() for z in tzones) / sum(z.attempted_raw_bytes() for z in tzones),
        "ratio",
    )
    result.metrics["trace.overhead_frac"] = (
        1.0 - (len(tlat) / telapsed) / (len(lat) / elapsed), "ratio"
    )
    if ctx.dump:
        import json

        with open(ctx.dump, "w") as fh:
            json.dump(records, fh, indent=1, sort_keys=True)
    return result


def install(tracer: Tracer) -> None:
    from hadoop_data_pipeline_spark import atomic, quality
    from hadoop_data_pipeline_spark.pipeline import IncrementalPipeline
    from hadoop_data_pipeline_spark.versioning import Versioner

    def written(span, path):
        span.extra["bytes"] = dir_bytes(path)

    tracer.patch(IncrementalPipeline, "discover", "pipeline.discover")
    tracer.patch(IncrementalPipeline, "read_year", "pipeline.read_year")
    tracer.patch(IncrementalPipeline, "run_year", "pipeline.run_year")
    tracer.patch_everywhere(quality.run_quality_checks, "quality.run_quality_checks")
    tracer.patch_everywhere(atomic.atomic_write_partition, "atomic.atomic_write_partition", written)
    tracer.patch(Versioner, "create_version", "versioning.create_version")
    tracer.patch(Versioner, "cleanup_old_versions", "versioning.cleanup_old_versions")


def year_record(tracer: Tracer, op: str) -> dict:
    spans = [s for s in tracer.spans if s.op == op]

    def top(name):
        return [s for s in spans if s.name == name
                and (s.parent is None or tracer.spans[s.parent].name != name)]

    run_year = top("pipeline.run_year")
    parts = {
        "read": top("pipeline.read_year"),
        "quality": top("quality.run_quality_checks"),
        "atomic": [s for s in top("atomic.atomic_write_partition")
                   if s.parent is not None
                   and tracer.spans[s.parent].name == "pipeline.run_year"],
        "create": top("versioning.create_version"),
        "cleanup": top("versioning.cleanup_old_versions"),
    }
    dur = {k: sum(s.dur for s in v) for k, v in parts.items()}
    jobs = {k: sum(len(s.jobs) for s in v) for k, v in parts.items()}
    year_s = sum(s.dur for s in run_year)
    return {
        "discover_s": sum(s.dur for s in top("pipeline.discover")),
        "read_year_s": dur["read"],
        "read_year_jobs": jobs["read"],
        "quality_s": dur["quality"],
        "quality_jobs": jobs["quality"],
        "atomic_s": dur["atomic"],
        "atomic_jobs": jobs["atomic"],
        "atomic_bytes": sum(s.extra.get("bytes", 0) for s in parts["atomic"]),
        "create_version_s": dur["create"],
        "versioning_jobs": jobs["create"] + jobs["cleanup"],
        "cleanup_s": dur["cleanup"],
        "other_s": year_s - sum(dur.values()),
        "year_jobs": sum(len(s.jobs) for s in run_year),
    }


LAYER_KEYS = {
    "pipeline.discover_s": ("discover_s", "s"),
    "pipeline.read_year_s": ("read_year_s", "s"),
    "pipeline.read_year_jobs": ("read_year_jobs", "count"),
    "quality.run_quality_checks_s": ("quality_s", "s"),
    "quality.jobs": ("quality_jobs", "count"),
    "atomic.atomic_write_partition_s": ("atomic_s", "s"),
    "atomic.jobs": ("atomic_jobs", "count"),
    "atomic.bytes_written": ("atomic_bytes", "bytes"),
    "versioning.create_version_s": ("create_version_s", "s"),
    "versioning.jobs": ("versioning_jobs", "count"),
    "versioning.cleanup_old_versions_s": ("cleanup_s", "s"),
    "pipeline.other_s": ("other_s", "s"),
    "pipeline.year_jobs": ("year_jobs", "count"),
}
