"""Incremental DQ-gated batch pipeline (SURVEY.md §3.1, §2.13 C2).

The reference's end-to-end flow (``jobs/finance_itsc_pipeline.py`` +
``jobs/finance_itsc_pipeline_test_quality.py``): discover unprocessed
CSVs via ``.done``/``.failed`` sidecar markers, group by the
``year=YYYY`` path component, and per year: read -> normalize -> DQ
gate -> atomic wide write -> snapshot version -> sentinel filter ->
unpivot -> atomic long write -> markers.

This engine keeps the marker protocol (simple, storage-agnostic,
inspectable) and exposes the same flow as :class:`IncrementalPipeline`.
The Structured Streaming ``Trigger.AvailableNow`` variant with
checkpointed file-source offsets lives in ``streaming/`` — same
transformations, checkpoint instead of markers.

Scale notes: discovery is a control-plane listing (driver RPCs, not
data). A year that passes its gate runs six Spark jobs:

* read: 1 (the CSV header; every column is read as a string and
  :func:`normalize_wide` casts);
* DQ gate: 2 (one aggregate, whose partial and final stages AQE runs as
  two jobs; it also counts the wide rows);
* the wide write, the snapshot write and the long write: 1 each. The
  snapshot's row count and checksum and the long row count are observed
  on those writes, not recounted, and the long step re-reads the wide
  partition with its known schema (no footer job).

A year the gate rejects stops after the gate (plus one sample fetch per
failed date-format or total-vs-sum check). Years are independent, so
reading N years concurrently is embarrassingly parallel across
scheduler pools if needed. The unpivot is an Expand (narrow, no
shuffle); the DQ aggregate's is the only shuffle on the path.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.atomic import atomic_write_partition
from hadoop_data_pipeline_spark.fs import FS, extract_year_from_path
from hadoop_data_pipeline_spark.operators.reshape import unpivot
from hadoop_data_pipeline_spark.quality import QualityReport, run_quality_checks
from hadoop_data_pipeline_spark.versioning import Versioner

MONTH_OR_BUDGET = r"^\d{4}-\d{2}$"


def pending_files(all_files: Sequence[str]) -> list[str]:
    """Unprocessed = every ``.csv`` without a ``.done`` or ``.failed``
    sidecar (reference ``finance_itsc_pipeline_test_quality.py:40-47``).
    Pure function over a listing -> unit-testable without a cluster."""
    files = set(all_files)
    return sorted(
        f
        for f in files
        if f.endswith(".csv")
        and f + ".done" not in files
        and f + ".failed" not in files
    )


def group_by_year(files: Sequence[str]) -> dict[int, list[str]]:
    """Group pending files by their ``year=YYYY`` path component; files
    without one are skipped (reference behavior: first match wins)."""
    out: dict[int, list[str]] = defaultdict(list)
    for f in files:
        year = extract_year_from_path(f)
        if year is not None:
            out[year].append(f)
    return dict(out)


def normalize_wide(
    df: DataFrame,
    year: int,
    id_columns: Sequence[str] = ("date", "details"),
) -> DataFrame:
    """P1/P2: id columns -> string, everything else -> double, inject
    the ``year`` int (reference ``finance_itsc_pipeline.py:63-68``).
    Single projection — not a per-column ``withColumn`` loop, which
    would build a 35-deep plan for Catalyst to collapse. A measure that
    does not parse (``n/a``) becomes null, as in the reference's
    non-ANSI cast, instead of failing the year under ANSI mode; the DQ
    gate's total-vs-sum check then warns about its row."""
    cols = [
        F.col(c).cast("string").alias(c)
        if c in id_columns
        else F.col(c).try_cast("double").alias(c)
        for c in df.columns
    ]
    return df.select(*cols, F.lit(year).cast("int").alias("year"))


def wide_to_long(
    df: DataFrame,
    id_columns: Sequence[str] = ("date", "details", "year"),
    exclude: Sequence[str] = ("total_amount",),
    date_col: str = "date",
) -> DataFrame:
    """Sentinel-row filter + unpivot (reference
    ``finance_itsc_pipeline.py:103-113``): keep month keys and
    ``all-year-budget``, drop the two summary sentinels, melt the
    measure columns to (category, amount), drop null amounts."""
    keep = F.col(date_col).rlike(MONTH_OR_BUDGET) | (
        F.col(date_col) == "all-year-budget"
    )
    measures = [c for c in df.columns if c not in id_columns and c not in exclude]
    return unpivot(df.where(keep).drop(*exclude), list(id_columns), measures)


@dataclass
class YearResult:
    year: int
    files: list[str]
    passed: bool
    report: QualityReport
    wide_rows: int = 0
    long_rows: int = 0
    version_id: str | None = None


@dataclass
class PipelineResult:
    years: list[YearResult] = field(default_factory=list)

    @property
    def processed(self) -> list[int]:
        return [y.year for y in self.years if y.passed]

    @property
    def failed(self) -> list[int]:
        return [y.year for y in self.years if not y.passed]


class IncrementalPipeline:
    """Marker-file incremental ETL over a raw CSV zone.

    Layout: ``{raw_root}/year=YYYY/*.csv`` -> wide parquet partitions
    at ``{wide_path}/year=YYYY`` -> long partitions at
    ``{long_path}/year=YYYY`` -> snapshots under ``{versions_root}``.
    """

    def __init__(
        self,
        spark: SparkSession,
        raw_root: str,
        wide_path: str,
        long_path: str,
        versions_root: str | None = None,
        expected_columns: Sequence[str] | None = None,
        schema: T.StructType | None = None,
        alert: Callable[[str, str], None] | None = None,
        keep_versions: int = 5,
    ):
        self.spark = spark
        self.raw_root = raw_root.rstrip("/")
        self.wide_path = wide_path.rstrip("/")
        self.long_path = long_path.rstrip("/")
        self.expected_columns = list(expected_columns) if expected_columns else None
        self.schema = schema
        self.alert = alert or (lambda subject, body: None)
        self.fs = FS(spark)
        self.versioner = (
            Versioner(spark, versions_root, keep=keep_versions)
            if versions_root
            else None
        )

    # -- steps ------------------------------------------------------------
    def discover(self) -> dict[int, list[str]]:
        return group_by_year(pending_files(self.fs.list_files(self.raw_root)))

    def read_year(self, files: list[str], year: int) -> DataFrame:
        """Without an explicit schema every column is read as a string
        (one job, for the header): :func:`normalize_wide` casts anyway,
        and inference would cost a second pass and turn a month-only
        file's ``date`` into a timestamp."""
        reader = self.spark.read.option("header", "true")
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return normalize_wide(reader.csv(files), year)

    def _mark(self, files: list[str], suffix: str) -> None:
        for f in files:
            self.fs.touch(f + suffix)

    # -- run --------------------------------------------------------------
    def run_year(self, year: int, files: list[str]) -> YearResult:
        df = self.read_year(files, year)
        expected = self.expected_columns or [
            c for c in df.columns if c != "year"
        ]
        report = run_quality_checks(df, expected)
        if not report.passed:
            self._mark(files, ".failed")
            self.alert(
                f"DQ failed year={year}", report.render(",".join(files))
            )
            return YearResult(year, files, False, report)

        atomic_write_partition(df, self.wide_path, "year", year)
        version_id = None
        if self.versioner is not None:
            version_id = self.versioner.create_version(
                df, source_file=files[0], year=year
            )
            self.versioner.cleanup_old_versions(year)

        wide = self.spark.read.schema(df.drop("year").schema).parquet(
            f"{self.wide_path}/year={year}"
        )
        seen = {"rows": F.count(F.lit(1))}
        atomic_write_partition(
            wide_to_long(wide.withColumn("year", F.lit(year))),
            self.long_path, "year", year, observe=seen,
        )
        self._mark(files, ".done")
        return YearResult(
            year, files, True, report, report.rows, seen["rows"], version_id
        )

    def run(self, parallel_years: int = 1) -> PipelineResult:
        """Process all pending years. ``parallel_years > 1`` submits
        years concurrently from driver threads — Spark schedules the
        independent job chains in parallel (FAIR/FIFO pools), which is
        how a multi-year backfill saturates a large cluster instead of
        running year-sized jobs back to back. Years are independent by
        construction (disjoint partitions, disjoint markers)."""
        pending = sorted(self.discover().items())
        result = PipelineResult()
        if parallel_years <= 1:
            for year, files in pending:
                result.years.append(self.run_year(year, files))
            return result
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallel_years) as pool:
            futures = [
                pool.submit(self.run_year, year, files)
                for year, files in pending
            ]
            result.years = [f.result() for f in futures]
        result.years.sort(key=lambda y: y.year)
        return result


def main(argv: Sequence[str] | None = None) -> int:
    """spark-submit / cron entry (C7): sensor -> run -> notify.

    Mirrors the reference DAG's three-step flow (file sensor,
    spark-submit, success notification — ``airflow/dags/hadoop_dag.py``)
    as one idempotent invocation: exit 0 with a JSON summary on stdout
    when everything pending processed (or nothing was pending), exit 1
    when any year failed its DQ gate. Marker files make re-runs no-ops,
    so any scheduler cadence is safe (see docs/ORCHESTRATION.md).
    """
    import argparse
    import json as _json
    import sys

    ap = argparse.ArgumentParser(
        prog="hadoop_data_pipeline_spark.pipeline",
        description="Incremental DQ-gated ETL over a raw CSV zone",
    )
    ap.add_argument("--raw-root", required=True)
    ap.add_argument("--wide-path", required=True)
    ap.add_argument("--long-path", required=True)
    ap.add_argument("--versions-root", default=None)
    ap.add_argument("--expected-columns", default=None,
                    help="comma-separated; default: derive from data")
    ap.add_argument("--parallel-years", type=int, default=1)
    ap.add_argument("--check-only", action="store_true",
                    help="sensor mode: exit 0 iff pending input exists")
    args = ap.parse_args(argv)

    from hadoop_data_pipeline_spark.session import get_session

    spark = get_session("incremental_pipeline")
    pipe = IncrementalPipeline(
        spark,
        raw_root=args.raw_root,
        wide_path=args.wide_path,
        long_path=args.long_path,
        versions_root=args.versions_root,
        expected_columns=(
            args.expected_columns.split(",") if args.expected_columns else None
        ),
    )
    if args.check_only:
        pending = pipe.discover()
        print(_json.dumps({"pending_years": sorted(pending)}))
        return 0 if pending else 1
    result = pipe.run(parallel_years=args.parallel_years)
    summary = {
        "years": [
            {
                "year": y.year,
                "passed": y.passed,
                "wide_rows": y.wide_rows,
                "long_rows": y.long_rows,
                "version_id": y.version_id,
            }
            for y in result.years
        ]
    }
    print(_json.dumps(summary), file=sys.stdout)
    return 0 if all(y.passed for y in result.years) else 1


if __name__ == "__main__":  # pragma: no cover - exercised via main()
    raise SystemExit(main())
