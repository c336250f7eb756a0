"""Declarative data-quality gate (SURVEY.md §2.13 C3).

The five checks of the reference's ``jobs/data_quality.py`` with the
same fatal/warn severities and pass/fail semantics, re-expressed as
**fully distributed** Spark expressions:

* The reference `collect()`s every distinct date to the driver and
  does a driver-side adjacent-pair loop for the monotonic check
  (``jobs/data_quality.py:56,95-101``). Here the ``remaining`` run is
  sorted inside the aggregate and its adjacent pairs compared there;
  the driver only ever receives counts and <=3 sample rows per check.
* :func:`run_quality_checks` computes every check's metric, plus the
  row count, in ONE aggregate (two jobs under AQE: the partial
  aggregate's stage and the final one). A failed date-format or
  total-vs-sum check adds one bounded sample fetch each.

Severity contract (reference ``README.md:237-245``): schema-missing,
nulls in id columns, and bad date format are FATAL (block the load);
total-vs-sum mismatch and non-monotonic remaining are WARN (load
proceeds, report notes it).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MONTH_RE = r"^\d{4}-\d{2}$"
#: Sentinel date values (SURVEY.md §1.3).
REQUIRED_SENTINELS = ("all-year-budget", "total spent", "remaining")

#: The reference's 35-column wide-table contract (data_quality.py:11-26).
ID_COLUMNS = ["date", "details"]
TOTAL_COLUMN = "total_amount"


@dataclass
class CheckResult:
    name: str
    severity: str  # "fatal" | "warn"
    passed: bool
    messages: list[str] = field(default_factory=list)


@dataclass
class QualityReport:
    results: list[CheckResult] = field(default_factory=list)
    rows: int = 0  #: rows the gate scanned

    @property
    def passed(self) -> bool:
        """Fatal failures block the load; warnings do not."""
        return all(r.passed or r.severity == "warn" for r in self.results)

    @property
    def errors(self) -> list[str]:
        return [
            m for r in self.results if not r.passed and r.severity == "fatal"
            for m in r.messages
        ]

    @property
    def warnings(self) -> list[str]:
        return [
            m for r in self.results if not r.passed and r.severity == "warn"
            for m in r.messages
        ]

    def render(self, filepath: str = "") -> str:
        lines = [f"File: {filepath}", ""]
        if self.errors:
            lines += ["ERRORS:", *self.errors, ""]
        if self.warnings:
            lines += ["WARNINGS:", *self.warnings]
        return "\n".join(lines)


def check_schema(df: DataFrame, expected_columns: list[str]) -> CheckResult:
    """Missing columns are fatal; extra columns only warn (reported in
    the message list but don't fail the check) — reference
    ``check_schema`` contract."""
    missing = sorted(set(expected_columns) - set(df.columns))
    extra = sorted(set(df.columns) - set(expected_columns))
    messages = []
    if missing:
        messages.append(f"Missing columns: {missing}")
    if extra:
        messages.append(f"Extra columns: {extra}")
    return CheckResult("schema", "fatal", not missing, messages)


def check_nulls(df: DataFrame, columns: list[str] = ID_COLUMNS) -> CheckResult:
    """Null counts for every checked column in one aggregate pass."""
    present = [c for c in columns if c in df.columns]
    if not present:
        return CheckResult("nulls", "fatal", True)
    counts = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in present]
    ).collect()[0]
    messages = [
        f"Column '{c}' has {counts[c]} null rows" for c in present if counts[c]
    ]
    return CheckResult("nulls", "fatal", not messages, messages)


def _valid_date(d: Column, sentinels=REQUIRED_SENTINELS) -> Column:
    return d.rlike(MONTH_RE) | F.array_contains(
        F.array(*[F.lit(x) for x in sentinels]), d
    )


def check_date_format(
    df: DataFrame,
    date_col: str = "date",
    required_sentinels: tuple[str, ...] = REQUIRED_SENTINELS,
) -> CheckResult:
    """Every date is a ``YYYY-MM`` month key or a known sentinel, and
    all required sentinels are present — one aggregate job (the
    reference collects all distinct dates to the driver)."""
    d = F.col(date_col)
    valid = _valid_date(d, required_sentinels)
    agg = df.agg(
        F.sum((~valid).cast("long")).alias("n_invalid"),
        *[
            F.max((d == F.lit(s)).cast("int")).alias(f"has_{i}")
            for i, s in enumerate(required_sentinels)
        ],
    ).collect()[0]
    messages = []
    missing = {
        s for i, s in enumerate(required_sentinels) if not agg[f"has_{i}"]
    }
    if missing:
        messages.append(f"Missing required rows: {missing}")
    if agg["n_invalid"]:
        samples = [
            r[0]
            for r in df.where(~valid).select(date_col).limit(3).collect()
        ]
        messages.append(
            f"Invalid date format ({agg['n_invalid']} rows): {samples}"
        )
    return CheckResult("date_format", "fatal", not messages, messages)


def check_total_vs_sum(
    df: DataFrame,
    measure_columns: list[str],
    total_col: str = TOTAL_COLUMN,
    date_col: str = "date",
    tolerance: float = 0.01,
) -> CheckResult:
    """WARN: |total - Σ coalesce(measure, 0)| <= tolerance * total on
    analytics rows (month keys + all-year-budget). Reports <=3 samples."""
    present = [c for c in measure_columns if c in df.columns]
    if total_col not in df.columns or not present:
        return CheckResult("total_vs_sum", "warn", True)
    computed = sum((F.coalesce(F.col(c), F.lit(0.0)) for c in present), F.lit(0.0))
    scope = F.col(date_col).rlike(MONTH_RE) | (F.col(date_col) == "all-year-budget")
    bad = (
        df.where(scope)
        .select(date_col, "details", total_col, computed.alias("computed_sum"))
        .where(
            F.abs(F.col(total_col) - F.col("computed_sum"))
            > F.col(total_col) * tolerance
        )
    )
    samples = bad.limit(3).collect()
    messages = [
        f"total_amount mismatch at {r[date_col]}/{r['details']}: "
        f"total={r[total_col]:.0f}, computed={r['computed_sum']:.0f}"
        for r in samples
    ]
    return CheckResult("total_vs_sum", "warn", not messages, messages)


def _remaining_run(date_col: str = "date") -> Column:
    """The reference's monotonic scope: ``remaining`` rows at month keys."""
    return (F.col("details") == "remaining") & F.col(date_col).rlike(MONTH_RE)


def _increases(value_col: str, order_col: str, where: Column) -> Column:
    """Aggregate expression: the first <=3 adjacent pairs ``(a, b)`` of
    the ``where`` rows, sorted by ``(order_col, value_col)``, whose
    value increases. Each side is a ``(k, v)`` struct. A null value
    compares as neither side of an increase (as a ``lag`` window
    would); equal keys sort by value ascending, so a month repeated
    with two totals reports an increase."""
    run = F.array_sort(F.collect_list(F.when(where, F.struct(
        F.col(order_col).alias("k"), F.col(value_col).alias("v")))))
    # slice(run, 2, size) is empty, not an error, on an empty run; the
    # last pair's b is null and drops out of the filter
    pairs = F.zip_with(run, F.slice(run, 2, F.size(run)),
                       lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return F.slice(F.filter(pairs, lambda p: p["b"]["v"] > p["a"]["v"]), 1, 3)


def _monotonic_result(pairs, value_col: str) -> CheckResult:
    messages = [
        f"{value_col} increased at {p['b']['k']}: "
        f"{p['a']['v']:.0f} -> {p['b']['v']:.0f}"
        for p in pairs
    ]
    return CheckResult("monotonic", "warn", not messages, messages)


def check_monotonic_non_increasing(
    df: DataFrame,
    value_col: str = TOTAL_COLUMN,
    order_col: str = "date",
    where: Column | None = None,
) -> CheckResult:
    """WARN: ``value_col`` never increases along ``order_col`` — the
    reference's remaining-balance invariant, as one aggregate instead
    of a driver-side pairwise loop (SURVEY.md §2.7 O1).

    Default scope matches the reference: rows where
    ``details = 'remaining'`` and the date is a month key."""
    where = _remaining_run(order_col) if where is None else where
    pairs = df.agg(_increases(value_col, order_col, where)).collect()[0][0]
    return _monotonic_result(pairs, value_col)


def check_domain(
    df: DataFrame,
    column: str,
    allowed: tuple[str, ...],
    severity: str = "fatal",
) -> CheckResult:
    """Column values restricted to a closed domain (e.g. the long
    table's ``details`` in {budget, spent, remaining} — FIXTURES.md
    §2). One aggregate; <=3 offending samples on failure."""
    if column not in df.columns:
        return CheckResult(f"domain_{column}", severity, True)
    bad = ~F.col(column).isin(*allowed) | F.col(column).isNull()
    n = df.agg(F.sum(bad.cast("long")).alias("n")).collect()[0]["n"] or 0
    messages = []
    if n:
        samples = [
            r[0] for r in df.where(bad).select(column).limit(3).collect()
        ]
        messages.append(
            f"Column '{column}' outside domain {allowed} ({n} rows): {samples}"
        )
    return CheckResult(f"domain_{column}", severity, not messages, messages)


def run_quality_checks(
    df: DataFrame,
    expected_columns: list[str],
    measure_columns: list[str] | None = None,
) -> QualityReport:
    """The reference's five-check gate in order (schema, nulls, date
    format, total-vs-sum, remaining-monotonic), plus the row count.

    Every check's metric comes from ONE aggregate over the table — at
    100 TB each separate check action is its own full scan — fetching
    bounded samples only for checks that actually failed. The results
    equal the ``check_*`` functions run one by one."""
    measures = measure_columns or [
        c
        for c in expected_columns
        if c not in (*ID_COLUMNS, TOTAL_COLUMN)
    ]
    report = QualityReport()
    report.results.append(check_schema(df, expected_columns))

    null_cols = [c for c in ID_COLUMNS if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
        for c in null_cols
    ]
    has_date = "date" in df.columns
    present_measures = [c for c in measures if c in df.columns]
    do_total = has_date and TOTAL_COLUMN in df.columns and present_measures
    do_monotonic = (
        has_date and "details" in df.columns and TOTAL_COLUMN in df.columns
    )
    if has_date:
        d = F.col("date")
        aggs.append(F.sum((~_valid_date(d)).cast("long")).alias("__n_bad_date"))
        aggs += [
            F.max((d == F.lit(s)).cast("int")).alias(f"__has_{i}")
            for i, s in enumerate(REQUIRED_SENTINELS)
        ]
        if do_total:
            computed = sum(
                (F.coalesce(F.col(c), F.lit(0.0)) for c in present_measures),
                F.lit(0.0),
            )
            scope = d.rlike(MONTH_RE) | (d == "all-year-budget")
            mismatch = scope & (
                F.abs(F.col(TOTAL_COLUMN) - computed)
                > F.col(TOTAL_COLUMN) * 0.01
            )
            aggs.append(F.sum(mismatch.cast("long")).alias("__n_total_bad"))
        if do_monotonic:
            aggs.append(
                _increases(TOTAL_COLUMN, "date", _remaining_run()).alias(
                    "__increases"
                )
            )
    m = df.agg(*aggs).collect()[0]
    report.rows = m["__rows"]

    null_msgs = [
        f"Column '{c}' has {m[f'__null_{c}']} null rows"
        for c in null_cols
        if m[f"__null_{c}"]
    ]
    report.results.append(CheckResult("nulls", "fatal", not null_msgs, null_msgs))

    if has_date:
        msgs = []
        missing = {
            s
            for i, s in enumerate(REQUIRED_SENTINELS)
            if not m[f"__has_{i}"]
        }
        if missing:
            msgs.append(f"Missing required rows: {missing}")
        if m["__n_bad_date"]:
            bad = df.where(~_valid_date(F.col("date"))).select("date")
            samples = [r[0] for r in bad.limit(3).collect()]
            msgs.append(
                f"Invalid date format ({m['__n_bad_date']} rows): {samples}"
            )
        report.results.append(
            CheckResult("date_format", "fatal", not msgs, msgs)
        )
        if do_total:
            if m["__n_total_bad"]:
                # Bounded sample fetch only on failure.
                report.results.append(check_total_vs_sum(df, present_measures))
            else:
                report.results.append(CheckResult("total_vs_sum", "warn", True))
        if do_monotonic:
            report.results.append(
                _monotonic_result(m["__increases"], TOTAL_COLUMN)
            )
    return report


def partition_skew_report(df: DataFrame, sample_ratio: float = 1.0) -> dict:
    """Physical-partition skew diagnosis: rows per Spark partition plus
    the max/mean skew ratio — the number that predicts straggler tasks
    (a 10x-skewed partition makes its task 10x slower than the stage
    average; at 1000 executors that is 999 idle machines waiting).

    Uses ``spark_partition_id()`` + one partial-agg shuffle of
    (partition_id, count) pairs — cost is one scan, never a collect of
    data rows. Returns {"n_partitions", "total_rows", "max_rows",
    "mean_rows", "skew_ratio", "empty_partitions"}.
    """
    counts = (
        df.sample(sample_ratio) if sample_ratio < 1.0 else df
    ).groupBy(F.spark_partition_id().alias("pid")).count()
    rows = counts.agg(
        F.count("*").alias("n"),
        F.sum("count").alias("total"),
        F.max("count").alias("mx"),
        F.avg("count").alias("mean"),
    ).collect()[0]
    n_parts = df.rdd.getNumPartitions()
    return {
        "n_partitions": n_parts,
        "total_rows": int(rows["total"] or 0),
        "max_rows": int(rows["mx"] or 0),
        "mean_rows": float(rows["mean"] or 0.0),
        "skew_ratio": (
            float(rows["mx"] / rows["mean"]) if rows["mean"] else 0.0
        ),
        "empty_partitions": n_parts - int(rows["n"]),
    }


def profile_table(
    df: DataFrame,
    num_cols: list[str],
    str_cols: list[str],
    exact_distinct: bool = True,
) -> DataFrame:
    """One-pass column profile — the dbt/Deequ-style "summarize"
    every pipeline needs before trusting a new table: per column the
    row count, null count, distinct count, and min/max (numeric
    columns as doubles, string columns lexicographically — kept in
    separate typed fields so no engine-specific number->string cast
    formatting leaks into the result).

    Scale shape, measured not assumed: in approx mode everything is
    ONE aggregate over ONE scan (HLL sketches compose with plain
    aggs; no Expand). In exact mode the multi-distinct plans via a
    k+1-way Expand, and putting min/max INTO that aggregate forces
    them through gid-guarded evaluation of every expanded row — 6.0 s
    vs 2.3+0.3 s at sf0.1 for the same metrics — so exact mode runs
    TWO aggregates (one distinct-bearing, one plain min/max)
    cross-joined into the single profile row. The 1-row ``stack``
    unpivot costs nothing. The reference's profiling
    (`jobs/data_quality.py:48`) issued one job per column; this is
    the same information in at most two.
    """
    count_aggs = [F.count(F.lit(1)).alias("__n")]
    for c in num_cols + str_cols:
        count_aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        count_aggs.append(
            (
                F.count_distinct(F.col(c))
                if exact_distinct
                else F.approx_count_distinct(c)
            ).alias(f"__nd_{c}")
        )
    minmax_aggs = []
    for c in num_cols:
        minmax_aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
        minmax_aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
    for c in str_cols:
        minmax_aggs.append(F.min(F.col(c)).alias(f"__mns_{c}"))
        minmax_aggs.append(F.max(F.col(c)).alias(f"__mxs_{c}"))
    if exact_distinct:
        one = df.agg(*count_aggs).crossJoin(df.agg(*minmax_aggs))
    else:
        one = df.agg(*(count_aggs + minmax_aggs))

    def ident(name: str) -> str:
        # backtick-escape generated identifiers: column names with
        # spaces/quotes must not break the stack() SQL.
        return "`" + name.replace("`", "``") + "`"

    def entry(c: str, is_num: bool) -> str:
        mn = ident(f"__mn_{c}") if is_num else "CAST(NULL AS double)"
        mx = ident(f"__mx_{c}") if is_num else "CAST(NULL AS double)"
        mns = "CAST(NULL AS string)" if is_num else ident(f"__mns_{c}")
        mxs = "CAST(NULL AS string)" if is_num else ident(f"__mxs_{c}")
        lit = c.replace("\\", "\\\\").replace("'", "\\'")
        return (
            f"'{lit}', CAST(__n AS bigint), "
            f"CAST(__n - {ident('__nn_' + c)} AS bigint), "
            f"CAST({ident('__nd_' + c)} AS bigint), {mn}, {mx}, {mns}, {mxs}"
        )

    k = len(num_cols) + len(str_cols)
    if k == 0:
        raise ValueError("profile_table needs at least one column")
    parts = [entry(c, True) for c in num_cols] + [
        entry(c, False) for c in str_cols
    ]
    return one.selectExpr(
        f"stack({k}, {', '.join(parts)}) AS "
        "(column, n_rows, n_nulls, n_distinct, "
        "min_num, max_num, min_str, max_str)"
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 10,
) -> DataFrame:
    """Privacy-risk audit before a dataset leaves the curated zone:
    group rows into equivalence classes on the quasi-identifier
    columns and report, per class-size bucket, how many classes and
    rows sit there plus the bucket's worst l-DIVERSITY (minimum
    distinct ``sensitive_col`` values in any class). A row in a class
    smaller than ``k`` is re-identifiable by joining public data on
    the quasi-identifiers; a class with l = 1 leaks its sensitive
    value even when k is satisfied (everyone in the class shares it).
    ``at_risk`` marks buckets below the k threshold, so
    ``sum(n_rows) WHERE at_risk`` is the number a release gate would
    block on.

    Buckets are the class size clamped into {1..9, 10+} — a bounded
    output regardless of table size. Scale: one shuffle on the
    quasi-identifier key with map-side partial aggregation (the same
    shape as any groupBy), then a bounded re-aggregation; no
    per-class rows ever reach the driver.

    NULL sensitive values count as their own category: they are
    coalesced to a sentinel before the distinct count, so an all-NULL
    class reports l = 1 (everyone shares the same — unknown — value:
    exactly the leak l-diversity measures), never the ambiguous l = 0
    that plain ``count(DISTINCT ...)``'s NULL-skipping would produce,
    and a {value, NULL} class reports l = 2."""
    sens = F.coalesce(
        F.col(sensitive_col).cast("string"), F.lit("\x00__null__")
    )
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("__size"),
        F.countDistinct(sens).alias("__l"),
    )
    return (
        classes.selectExpr(
            f"CASE WHEN __size >= {k} THEN {k} ELSE __size END AS size_bucket",
            "__size",
            "__l",
        )
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("__size").alias("n_rows"),
            F.min("__l").alias("min_l_diversity"),
        )
        .selectExpr(
            "size_bucket",
            "n_classes",
            "n_rows",
            "min_l_diversity",
            f"size_bucket < {k} AS at_risk",
        )
    )
