"""Relational query operators the reference codifies (SURVEY.md §2.5-2.7).

The flagship is J1 *latest-per-group* — the reference's canonical
"latest ``remaining`` balance per category" query
(``dashboard/components/sidebar.py:44-62``; canonical SQL form
``tests/test_sql_safety.py:80-91``). The reference writes it as a
self-join against a MAX(date) subquery; on Spark the window
``row_number`` form is one shuffle on the group keys (no join at all),
and with AQE it handles skewed groups. Both forms are provided; the
window form is the default.

Scale notes
-----------
* ``latest_per_group``: single hash-exchange on ``keys`` + in-partition
  sort. No broadcast needed, no driver materialization. At 100 TB the
  only knob is shuffle partitions / AQE skew splitting.
* ``monotonic_violations`` replaces the reference's driver-side
  ``collect()`` pairwise scan (``jobs/data_quality.py:95-101``) with a
  ``lag`` window — fully distributed.
* ``horizontal_sum`` is a row-local expression — no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """J1: the full latest row per ``keys`` by ``order_col`` (window form).

    One shuffle on ``keys``; deterministic under ties via
    ``tie_breakers`` (appended descending after ``order_col``).
    """
    order = [F.col(order_col).desc()] + [F.col(t).desc() for t in tie_breakers]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_group_join(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """J1 (reference-shaped alternative): groupBy MAX + inner equi-join.

    Matches the reference's subquery-join formulation. The aggregated
    side is small (one row per group), so Spark broadcast-joins it when
    under the threshold; AQE converts at runtime otherwise. Note this
    form keeps *all* rows tied at the max, unlike the row_number form.
    """
    latest = df.groupBy(*keys).agg(F.max(order_col).alias(order_col))
    return df.join(F.broadcast(latest), [*keys, order_col], "inner")


def latest_per_group_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    payload_cols: Sequence[str],
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """J1 (aggregation form): ``max_by`` over a composite ordering
    struct.

    Plan shape: partial ``max_by`` before the exchange, so each input
    partition contributes ONE candidate row per key to the shuffle
    (struct-valued buffers make Spark pick SortAggregate, which sorts
    by the grouping key only — there is no ``order_col``-descending
    sort anywhere, unlike the window form). One scan, one
    candidate-per-key shuffle, no join. Deterministic under ties via
    the composite ``(order_col, *tie_breakers)`` struct comparison.
    """
    ordering = ", ".join([order_col, *tie_breakers])
    payload = ", ".join([order_col, *payload_cols])
    agg = F.expr(f"max_by(struct({payload}), struct({ordering}))").alias("__m")
    out = df.groupBy(*keys).agg(agg)
    return out.select(
        *keys,
        F.col(f"__m.{order_col}").alias(order_col),
        *[F.col(f"__m.{c}").alias(c) for c in payload_cols],
    )


def _with_cached_deps(out: DataFrame, *deps: DataFrame) -> DataFrame:
    """Tag ``out`` with the persisted intermediate frames its lazy plan
    depends on, so callers can release them via :func:`unpersist_deps`
    once the result is materialized."""
    out._cached_deps = list(deps)  # type: ignore[attr-defined]
    return out


def unpersist_deps(df: DataFrame) -> None:
    """Release the persisted intermediate frames backing a lazy result
    from an operator that persist()s a shared stage (the IVF / PQ /
    k-means family in :mod:`similarity`, :func:`curation.tfidf_top_terms`).
    Those operators persist a corpus-sized frame that both branches of
    their plan consume; it must stay cached until the returned LAZY
    plan is materialized, so they cannot unpersist it themselves.
    One-shot callers can ignore this (the cache dies with the session,
    and the bench harness clearCache()s between queries); ITERATIVE
    callers must call this after materializing each iteration's result,
    or they accumulate one cached corpus-wide frame per iteration.

    The tag lives on the EXACT DataFrame object the operator returned
    — any further transformation (``.select``, ``.where``) produces a
    new object without it. Calling this on an untagged frame warns
    loudly instead of silently no-opping, because the silent form hid
    exactly the per-iteration leak this function exists to release
    (pass the operator's direct return value, or fall back to
    ``spark.catalog.clearCache()``)."""
    deps = getattr(df, "_cached_deps", None)
    if deps is None:
        import warnings

        warnings.warn(
            "unpersist_deps: this DataFrame carries no _cached_deps "
            "tag — it is not an operator's direct return value (a "
            "transformation strips the tag). Nothing was unpersisted; "
            "pass the operator's return frame or use "
            "spark.catalog.clearCache().",
            stacklevel=2,
        )
        return
    for dep in deps:
        dep.unpersist()


def _conf_bytes(conf, key: str, default: int) -> int:
    """Read a byte-valued Spark conf ("134217728b", "128m", "4194304")
    as an int. Returns ``default`` when unset or unparsable."""
    try:
        raw = conf.get(key, None)
    except Exception:  # pragma: no cover - defensive
        return default
    if not raw:
        return default
    v = str(raw).strip().lower()
    if v.endswith("b"):
        v = v[:-1]
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if v.endswith(suf):
            v, mult = v[:-1], m
            break
    try:
        return int(v) * mult
    except ValueError:  # pragma: no cover - defensive
        return default


#: Logical nodes a "scan-shaped" frame may contain above its leaf:
#: pure row-local ops that never change partitioning. Anything else
#: (joins, aggregates, windows, repartitions, unions, generators)
#: means partitioning is governed by an exchange or a cache, not by
#: file-split packing — scatter_small_scan leaves those frames alone.
_SCAN_SHAPE_NODES = {
    "Project",
    "Filter",
    "SubqueryAlias",
    "View",
    "ResolvedHint",
}


def _is_scan_shaped(df: DataFrame) -> bool:
    """True iff the frame's analyzed logical plan, with persisted
    subtrees substituted, is a chain of row-local ops over exactly one
    file-source relation — the only shape whose partition count is
    decided by Spark's split packing (and therefore the only shape
    :func:`scatter_small_scan` should ever repartition). A persisted
    scan reads back as an ``InMemoryRelation`` with the partitioning
    it was cached with, so it is not scan-shaped. The cache lookup
    (``withCachedData``) costs no physical planning. Unknown/unreadable
    plans return False (fail-safe: the caller then leaves the frame
    untouched)."""
    try:
        node = df._jdf.queryExecution().withCachedData()
        while True:
            name = node.getClass().getSimpleName()
            if name in _SCAN_SHAPE_NODES:
                if node.children().size() != 1:
                    return False  # pragma: no cover - defensive
                node = node.children().apply(0)
                continue
            return name == "LogicalRelation"
    except Exception:  # pragma: no cover - defensive
        return False


def _planned_scan_partitions(df: DataFrame) -> int | None:
    """Planned partition count of a scan-shaped frame WITHOUT the
    physical-planning round trip of ``df.rdd`` (which costs ~0.15 s of
    driver time per call — measured r16). For a local-file relation
    the split packing is a pure function of (file sizes, three confs,
    default parallelism): this mirrors Spark's own
    ``FilePartition.maxSplitBytes`` + greedy packing. Parquet is
    splittable by byte range, so the formula is exact for the scans
    this engine reads. Returns ``None`` (caller falls back to the
    authoritative ``df.rdd`` probe) for in-memory relations, remote
    schemes, or files the driver cannot stat — so HDFS/S3 behavior is
    unchanged. ``inputFiles()`` ignores partition pruning; a pruned
    scan can therefore only over-estimate, which skips the scatter —
    exactly the production no-op the contract promises."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        # inputFiles() returns URI-encoded paths — parse + unquote so
        # %-escaped names (spaces, '#', unicode) stat the right file
        # (ADVICE r16).
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.path.getsize(unquote(parsed.path)))
        except OSError:
            return None
    conf = df.sparkSession.conf

    def _conf_int(key: str) -> int:
        # partition-COUNT confs are plain integers, not byte strings
        # (ADVICE r16: _conf_bytes would mis-scale a '4k'-style typo
        # instead of ignoring it).
        try:
            return int(conf.get(key, None) or 0)
        except (ValueError, TypeError):
            return 0

    # Spark repacks with a larger split size when the initial packing
    # exceeds maxPartitionNum — this estimator does not model that, so
    # defer to the authoritative probe when the cap is set (ADVICE r16).
    if _conf_int("spark.sql.files.maxPartitionNum"):
        return None
    open_cost = _conf_bytes(conf, "spark.sql.files.openCostInBytes", 4 * 1024**2)
    max_pb = _conf_bytes(conf, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    sc = df.sparkSession.sparkContext
    min_pn = int(
        _conf_int("spark.sql.files.minPartitionNum")
        or _conf_int("spark.sql.leafNodeDefaultParallelism")
        or sc.defaultParallelism
    )
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // max(1, min_pn)))
    splits: list[int] = []
    for s in sizes:
        off = 0
        while off < s:
            splits.append(min(max_split, s - off))
            off += max_split
    splits.sort(reverse=True)
    parts, cur = 0, 0
    for sp in splits:
        if cur + sp > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += sp + open_cost
    return parts + (1 if cur > 0 else 0)


def scatter_small_scan(
    df: DataFrame, target: int | None = None
) -> DataFrame:
    """Guarantee a minimum task parallelism for an expensive per-row
    stage that follows: round-robin repartition to ``target`` (default
    ``sc.defaultParallelism``) ONLY when the frame's planned partition
    count is below it.

    Why: Spark sizes scan splits by BYTES (``maxPartitionBytes`` /
    ``openCostInBytes``), so a small, single-row-group parquet file is
    one split no matter how expensive the projections above it are —
    at bench scale every fixture table is one such file and the whole
    tokenize/hash/score pipeline of a query otherwise runs on ONE core
    while 31 idle. At 100 TB inputs arrive in thousands of splits, the
    condition is false, and this is a no-op — never an extra
    corpus-wide shuffle. The exchange, when it fires, moves only the
    pruned columns of a provably small input.

    The partition count is ESTIMATED from the relation's file sizes
    (:func:`_planned_scan_partitions` — Spark's own split-packing
    formula over ``inputFiles()``); only non-file frames pay the
    ``df.rdd`` physical-planning probe. A wrong estimate can only skip
    or add the scatter (performance), never change results.

    SCAN-SHAPE GATE (r17, closes ADVICE r16 #1): frames that are not
    a plain scan + filter + project over ONE file-source relation are
    returned UNTOUCHED. Their partitioning is governed by an exchange
    or a cache (shuffle partitions / AQE / the partitioning they were
    persisted with), not by file-split packing, so the scatter has
    nothing to fix there — and the old ``df.rdd`` fallback probe such
    frames paid was a full physical-planning round trip that under
    AQE eagerly materializes the frame's shuffle stages (measured as
    extra driver-visible jobs on every composite that stages hashes
    over a persisted intermediate, e.g. clean_corpus). The probe also
    mis-estimated multi-leaf frames by packing ALL their input files
    as one scan.

    Correctness note: changing the upstream partitioning is only safe
    when downstream math is order-insensitive (integer/hash
    aggregates, min/max, per-row expressions, row_number with total
    tie-breaking). Callers with float partial-aggregation order
    dependencies (e.g. unrounded ``sum(double)``) must not scatter.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if not _is_scan_shaped(df):
        return df
    n = _planned_scan_partitions(df)
    if n is None:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - defensive: never fail
            return df
    return df if n >= target else df.repartition(target)


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """O3/O4 generalization: top-k rows per group by ``order_col``."""
    first = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [first] + [F.col(t).asc() for t in tie_breakers]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def horizontal_sum(
    df: DataFrame, cols: Sequence[str], out_col: str = "computed_sum"
) -> DataFrame:
    """A5: row-wise Σ COALESCE(c, 0) over ``cols`` — a pure projection,
    fully inside whole-stage codegen (reference ``jobs/data_quality.py:75-82``)."""
    total = reduce(
        Column.__add__, [F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in cols]
    )
    return df.withColumn(out_col, total)


def forward_fill(
    df: DataFrame,
    col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """P14: carry the last non-null value forward (pandas ``ffill``,
    reference ``gpt_excel_fix_column.py:212``) as a running
    ``last(ignorenulls)`` window. Partition it whenever the data has a
    natural key — an unpartitioned global sort does not scale."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(col, F.last(F.col(col), ignorenulls=True).over(w))


def monotonic_violations(
    df: DataFrame,
    value_col: str,
    order_col: str,
    partition_cols: Sequence[str],
    direction: str = "non_increasing",
) -> DataFrame:
    """O1 distributed: rows where ``value_col`` breaks monotonicity
    along ``order_col`` within each partition group.

    Replaces the reference's collect()-and-iterate check
    (``jobs/data_quality.py:91-102``) with a ``lag`` window — the only
    exchange is the hash partition on ``partition_cols``.
    """
    w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col))
    prev = F.col("prev_value")
    staged = df.withColumn("prev_value", F.lag(F.col(value_col)).over(w))
    if direction == "non_increasing":
        bad = prev.isNotNull() & (F.col(value_col) > prev)
    elif direction == "non_decreasing":
        bad = prev.isNotNull() & (F.col(value_col) < prev)
    else:
        raise ValueError(f"unknown direction: {direction}")
    return staged.where(bad)


def filtered_sum(df: DataFrame, predicate: Column, value_col: str) -> DataFrame:
    """A3: SELECT SUM(value) WHERE predicate (reference sidebar quick
    stats, ``dashboard/components/sidebar.py:22-35``). Partial (map-side)
    aggregation makes this a near-free full scan."""
    return df.where(predicate).agg(F.sum(value_col).alias(f"sum_{value_col}"))


def grouped_max(df: DataFrame, keys: Sequence[str], col: str) -> DataFrame:
    """A4: GROUP BY keys MAX(col) (argmax preparation step)."""
    return df.groupBy(*keys).agg(F.max(col).alias(f"max_{col}"))


def distinct_ordered(df: DataFrame, col: str, descending: bool = True) -> DataFrame:
    """A6: SELECT DISTINCT col ORDER BY col."""
    out = df.select(col).distinct()
    return out.orderBy(F.col(col).desc() if descending else F.col(col).asc())


def user_gap_stats_window(events: DataFrame) -> DataFrame:
    """Per-user inter-event-gap statistics, entirely JVM-side — the
    default path for this statistic (the ``applyInPandas`` kernel in
    ``operators/multimodal.py`` stays as the custom-kernel
    demonstration of the same semantics).

    lag-window for the gaps, then a grouped exact ``percentile`` for
    the median: one hash exchange on ``user_id``, no Python stage.
    Gaps are whole microseconds stored as doubles, so the median's
    average-of-two-middles is IEEE-exact and matches both the numpy
    kernel and DuckDB's ``quantile_cont``. At extreme per-user
    cardinalities swap ``percentile`` for ``approx_percentile`` (fixed
    memory) — exact parity is the default because the driver oracle
    hash-compares values.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = events.select(
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
        .cast("double")
        .alias("gap_us"),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("percentile(gap_us, 0.5)").alias("median_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def debounce_flags(
    df: DataFrame,
    keys: Sequence[str],
    gap_seconds: int,
    ts_col: str = "ts",
    tie_breakers: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Retransmission/debounce dedup flags: mark a row KEPT when no
    earlier row with the same ``keys`` occurred within ``gap_seconds``
    of it — i.e. drop bursts (click storms, double-sends, at-least-
    once replays) down to their first occurrence per quiet period.
    Keeping rows whose gap-from-previous exceeds the window is
    EXACTLY keep-first-per-session under session-gap semantics, so
    one ``lag`` window expresses it — no iterative chain logic.

    This is the batch twin of Structured Streaming's
    ``dropDuplicatesWithinWatermark`` (same bounded-memory idea: only
    the previous occurrence per key matters, never the full history).

    Scale: one hash exchange on ``keys`` for the lag window; the gap
    compares ``unix_micros`` (exact integer microseconds — never
    float seconds, which would jitter at the boundary). Hot keys ride
    the same skew path as every per-user window in the catalog
    (validated by the 8x hot-key sweep)."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *tie_breakers)
    prev = F.lag(ts_col).over(w)
    kept = prev.isNull() | (
        F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)
        > gap_seconds * 1_000_000
    )
    return df.withColumn("kept", kept)
