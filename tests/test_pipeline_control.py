"""Pipeline-control layer tests (SURVEY.md §2.13, §2.2 K3/K4).

Strategy mirrors the reference's suite (SURVEY.md §5) but runs the FS /
atomic-swap / versioning paths against the REAL Hadoop FileSystem API
on local ``file://`` paths instead of MagicMock — same contract, live
filesystem semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_data_pipeline_spark import atomic, pipeline, profile, quality, retry
from hadoop_data_pipeline_spark.fs import FS, extract_year_from_path
from hadoop_data_pipeline_spark.versioning import Versioner, content_checksum

# ---------------------------------------------------------------------------
# FS utilities
# ---------------------------------------------------------------------------


def test_fs_roundtrip(spark, tmp_path):
    fs = FS(spark)
    root = str(tmp_path / "zone")
    fs.mkdirs(root + "/a")
    fs.touch(root + "/a/x.csv")
    fs.write_text(root + "/a/meta.json", '{"k": "v"}')
    assert fs.exists(root + "/a/x.csv")
    files = fs.list_files(root)
    assert any(f.endswith("x.csv") for f in files)
    assert any(f.endswith("meta.json") for f in files)
    assert fs.read_text(root + "/a/meta.json") == '{"k": "v"}'
    assert fs.read_text(root + "/missing") is None
    assert fs.list_files(root + "/nope") == []
    assert fs.rename(root + "/a", root + "/b")
    assert fs.exists(root + "/b/x.csv")
    assert fs.delete(root + "/b")
    assert not fs.exists(root + "/b")


def test_extract_year():
    assert extract_year_from_path("/raw/year=2024/f.csv") == 2024
    assert extract_year_from_path("/raw/other/f.csv") is None


# ---------------------------------------------------------------------------
# Retry (reference jobs/utils/retry.py:20-60 contract)
# ---------------------------------------------------------------------------


def test_retry_backoff_schedule():
    waits: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("boom")
        return "ok"

    out = retry.with_retry(
        flaky, max_retries=3, delay=5, sleep=waits.append
    )
    assert out == "ok"
    assert waits == [5, 10]  # 5 * 2^(n-1)


def test_retry_exhaustion_raises_last_error():
    waits: list[float] = []
    with pytest.raises(ValueError, match="always"):
        retry.with_retry(
            lambda: (_ for _ in ()).throw(ValueError("always")),
            max_retries=3,
            delay=1,
            sleep=waits.append,
        )
    assert waits == [1, 2]  # no sleep after the final attempt


# ---------------------------------------------------------------------------
# Incremental discovery (reference ...test_quality.py:40-47 contract)
# ---------------------------------------------------------------------------


def test_pending_files_markers():
    listing = [
        "/raw/year=2023/a.csv",
        "/raw/year=2023/a.csv.done",
        "/raw/year=2023/b.csv",
        "/raw/year=2024/c.csv",
        "/raw/year=2024/c.csv.failed",
        "/raw/year=2024/d.csv",
        "/raw/year=2024/notes.txt",
    ]
    assert pipeline.pending_files(listing) == [
        "/raw/year=2023/b.csv",
        "/raw/year=2024/d.csv",
    ]


def test_group_by_year_skips_unmatched():
    groups = pipeline.group_by_year(
        ["/raw/year=2023/b.csv", "/raw/year=2024/d.csv", "/raw/misc/e.csv"]
    )
    assert groups == {
        2023: ["/raw/year=2023/b.csv"],
        2024: ["/raw/year=2024/d.csv"],
    }


# ---------------------------------------------------------------------------
# Atomic swap (reference jobs/utils/retry.py:63-178 contract)
# ---------------------------------------------------------------------------


def _write_partition(spark, path, value):
    df = spark.createDataFrame([(value, 1.0)], "k string, v double")
    return atomic.atomic_write_partition(df, path, "year", 2024)


def test_content_checksum_distinguishes_null_positions(spark):
    # concat_ws skips NULLs, so without per-column null tagging
    # ('a', NULL, 'b') and ('a', 'b', NULL) would hash identically and
    # restore verification could pass on null-corrupted data.
    schema = "c1 string, c2 string, c3 string"
    a = spark.createDataFrame([("a", None, "b")], schema)
    b = spark.createDataFrame([("a", "b", None)], schema)
    assert content_checksum(a) != content_checksum(b)
    # order-insensitivity still holds
    c = spark.createDataFrame([("x", "y", "z"), ("a", None, "b")], schema)
    d = spark.createDataFrame([("a", None, "b"), ("x", "y", "z")], schema)
    assert content_checksum(c) == content_checksum(d)


def test_atomic_write_and_overwrite(spark, tmp_path):
    table = str(tmp_path / "wide")
    p = _write_partition(spark, table, "first")
    assert spark.read.parquet(p).collect()[0]["k"] == "first"
    _write_partition(spark, table, "second")
    got = spark.read.parquet(p).collect()
    assert [r["k"] for r in got] == ["second"]
    fs = FS(spark)
    assert not fs.exists(p + "_tmp")
    assert not fs.exists(p + "_old")


def test_atomic_write_leaves_other_partitions(spark, tmp_path):
    table = str(tmp_path / "wide")
    df23 = spark.createDataFrame([("y23", 1.0)], "k string, v double")
    atomic.atomic_write_partition(df23, table, "year", 2023)
    _write_partition(spark, table, "x")
    assert spark.read.parquet(f"{table}/year=2023").collect()[0]["k"] == "y23"


def test_atomic_write_failure_keeps_old_and_cleans_tmp(spark, tmp_path):
    table = str(tmp_path / "wide")
    p = _write_partition(spark, table, "good")

    @F.udf("double")
    def explode_udf(v):
        raise RuntimeError("executor failure")

    bad = spark.createDataFrame([("bad", 1.0)], "k string, v double").select(
        "k", explode_udf("v").alias("v")
    )
    with pytest.raises(Exception):
        atomic.atomic_write_partition(
            bad, table, "year", 2024, max_retries=1, sleep=lambda s: None
        )
    # Old data still live, no _tmp debris.
    assert spark.read.parquet(p).collect()[0]["k"] == "good"
    assert not FS(spark).exists(p + "_tmp")


def test_swap_rollback_on_failed_final_rename(spark, tmp_path):
    fs = FS(spark)
    dst = str(tmp_path / "part")
    src = str(tmp_path / "part_tmp")
    fs.mkdirs(dst)
    fs.write_text(dst + "/data.txt", "old")
    fs.mkdirs(src)
    fs.write_text(src + "/data.txt", "new")

    class FailingFS:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

        def rename(self, a, b):
            if a.endswith("part_tmp"):
                return False
            return self._real.rename(a, b)

    with pytest.raises(RuntimeError, match="swap rename failed"):
        atomic.swap_directory(FailingFS(fs), src, dst)
    # Rolled back: original content restored at dst.
    assert fs.read_text(dst + "/data.txt") == "old"


# ---------------------------------------------------------------------------
# Versioning (reference jobs/utils/versioning.py contract)
# ---------------------------------------------------------------------------


def test_versioning_lifecycle(spark, tmp_path):
    root = str(tmp_path / "versions")
    v = Versioner(spark, root, keep=2)
    df = spark.createDataFrame([("2024-01", 10.0), ("2024-02", 9.0)], "d string, v double")
    ids = [
        v.create_version(df, "/raw/year=2024/f.csv", 2024, version_id=f"v_2024010{i}_000000")
        for i in range(1, 4)
    ]
    listed = v.list_versions(2024)
    assert [m["version"] for m in listed] == list(reversed(ids))  # newest first
    m = listed[0]
    assert m["source_file"] == "f.csv"
    assert m["row_count"] == 2
    assert m["columns"] == ["d", "v"]
    assert m["keep_versions"] == 2

    deleted = v.cleanup_old_versions(2024)
    assert deleted == [ids[0]]
    assert len(v.list_versions(2024)) == 2

    target = str(tmp_path / "staging")
    restored = v.restore_version(ids[2], 2024, target)
    assert restored.count() == 2
    assert spark.read.parquet(f"{target}/year=2024").count() == 2


def test_restore_detects_corruption(spark, tmp_path):
    root = str(tmp_path / "versions")
    v = Versioner(spark, root, keep=5)
    df = spark.createDataFrame([("a", 1.0)], "d string, v double")
    vid = v.create_version(df, "f.csv", 2024, version_id="v_x")
    # Corrupt the snapshot: overwrite with different data.
    spark.createDataFrame([("tampered", 2.0)], "d string, v double").write.mode(
        "overwrite"
    ).parquet(f"{root}/year=2024/{vid}")
    # parquet overwrite also wiped the manifest -> rewrite it with the original hash
    fs = FS(spark)
    import json

    manifest = {
        "version": vid, "source_file": "f.csv", "year": 2024,
        "timestamp": "2026-01-01T00:00:00", "row_count": 1,
        "checksum": "deadbeef", "columns": ["d", "v"], "keep_versions": 5,
    }
    fs.write_text(f"{root}/year=2024/{vid}/_version.json", json.dumps(manifest))
    with pytest.raises(RuntimeError, match="checksum mismatch"):
        v.restore_version(vid, 2024, str(tmp_path / "t"))


# ---------------------------------------------------------------------------
# Quality gate (reference jobs/data_quality.py contract)
# ---------------------------------------------------------------------------

WIDE_COLS = ["date", "total_amount", "details", "m1", "m2", "m3"]


def _wide_df(spark, rows):
    return spark.createDataFrame(
        rows, "date string, total_amount double, details string, "
        "m1 double, m2 double, m3 double"
    )


def _good_rows():
    rows = [("all-year-budget", 60.0, "budget", 10.0, 20.0, 30.0)]
    remaining = 60.0
    for m in range(1, 4):
        rows.append((f"2024-0{m}", 6.0, "spent", 1.0, 2.0, 3.0))
        remaining -= 6.0
        third = remaining / 3.0
        rows.append((f"2024-0{m}", remaining, "remaining", third, third, third))
    rows.append(("total spent", 18.0, "spent", 3.0, 6.0, 9.0))
    rows.append(("remaining", 42.0, "remaining", 14.0, 14.0, 14.0))
    return rows


def test_quality_all_pass(spark):
    report = quality.run_quality_checks(_wide_df(spark, _good_rows()), WIDE_COLS)
    assert report.passed
    assert not report.errors and not report.warnings


def test_quality_missing_column_fatal(spark):
    df = _wide_df(spark, _good_rows()).drop("m3")
    report = quality.run_quality_checks(df, WIDE_COLS)
    assert not report.passed
    assert any("Missing columns" in e and "m3" in e for e in report.errors)


def test_quality_null_date_fatal(spark):
    rows = _good_rows() + [(None, 1.0, "spent", 1.0, 0.0, 0.0)]
    report = quality.run_quality_checks(_wide_df(spark, rows), WIDE_COLS)
    assert not report.passed
    assert any("null" in e for e in report.errors)


def test_quality_bad_date_format_fatal(spark):
    rows = _good_rows() + [("01/2024", 1.0, "spent", 1.0, 0.0, 0.0)]
    report = quality.run_quality_checks(_wide_df(spark, rows), WIDE_COLS)
    assert not report.passed
    assert any("Invalid date format" in e for e in report.errors)


def test_quality_missing_sentinel_fatal(spark):
    rows = [r for r in _good_rows() if r[0] != "all-year-budget"]
    report = quality.run_quality_checks(_wide_df(spark, rows), WIDE_COLS)
    assert not report.passed
    assert any("Missing required rows" in e for e in report.errors)


def test_quality_total_mismatch_warns_not_fails(spark):
    rows = _good_rows() + [("2024-04", 100.0, "spent", 1.0, 1.0, 1.0)]
    report = quality.run_quality_checks(_wide_df(spark, rows), WIDE_COLS)
    assert report.passed  # warn severity
    assert any("total_amount mismatch" in w for w in report.warnings)


def test_quality_remaining_increase_warns(spark):
    rows = _good_rows() + [("2024-04", 999.0, "remaining", 333.0, 333.0, 333.0)]
    report = quality.run_quality_checks(_wide_df(spark, rows), WIDE_COLS)
    assert report.passed
    assert any("increased" in w for w in report.warnings)


def test_quality_sentinel_rows_excluded_from_total_check(spark):
    # 'total spent' summary row with a wrong total must NOT warn (the
    # reference scopes the check to month keys + all-year-budget).
    rows = _good_rows()[:-2] + [("total spent", 9999.0, "spent", 1.0, 1.0, 1.0),
                                ("remaining", 42.0, "remaining", 14.0, 14.0, 14.0)]
    report = quality.run_quality_checks(_wide_df(spark, rows), WIDE_COLS)
    assert not any("9999" in w for w in report.warnings)


# ---------------------------------------------------------------------------
# End-to-end incremental pipeline
# ---------------------------------------------------------------------------


def _write_csv(tmp_path, year, name, rows, header="date,total_amount,details,m1,m2,m3"):
    d = tmp_path / "raw" / f"year={year}"
    d.mkdir(parents=True, exist_ok=True)
    f = d / name
    lines = [header] + [
        ",".join("" if v is None else str(v) for v in r) for r in rows
    ]
    f.write_text("\n".join(lines))
    return str(f)


def test_pipeline_end_to_end(spark, tmp_path):
    _write_csv(tmp_path, 2024, "finance_2024.csv", _good_rows())
    _write_csv(
        tmp_path, 2023, "finance_2023.csv",
        [(None, 1.0, "spent", 1.0, 0.0, 0.0)],  # fatal: null date
    )
    p = pipeline.IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "staging"),
        long_path=str(tmp_path / "curated"),
        versions_root=str(tmp_path / "versions"),
        expected_columns=WIDE_COLS,
    )
    result = p.run()
    assert result.processed == [2024]
    assert result.failed == [2023]

    # Good year: wide + long written, .done marker, snapshot created.
    wide = spark.read.parquet(str(tmp_path / "staging" / "year=2024"))
    assert wide.count() == 9
    long_df = spark.read.parquet(str(tmp_path / "curated" / "year=2024"))
    # 7 analytics rows (sentinels dropped) x 3 measures, no nulls
    assert long_df.count() == 21
    assert set(long_df.columns) == {"date", "details", "category", "amount"}
    fs = FS(spark)
    assert fs.exists(str(tmp_path / "raw/year=2024/finance_2024.csv.done"))
    assert p.versioner.list_versions(2024)

    # Bad year: .failed marker, nothing written.
    assert fs.exists(str(tmp_path / "raw/year=2023/finance_2023.csv.failed"))
    assert not fs.exists(str(tmp_path / "staging" / "year=2023"))

    # Re-run: markers make both years invisible -> no pending work.
    assert p.discover() == {}
    result2 = p.run()
    assert result2.years == []


def test_compact_partition_preserves_data(spark, tmp_path):
    table = str(tmp_path / "wide")
    df = spark.createDataFrame(
        [(f"k{i}", float(i)) for i in range(100)], "k string, v double"
    ).repartition(8)
    atomic.atomic_write_partition(df, table, "year", 2024)
    part = f"{table}/year=2024"
    files_before = [
        f for f in FS(spark).list_files(part) if f.endswith(".parquet")
    ]
    assert len(files_before) > 1
    atomic.compact_partition(spark, table, "year", 2024, target_files=1)
    files_after = [
        f for f in FS(spark).list_files(part) if f.endswith(".parquet")
    ]
    assert len(files_after) == 1
    got = spark.read.parquet(part)
    assert got.count() == 100
    assert got.agg({"v": "sum"}).collect()[0][0] == sum(range(100))


def test_pipeline_extra_column_warns_but_loads(spark, tmp_path):
    # Extra columns are a warning, not fatal (reference check_schema).
    _write_csv(
        tmp_path, 2025, "f.csv",
        [(r[0], r[1], r[2], r[3], r[4], r[5], 7.0) for r in _good_rows()],
        header="date,total_amount,details,m1,m2,m3,surprise_col",
    )
    p = pipeline.IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "staging"),
        long_path=str(tmp_path / "curated"),
        expected_columns=WIDE_COLS,
    )
    result = p.run()
    assert result.processed == [2025]
    schema_msgs = [
        m
        for r in result.years[0].report.results
        if r.name == "schema"
        for m in r.messages
    ]
    assert any("Extra" in m and "surprise_col" in m for m in schema_msgs)


def test_pipeline_reprocess_after_failed_marker_removed(spark, tmp_path):
    _write_csv(tmp_path, 2023, "bad.csv", [(None, 1.0, "spent", 1.0, 0.0, 0.0)])
    p = pipeline.IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "staging"),
        long_path=str(tmp_path / "curated"),
        expected_columns=WIDE_COLS,
    )
    assert p.run().failed == [2023]
    # Operator fixes the file and clears the marker -> reprocessed.
    f = tmp_path / "raw" / "year=2023" / "bad.csv"
    f.write_text(
        "date,total_amount,details,m1,m2,m3\n"
        + "\n".join(",".join(str(v) for v in r) for r in _good_rows())
    )
    FS(spark).delete(str(f) + ".failed")
    assert p.run().processed == [2023]


def test_quality_combined_equals_separate(spark):
    # The single-pass gate and the public per-check functions agree on
    # every check's severity, outcome and messages for good and bad
    # inputs, and the gate counts the rows it scanned.
    # A month repeated with two totals: ties sort by total ascending.
    tie = _good_rows() + [("2024-02", 60.0, "remaining", 20.0, 20.0, 20.0)]
    # A null total inside the remaining run: 54, null, 60.
    null_run = [
        (d, None, det, *ms) if (d, det) == ("2024-02", "remaining")
        else (d, 60.0, det, *ms) if (d, det) == ("2024-03", "remaining")
        else (d, t, det, *ms)
        for d, t, det, *ms in _good_rows()
    ]
    cases = [
        _good_rows(),
        _good_rows() + [(None, 1.0, "spent", 1.0, 0.0, 0.0)],
        _good_rows() + [("01/2024", 1.0, "spent", 1.0, 0.0, 0.0)],
        _good_rows() + [("2024-04", 100.0, "spent", 1.0, 1.0, 1.0)],
        _good_rows() + [("2024-04", 999.0, "remaining", 333.0, 333.0, 333.0)],
        [r for r in _good_rows() if r[0] != "all-year-budget"],
        tie,
        null_run,
    ]
    gates = []
    for rows in cases:
        df = _wide_df(spark, rows)
        gates.append(quality.run_quality_checks(df, WIDE_COLS))
        assert gates[-1].results == [
            quality.check_schema(df, WIDE_COLS),
            quality.check_nulls(df),
            quality.check_date_format(df),
            quality.check_total_vs_sum(df, ["m1", "m2", "m3"]),
            quality.check_monotonic_non_increasing(df),
        ]
        assert gates[-1].rows == len(rows)
    # the tie reads as an increase; a null total is neither side of one,
    # as with a lag window
    assert gates[-2].warnings == ["total_amount increased at 2024-02: 48 -> 60"]
    assert not any("increased" in w for w in gates[-1].warnings)


def test_pipeline_parallel_years(spark, tmp_path):
    for year in (2021, 2022, 2023, 2024):
        _write_csv(tmp_path, year, f"finance_{year}.csv", _good_rows())
    p = pipeline.IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "staging"),
        long_path=str(tmp_path / "curated"),
        expected_columns=WIDE_COLS,
    )
    result = p.run(parallel_years=4)
    assert result.processed == [2021, 2022, 2023, 2024]
    for year in (2021, 2022, 2023, 2024):
        assert spark.read.parquet(str(tmp_path / f"staging/year={year}")).count() == 9
        assert spark.read.parquet(str(tmp_path / f"curated/year={year}")).count() == 21


def test_check_domain(spark):
    df = _wide_df(spark, _good_rows() + [("2024-05", 1.0, "typo", 1.0, 0.0, 0.0)])
    res = quality.check_domain(df, "details", ("budget", "spent", "remaining"))
    assert not res.passed
    assert "typo" in res.messages[0]
    ok = quality.check_domain(
        _wide_df(spark, _good_rows()), "details", ("budget", "spent", "remaining")
    )
    assert ok.passed


# ---------------------------------------------------------------------------
# Job budget and observed counts of run_year
# ---------------------------------------------------------------------------


def _pipe(spark, tmp_path, **kw):
    return pipeline.IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "staging"),
        long_path=str(tmp_path / "curated"),
        versions_root=str(tmp_path / "versions"),
        expected_columns=WIDE_COLS,
        **kw,
    )


def _year_jobs(spark, p, year):
    """Spark jobs one ``run_year`` of the single pending ``year`` runs."""
    out = {}
    files = p.discover()[year]
    rec = profile.profile(
        spark, lambda: None,
        action=lambda _: out.setdefault("r", p.run_year(year, files)),
    )
    return rec["jobs"], out["r"]


def test_run_year_job_budget(spark, tmp_path):
    # read 1 + DQ aggregate 2 + wide, snapshot and long writes 1 each;
    # a rejected year stops after the gate and its sample fetch.
    _write_csv(tmp_path, 2024, "a.csv", _good_rows()[:4])
    _write_csv(tmp_path, 2024, "b.csv", _good_rows()[4:])
    _write_csv(tmp_path, 2023, "bad.csv",
               _good_rows() + [("01/2023", 1.0, "spent", 1.0, 0.0, 0.0)])
    p = _pipe(spark, tmp_path)
    jobs, res = _year_jobs(spark, p, 2024)
    assert res.passed and (res.wide_rows, res.long_rows) == (9, 21)
    assert jobs <= 6
    jobs, res = _year_jobs(spark, p, 2023)
    assert not res.passed
    assert jobs <= 4


def test_snapshot_manifest_matches_reread(spark, tmp_path):
    rows = _good_rows() + [("2024-04", 6.0, "spent", None, 2.0, 4.0)]
    _write_csv(tmp_path, 2024, "f.csv", rows)
    p = _pipe(spark, tmp_path)
    (res,) = p.run().years
    (manifest,) = p.versioner.list_versions(2024)
    snap = spark.read.parquet(str(tmp_path / "versions" / "year=2024" / res.version_id))
    assert manifest["row_count"] == snap.count() == res.wide_rows == len(rows)
    assert manifest["checksum"] == content_checksum(snap)
    assert manifest["columns"] == snap.columns


def test_long_rows_observed_on_the_attempt_that_succeeded(spark, tmp_path, monkeypatch):
    # The first long write fails mid-job; a failed attempt completes its
    # Observation with partial counts, so the retry must observe afresh.
    _write_csv(tmp_path, 2024, "f.csv", _good_rows())
    flag = str(tmp_path / "failed_once")

    @F.udf("boolean")
    def fail_once(_):
        if not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("first long write attempt fails")
        return True

    to_long = pipeline.wide_to_long

    def flaky_long(df):
        out = to_long(df)
        return out.where(fail_once(out["amount"]))

    monkeypatch.setattr(pipeline, "wide_to_long", flaky_long)
    monkeypatch.setattr(retry, "DEFAULT_RETRY_DELAY", 0)
    (res,) = _pipe(spark, tmp_path).run().years
    assert os.path.exists(flag)
    assert res.passed and res.long_rows == 21
    assert spark.read.parquet(str(tmp_path / "curated" / "year=2024")).count() == 21


def test_non_numeric_amount_warns_not_kills(spark, tmp_path):
    # Under ANSI a plain cast of 'n/a' to double raises; the measure
    # becomes null instead, and total-vs-sum notes the row.
    rows = [
        (d, t, det, "n/a", *ms) if (d, det) == ("2024-02", "spent")
        else (d, t, det, m1, *ms)
        for d, t, det, m1, *ms in _good_rows()
    ]
    _write_csv(tmp_path, 2024, "f.csv", rows)
    _write_csv(tmp_path, 2025, "f.csv", _good_rows())
    result = _pipe(spark, tmp_path).run()
    assert result.processed == [2024, 2025]
    warns = result.years[0].report.warnings
    assert warns == ["total_amount mismatch at 2024-02/spent: total=6, computed=5"]
    assert result.years[0].long_rows == 20


def test_month_only_file_reports_only_missing_sentinels(spark, tmp_path):
    # Schema inference would read '2024-01' as a timestamp and report
    # an invalid date format on top of the missing sentinels.
    months = [r for r in _good_rows() if r[0].startswith("2024-")]
    _write_csv(tmp_path, 2024, "f.csv", months)
    (res,) = _pipe(spark, tmp_path).run().years
    assert not res.passed
    assert len(res.report.errors) == 1
    assert res.report.errors[0].startswith("Missing required rows")


def _list_files_reference(fs, root, recursive=True):
    """What ``FileSystem.listFiles`` returns, as (path, size)."""
    it = fs._fs(root).listFiles(fs._path(root), recursive)
    out = []
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def test_fs_listing_matches_list_files(spark, tmp_path):
    fs = FS(spark)
    root = str(tmp_path / "zone")
    for i, rel in enumerate([
        "top.csv", "year=2023/a.csv", "year=2023/a.csv.done",
        "year=2024/sub/deep/x.bin", "year=2024/b.csv", "year=2024/sub/y.txt",
    ]):
        fs.write_text(f"{root}/{rel}", "x" * i)
    fs.mkdirs(root + "/empty/dir")
    ref = _list_files_reference(fs, root)
    assert len(ref) == 6
    assert fs.list_file_sizes(root) == ref
    assert fs.list_files(root) == [p for p, _ in ref]
    flat = _list_files_reference(fs, root, recursive=False)
    assert [p for p, _ in flat] == [p for p in fs.list_files(root) if p.endswith("top.csv")]
    assert fs.list_file_sizes(root, recursive=False) == flat
    one = f"{root}/year=2023/a.csv"
    assert fs.list_file_sizes(one) == _list_files_reference(fs, one) == [
        ("file:" + one, 1)
    ]
    assert fs.list_files(root + "/missing") == []
    assert fs.list_file_sizes(root + "/missing", recursive=False) == []
