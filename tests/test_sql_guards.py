"""SQL-safety guard contract (reference ``tests/test_sql_safety.py``
semantics, SURVEY.md §2.12 L2/L3 + §4.3 plan-level lint)."""

from __future__ import annotations

import pytest

from hadoop_data_pipeline_spark import guards

# -- reserved-keyword quoting ------------------------------------------------


def test_fixes_bare_date_everywhere():
    assert guards.fix_reserved_keywords(
        "SELECT date, amount FROM t WHERE date = '2024-01' ORDER BY date DESC"
    ).count("`date`") == 3


def test_fixes_date_in_max():
    assert "MAX(`date`)" in guards.fix_reserved_keywords("SELECT MAX(date) FROM t")


def test_does_not_double_wrap():
    out = guards.fix_reserved_keywords("SELECT `date` FROM t WHERE `date` = 'x'")
    assert "``date``" not in out
    assert out.count("`date`") == 2


def test_does_not_affect_other_columns():
    sql = "SELECT amount, category, update_date FROM t"
    assert guards.fix_reserved_keywords(sql) == sql


# -- clean_sql ---------------------------------------------------------------


def test_clean_sql_strips_fences_quotes_semicolon():
    raw = "```sql\nSELECT ‘a’, “b” FROM t;\n```"
    assert guards.clean_sql(raw) == "SELECT 'a', \"b\" FROM t"


# -- prohibited remaining-SUM lint (regex) -----------------------------------

BAD = [
    "SELECT category, SUM(CASE WHEN details = 'remaining' THEN amount ELSE 0 END) FROM t GROUP BY category",
    "SUM(CASE WHEN t.details = 'remaining' THEN t.amount ELSE 0 END)",
    "sum(case when details = 'remaining' then amount else 0 end)",
]

GOOD = [
    # canonical correct argmax join
    """SELECT t.category, t.amount FROM long t
       JOIN (SELECT category, MAX(`date`) AS max_date FROM long
             WHERE details = 'remaining' GROUP BY category) latest
       ON t.category = latest.category AND t.`date` = latest.max_date
       WHERE t.details = 'remaining'""",
    "SELECT SUM(amount) FROM t WHERE details = 'spent'",
    "SELECT category, SUM(amount) FROM t WHERE details = 'budget' GROUP BY category",
    """SELECT `date`, category, amount FROM long
       WHERE details = 'remaining' AND category = 'x'
       ORDER BY `date` DESC LIMIT 1""",
]


@pytest.mark.parametrize("sql", BAD)
def test_detects_bad_remaining_sum(sql):
    assert guards.has_bad_remaining_sum(sql) is True


@pytest.mark.parametrize("sql", GOOD)
def test_allows_good_queries(sql):
    assert guards.has_bad_remaining_sum(sql) is False


# -- plan-level lint ---------------------------------------------------------


@pytest.fixture()
def long_view(spark):
    spark.createDataFrame(
        [("2024-01", "remaining", "cat_a", 100.0, 2024),
         ("2024-02", "remaining", "cat_a", 90.0, 2024),
         ("2024-01", "spent", "cat_a", 10.0, 2024)],
        "date string, details string, category string, amount double, year int",
    ).createOrReplaceTempView("finance_long")
    return "finance_long"


def test_plan_lint_catches_plain_sum_without_case(spark, long_view):
    # The regex misses this shape (no CASE WHEN); the plan walk gets it.
    sql = "SELECT SUM(amount) AS s FROM finance_long WHERE details = 'remaining'"
    assert guards.has_bad_remaining_sum(sql) is False
    assert guards.plan_has_bad_remaining_sum(spark, sql) is True


def test_plan_lint_allows_latest_date_join(spark, long_view):
    sql = """
        SELECT t.category, sum(t.amount) AS s FROM finance_long t
        JOIN (SELECT category, MAX(date) AS max_date FROM finance_long
              WHERE details = 'remaining' GROUP BY category) latest
        ON t.category = latest.category AND t.date = latest.max_date
        WHERE t.details = 'remaining' GROUP BY t.category
    """
    assert guards.plan_has_bad_remaining_sum(spark, sql) is False


def test_plan_lint_allows_spent_sum(spark, long_view):
    sql = "SELECT SUM(amount) AS s FROM finance_long WHERE details = 'spent'"
    assert guards.plan_has_bad_remaining_sum(spark, sql) is False


def test_plan_lint_never_executes_commands(spark, long_view):
    # The lint must PARSE, not run: spark.sql() executes command
    # statements (DROP/INSERT/CTAS) eagerly, which would double-run
    # LLM-emitted DML before the repair loop's own execution.
    spark.sql("CREATE OR REPLACE TEMP VIEW guard_probe AS SELECT 1 AS x")
    guards.plan_has_bad_remaining_sum(spark, "DROP VIEW guard_probe")
    assert spark.table("guard_probe").count() == 1  # still there
    spark.catalog.dropTempView("guard_probe")


def test_plan_lint_sees_query_inside_insert(spark, long_view):
    # The parsed plan exposes the query subtree of a DML statement, so
    # the prohibited aggregation is flagged even wrapped in an INSERT —
    # and flagging it does NOT require (or cause) the insert to run.
    sql = (
        "INSERT INTO nonexistent_target "
        "SELECT SUM(amount) AS s FROM finance_long WHERE details = 'remaining'"
    )
    assert guards.plan_has_bad_remaining_sum(spark, sql) is True


# -- execute-repair loop -----------------------------------------------------


def test_run_with_repair_fixes_on_error(spark, long_view):
    calls = []

    def fixer(sql, error):
        calls.append((sql, error))
        return "SELECT SUM(amount) AS s FROM finance_long WHERE details = 'spent'"

    df, final_sql = guards.run_with_repair(
        spark, "SELECT SUM(amount) FROM not_a_table", fixer=fixer
    )
    assert df.collect()[0]["s"] == 10.0
    assert "spent" in final_sql
    assert len(calls) == 1
    assert "not_a_table" in calls[0][0]


def test_run_with_repair_preemptive_on_prohibited(spark, long_view):
    def fixer(sql, error):
        assert "point-in-time" in error  # gets the REPAIR_HINT
        return """SELECT t.amount AS s FROM finance_long t
                  JOIN (SELECT category, MAX(`date`) AS max_date FROM finance_long
                        WHERE details = 'remaining' GROUP BY category) latest
                  ON t.category = latest.category AND t.`date` = latest.max_date
                  WHERE t.details = 'remaining'"""

    bad = ("SELECT SUM(CASE WHEN details = 'remaining' THEN amount ELSE 0 END) "
           "AS s FROM finance_long")
    df, _ = guards.run_with_repair(spark, bad, fixer=fixer)
    assert df.collect()[0]["s"] == 90.0  # latest month's balance, not the sum


def test_run_with_repair_exhausts(spark):
    with pytest.raises(Exception):
        guards.run_with_repair(
            spark, "SELECT * FROM missing", fixer=lambda s, e: s, max_attempts=2
        )


def test_run_with_repair_plan_lint_preemptive(spark, long_view):
    # The regex misses plain SUM-without-CASE; the plan lint catches it
    # pre-execution and routes through the fixer with the hint.
    calls = []

    def fixer(sql, error):
        calls.append(error)
        return "SELECT SUM(amount) AS s FROM finance_long WHERE details = 'spent'"

    bad = "SELECT SUM(amount) AS s FROM finance_long WHERE details = 'remaining'"
    assert guards.has_bad_remaining_sum(bad) is False
    df, _ = guards.run_with_repair(spark, bad, fixer=fixer)
    assert df.collect()[0]["s"] == 10.0
    assert calls and "point-in-time" in calls[0]


def test_run_with_repair_refuses_dml_from_fixer(spark, long_view, tmp_path):
    """A fixer that "repairs" a failing SELECT into DML behind a CTE is
    refused like an execution error, within the same max_attempts, and
    the DML never runs."""
    out = tmp_path / "fixer_dml"
    dml = (f"WITH t AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY '{out}' "
           "USING parquet SELECT * FROM t")
    errors = []

    def fixer(sql, error):
        errors.append(error)
        return dml

    with pytest.raises(guards.NonQueryError, match="InsertIntoDir"):
        guards.run_with_repair(
            spark, "SELECT * FROM missing", fixer=fixer, max_attempts=3
        )
    assert len(errors) == 3
    assert "InsertIntoDir" in errors[1]
    assert not out.exists()


def test_run_with_repair_guard_unavailable_skips_fixer(spark, monkeypatch):
    """An unavailable guard propagates at once: no execution, no fixer."""
    monkeypatch.setattr(
        guards, "non_query_nodes",
        lambda *_a: (_ for _ in ()).throw(
            guards.GuardUnavailableError("parser unreachable")),
    )
    calls = []
    monkeypatch.setattr(spark, "sql", lambda *a: calls.append(("sql", a)))
    with pytest.raises(guards.GuardUnavailableError):
        guards.run_with_repair(
            spark, "SELECT 1", fixer=lambda s, e: calls.append(("fix", s)) or s
        )
    assert calls == []


def test_non_query_nodes_pure_queries_pass(spark):
    for sql in (
        "SELECT 1",
        "WITH t AS (SELECT 1 AS x) SELECT * FROM t",
        "SELECT * FROM (SELECT 1) q ORDER BY 1 LIMIT 5",
        "(SELECT 1) UNION (SELECT 2)",
        "VALUES (1),(2)",
        "SELECT 1 OFFSET 0",  # Offset node: 'Set' substring must not trip
    ):
        assert guards.non_query_nodes(spark, sql) == [], sql


def test_non_query_nodes_flags_writes_anywhere_in_tree(spark):
    cases = {
        "WITH t AS (SELECT 1) INSERT INTO x SELECT * FROM t":
            "InsertIntoStatement",
        "INSERT OVERWRITE DIRECTORY '/tmp/z' USING parquet SELECT 1":
            "InsertIntoDir",
        "CREATE TABLE x AS SELECT 1": "CreateTableAsSelect",
        "DROP TABLE x": "DropTable",
        "EXPLAIN SELECT 1": "ExplainCommand",
        "SET spark.x=1": "SetCommand",
        "CACHE TABLE x": "CacheTable",
    }
    for sql, node in cases.items():
        assert node in guards.non_query_nodes(spark, sql), sql
    # unparsable SQL is not flagged here: it cannot execute either, and
    # the later ParseException carries the real message
    assert guards.non_query_nodes(spark, "SELEKT banana !!") == []


def test_non_query_nodes_fails_closed_when_parser_unreachable(spark):
    """Only the parser's ParseException is fail-open; any OTHER
    failure (a session with no classic JVM handle, a py4j transport
    error) raises GuardUnavailableError so the caller refuses to
    execute — a broken guard must never read as 'pure query' (r15
    ADVICE, medium)."""

    class NoJvmSession:
        # AttributeError on _jsparkSession — the Spark Connect shape
        pass

    with pytest.raises(guards.GuardUnavailableError):
        guards.non_query_nodes(NoJvmSession(), "SELECT 1")

    class ExplodingState:
        @property
        def _jsparkSession(self):
            raise RuntimeError("py4j transport down")

    with pytest.raises(guards.GuardUnavailableError):
        guards.non_query_nodes(ExplodingState(), "SELECT 1")


def test_http_sql_503_when_guard_unavailable(spark, monkeypatch):
    """The /sql endpoint maps GuardUnavailableError to 503 and does
    NOT execute the statement."""
    from urllib import error as urlerror
    from urllib import request as urlrequest

    from hadoop_data_pipeline_spark.app.http_api import PipelineHTTPServer
    from hadoop_data_pipeline_spark import guards as gmod

    executed = []
    monkeypatch.setattr(
        gmod, "non_query_nodes",
        lambda *_a, **_k: (_ for _ in ()).throw(
            gmod.GuardUnavailableError("parser unreachable")),
    )
    monkeypatch.setattr(
        spark, "sql",
        lambda *a, **k: executed.append(a) or (_ for _ in ()).throw(
            AssertionError("must not execute")),
    )
    srv = PipelineHTTPServer(spark)
    port = srv.start()
    try:
        req = urlrequest.Request(
            f"http://127.0.0.1:{port}/sql",
            data=b'{"sql": "SELECT 1"}',
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urlerror.HTTPError) as ei:
            urlrequest.urlopen(req, timeout=30)
        assert ei.value.code == 503
        assert b"parser unreachable" in ei.value.read()
        assert executed == []
    finally:
        srv.stop()
