"""SQL hygiene + semantic guards + execute-repair loop (SURVEY.md
§2.12 L1-L3, §4.3).

Behavioral parity with the reference's dashboard service
(``dashboard/services/hive_gpt.py:46-65,135-170``; contract tests
``tests/test_sql_safety.py``):

* ``clean_sql`` strips markdown fences, normalizes smart quotes,
  drops trailing semicolons.
* ``fix_reserved_keywords`` backtick-quotes the bare identifier
  ``date`` (idempotent — never double-wraps).
* ``has_bad_remaining_sum`` rejects the *prohibited aggregation*:
  ``SUM(CASE WHEN details='remaining' ...)`` — summing a point-in-time
  balance over time is semantically wrong; the correct shape is the
  latest-per-group argmax join (SURVEY.md §2.6 J1).
* ``run_with_repair`` executes on ``spark.sql`` and asks an injectable
  fixer (an LLM in production, a stub in tests) to repair the
  statement on error, bounded attempts.

This module is the one place that decides which SQL may execute: every
statement ``run_with_repair`` is about to run — the first one and each
one a fixer returns — must pass the pure-query policy (a
``^SELECT|WITH`` prefix and no write/DDL/command node anywhere in the
parsed plan, :func:`non_query_nodes`) or it is refused with
:class:`NonQueryError` and never reaches ``spark.sql``. Both serving
paths (the ``/sql`` HTTP route and the LLM ask path) go through it and
carry no guard code of their own.

Beyond the reference: ``plan_has_bad_remaining_sum`` re-checks the
rule on Spark's **parsed logical plan**, catching variants the string
regex cannot (subqueries, formatting, CTE indirection) — a pre-analysis
lint, not a Catalyst rewrite (it rejects + repairs rather than
transforms). Parsing, unlike ``spark.sql``, NEVER executes: command
statements (INSERT / CTAS / DROP) run eagerly under ``spark.sql``, so
an analysis-based lint would execute LLM-emitted DML a second time
before the repair loop's own execution. The parser also exposes the
query subtree inside an INSERT, so DML statements get linted too.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

BAD_REMAINING_SUM_RE = re.compile(
    r"SUM\s*\(\s*CASE\s+WHEN\s+\S*details\S*\s*=\s*['\"`]remaining['\"`]",
    re.IGNORECASE,
)

REPAIR_HINT = (
    "Never SUM amounts where details='remaining' over multiple dates — "
    "remaining is a point-in-time balance. Use the latest date per "
    "category instead: join on (category, MAX(`date`)) with "
    "details='remaining', or ORDER BY `date` DESC LIMIT 1."
)


def fix_reserved_keywords(sql: str) -> str:
    """Backtick-quote the bare ``date`` identifier (HiveQL reserved
    word). Idempotent."""
    return re.sub(r"(?<!`)\bdate\b(?!`)", "`date`", sql)


def clean_sql(sql: str) -> str:
    """Normalize LLM-emitted SQL: markdown fences, smart quotes,
    trailing semicolon, then reserved-keyword quoting."""
    sql = sql.strip()
    if sql.startswith("```"):
        sql = "\n".join(
            line for line in sql.split("\n") if not line.startswith("```")
        ).strip()
    sql = sql.replace("‘", "'").replace("’", "'")
    sql = sql.replace("“", '"').replace("”", '"')
    sql = sql.rstrip(";").rstrip()
    return fix_reserved_keywords(sql)


def has_bad_remaining_sum(sql: str) -> bool:
    """Regex form of the prohibited-aggregation lint (string level,
    pre-execution)."""
    return bool(BAD_REMAINING_SUM_RE.search(sql))


def plan_has_bad_remaining_sum(
    spark: SparkSession, sql: str, amount_col: str = "amount"
) -> bool:
    """Plan-level form: PARSE the statement (guaranteed no execution —
    ``spark.sql`` would eagerly run INSERT/CTAS/DROP) and flag a
    ``sum(amount)`` aggregate whose input subtree filters
    ``details = remaining`` with no latest-date reduction (a max(date)
    aggregate anywhere in the tree).

    Strictly wider than the regex — catches ``SUM(amount)`` under a
    ``WHERE details='remaining'`` without any CASE expression, in
    subqueries/CTEs, and inside the query part of DML statements.
    """
    try:
        parsed = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        )
    except Exception:
        return False  # unparsable SQL fails later with a better error
    text = parsed.toString().lower()
    sums_amount = re.search(rf"sum\([^)]*{re.escape(amount_col)}", text)
    filters_remaining = re.search(r"details[^\n]{0,40}remaining", text)
    takes_latest = re.search(r"max\([^)]*date", text) or "row_number" in text
    return bool(sums_amount and filters_remaining and not takes_latest)


#: Parsed-plan node classes that make a statement a write / DDL /
#: session-mutating command rather than a pure query. Matched against
#: the Catalyst class SIMPLE name of every node in the parsed tree:
#: commands and DML parse to ``*Command`` / ``*Statement`` nodes or to
#: nodes with these prefixes (``InsertIntoStatement``, ``InsertIntoDir``,
#: ``CreateTableAsSelect``, ``DropTable``, ``SetCommand``, ...), while
#: pure-query nodes (Project/Aggregate/Join/UnresolvedWith/GlobalLimit/
#: Distinct/Sample/Offset/...) match none of the anchored prefixes.
_NON_QUERY_NODE_RE = re.compile(
    r"^(Insert|Create|Drop|Delete|Update|Merge|Alter|Truncate|Cache"
    r"|Uncache|Refresh|Repair|Analyze|Set|Reset|Use|Show|Describe"
    r"|Load|Add|Write|Call|Comment|Declare|Execute|Explain|Vacuum)"
    r"|Command$|Statement$"
)

#: Leading-keyword half of the pure-query policy: cheap, but a CTE can
#: front DML, so :func:`non_query_nodes` makes the real decision.
_SELECT_RE = re.compile(r"^\s*(select|with)\b", re.IGNORECASE)


class GuardUnavailableError(RuntimeError):
    """The parsed-plan write guard could not inspect the statement
    (not a parse error — e.g. a session exposing no classic JVM
    parser, or a py4j failure). Raised so callers fail CLOSED: a
    guard that silently returns "pure query" on its own breakage
    would let a CTE-fronted INSERT through — the exact bypass it was
    built to stop (r15 ADVICE item, closed r16)."""


def _is_parse_exception(exc: BaseException) -> bool:
    """True iff ``exc`` is the SQL parser rejecting the statement —
    pyspark's captured ``ParseException`` or a raw ``Py4JJavaError``
    whose Java class is ``o.a.s.sql.catalyst.parser.ParseException``
    (the direct ``parsePlan`` call is not wrapped by pyspark's error
    capture). Anything else is guard breakage, not bad SQL."""
    if type(exc).__name__ == "ParseException":  # pyspark-captured
        return True
    java = getattr(exc, "java_exception", None)  # Py4JJavaError
    if java is None:
        return False
    try:
        cls = java.getClass().getName()
    except Exception:
        return False
    return cls.endswith(".ParseException")


def non_query_nodes(spark: SparkSession, sql: str) -> list[str]:
    """Walk the PARSED (never executed) logical plan and return the
    class names of any write / DDL / command nodes — empty for a pure
    query. This is the serving-path write guard: a ``^SELECT|WITH``
    prefix check alone is bypassable because Spark SQL accepts CTEs
    before DML (``WITH t AS (SELECT 1) INSERT INTO tbl SELECT * FROM
    t`` parses to root ``UnresolvedWith`` with an
    ``InsertIntoStatement`` child — verified on pyspark 4.1), so the
    decision must come from the tree, not the first token.

    Unparsable SQL returns ``[]``: it cannot execute either, and
    letting execution raise keeps the real ``ParseException`` message.
    That fail-open carve-out applies to the parser's own
    ``ParseException`` ONLY — any other failure (an AttributeError on
    a session with no ``_jsparkSession``, a py4j transport error)
    means the guard could not inspect a statement that ``spark.sql``
    may still happily execute, so it FAILS CLOSED by raising
    :class:`GuardUnavailableError`; :func:`run_with_repair` lets it
    propagate without executing (the HTTP handler answers 503).
    Walks ``children`` and ``innerChildren`` so CTE definitions and
    subqueries are covered; parsed trees are shallow (no driver-side
    blowup), and parsing — unlike ``spark.sql`` — never runs commands
    eagerly, so the check itself cannot trigger the write it guards.
    """
    try:
        parsed = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        )
    except Exception as exc:
        if _is_parse_exception(exc):
            return []
        raise GuardUnavailableError(
            "parsed-plan write guard could not run "
            f"({type(exc).__name__}: {exc}); refusing to treat the "
            "statement as a pure query"
        ) from exc
    seen: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if _NON_QUERY_NODE_RE.search(name) and name not in seen:
            seen.append(name)
        for coll in (node.children(), node.innerChildren()):
            for i in range(coll.size()):
                walk(coll.apply(i))

    walk(parsed)
    return seen


class NonQueryError(ValueError):
    """The statement is not a pure query (wrong leading keyword, or a
    write / DDL / command node in its parsed plan); it was not
    executed. The HTTP façade answers it with 400."""


def _require_pure_query(spark: SparkSession, sql: str) -> None:
    """Refuse ``sql`` unless it is a pure query;
    :class:`GuardUnavailableError` from the plan walk propagates so
    callers fail closed."""
    if not _SELECT_RE.match(sql):
        raise NonQueryError("only SELECT/WITH statements are served")
    bad = non_query_nodes(spark, sql)
    if bad:
        raise NonQueryError(
            f"only pure queries are served; statement contains {', '.join(bad)}"
        )


def run_with_repair(
    spark: SparkSession,
    sql: str,
    fixer: Callable[[str, str], str] | None = None,
    max_attempts: int = 3,
) -> tuple[DataFrame, str]:
    """Execute ``sql`` with the guard + repair loop (reference
    ``chat_with_data_full``): clean, lint (pre-emptive repair with
    :data:`REPAIR_HINT` if prohibited — the regex catches the CASE
    form, the parsed-plan walk catches the rest), refuse anything that
    is not a pure query, run, and on a refusal or execution error ask
    ``fixer(sql, error)`` for a corrected statement, <= ``max_attempts``
    total attempts. Without a fixer the first error is raised. A
    :class:`GuardUnavailableError` always propagates at once: nothing
    executes and the fixer is not asked. Returns (DataFrame, final
    SQL)."""
    sql = clean_sql(sql)
    if fixer is not None and (
        has_bad_remaining_sum(sql) or plan_has_bad_remaining_sum(spark, sql)
    ):
        sql = clean_sql(fixer(sql, REPAIR_HINT))
    last_error: Exception | None = None
    for _ in range(max_attempts):
        try:
            _require_pure_query(spark, sql)
            return spark.sql(sql), sql
        except GuardUnavailableError:
            raise
        except Exception as e:  # noqa: BLE001 - refusal or analysis/exec error
            last_error = e
            if fixer is None:
                break
            sql = clean_sql(fixer(sql, str(e)))
    assert last_error is not None
    raise last_error
