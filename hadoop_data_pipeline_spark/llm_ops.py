"""LLM-assisted query operators (SURVEY.md §2.12 L1-L5).

The reference's dashboard loop (``dashboard/services/hive_gpt.py``):
natural-language question -> SQL against the serving tables -> execute
-> summarize -> chart suggestion. Every LLM call goes through an
**injectable client** (callable ``(system, user) -> str``) so the
engine never hard-codes a vendor and tests run with stubs — the
reference's OpenAI coupling becomes a seam.

Execution targets ``spark.sql`` on this engine's session (the
reference goes over PyHive to HiveServer2); the guard + repair logic
is shared with :mod:`hadoop_data_pipeline_spark.guards`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hadoop_data_pipeline_spark import guards

LLMClient = Callable[[str, str], str]

NL2SQL_SYSTEM = """You translate analyst questions into ANSI/Spark SQL.
Rules:
- Query only the tables in the provided schema.
- `date` is a string month key 'YYYY-MM' or the sentinel
  'all-year-budget'; always backtick-quote `date`.
- details is one of 'budget', 'spent', 'remaining'.
- NEVER SUM amounts where details='remaining' across dates — remaining
  is a point-in-time balance; take the latest date per category
  (join on MAX(`date`) or ORDER BY `date` DESC LIMIT 1).
Return ONLY the SQL statement, no prose, no markdown fences."""


def schema_prompt(spark: SparkSession, tables: list[str]) -> str:
    """Render the live catalog schema for the system prompt (the
    reference hard-codes the schema text; we generate it)."""
    lines = []
    for t in tables:
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in spark.table(t).schema
        )
        lines.append(f"TABLE {t} ({cols})")
    return "\n".join(lines)


def nl_to_sql(
    client: LLMClient,
    question: str,
    schema: str,
    year_context: str = "",
) -> str:
    """L1: question -> cleaned SQL."""
    user = f"{schema}\n{year_context}\nQuestion: {question}"
    return guards.clean_sql(client(NL2SQL_SYSTEM, user))


def answer_question(
    spark: SparkSession,
    client: LLMClient,
    question: str,
    tables: list[str],
    year_context: str = "",
    max_attempts: int = 3,
) -> tuple[DataFrame, str]:
    """L1+L2+L3: translate, then lint, refuse anything but a pure
    query, and execute with the LLM repair loop
    (:func:`guards.run_with_repair`)."""
    schema = schema_prompt(spark, tables)
    sql = nl_to_sql(client, question, schema, year_context)

    def fixer(bad_sql: str, error: str) -> str:
        return client(
            NL2SQL_SYSTEM,
            f"{schema}\nThis SQL failed:\n{bad_sql}\nError: {error}\n"
            "Return the corrected SQL only.",
        )

    return guards.run_with_repair(spark, sql, fixer=fixer, max_attempts=max_attempts)


def summarize_result(
    client: LLMClient,
    question: str,
    df: DataFrame,
    category_names: dict[str, str] | None = None,
    max_rows: int = 50,
) -> str:
    """L4: summarize a bounded result for the analyst, optionally
    translating category keys back to display names."""
    rows = df.limit(max_rows).collect()
    rendered = "\n".join(str(r.asDict()) for r in rows)
    if category_names:
        for key, name in category_names.items():
            rendered = rendered.replace(key, name)
    return client(
        "Summarize this query result concisely for the analyst.",
        f"Question: {question}\nResult rows:\n{rendered}",
    )


def suggest_chart(
    client: LLMClient, question: str, df: DataFrame, n_rows: int
) -> str:
    """L5: one of bar/line/pie/none."""
    out = client(
        "Suggest a chart type for this result. Answer with exactly one "
        "of: bar, line, pie, none.",
        f"Question: {question}\nColumns: {df.columns}\nRows: {n_rows}",
    ).strip().lower()
    return out if out in {"bar", "line", "pie", "none"} else "none"


def _parse_json_block(text: str) -> dict:
    """Tolerant JSON extraction from an LLM reply (fences, prose)."""
    import json
    import re

    m = re.search(r"\{.*\}", text, re.DOTALL)
    if not m:
        raise ValueError(f"no JSON object in LLM reply: {text[:200]}")
    return json.loads(m.group(0))


def analyze_workbook_structure(
    client: LLMClient,
    grid_preview: list[list],
    merged_ranges: list[tuple] = (),
) -> dict:
    """L6: ask the LLM where the month/type columns live and which
    values mark budget/spent/remaining rows (reference
    ``gpt_excel_flexible_column.py:89-132``). Returns
    ``{month_col, type_col, type_values: {...}}``; the caller feeds it
    to :func:`ingestion.normalize_workbook`."""
    reply = client(
        "You analyze spreadsheet structure. Given the first rows of a "
        "budget workbook (merged ranges listed separately), answer in "
        'JSON only: {"month_col": <name-or-index>, "type_col": '
        '<name-or-index>, "type_values": {"<cell value>": '
        '"budget|spent|remaining", ...}}',
        f"Rows: {grid_preview!r}\nMerged ranges: {list(merged_ranges)!r}",
    )
    out = _parse_json_block(reply)
    for key in ("month_col", "type_col", "type_values"):
        if key not in out:
            raise ValueError(f"workbook analysis missing '{key}': {out}")
    return out


def translate_headers(
    client: LLMClient, headers: list[str]
) -> dict[str, str]:
    """L7: map source-language (e.g. Thai) headers to snake_case
    English names (reference ``gpt_excel_flexible_column.py:13-43``).
    Unknown headers pass through unchanged."""
    reply = client(
        "Translate these spreadsheet column headers to concise "
        "snake_case English identifiers. Answer in JSON only: "
        '{"<original>": "<snake_case_name>", ...}',
        repr(headers),
    )
    mapping = _parse_json_block(reply)
    return {h: str(mapping.get(h, h)) for h in headers}
