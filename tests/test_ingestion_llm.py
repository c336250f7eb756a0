"""Excel-ingestion normalization (SURVEY.md S6/S7/P13/P14) and
LLM-op seams (L1-L5) with stub clients."""

from __future__ import annotations

import pytest

from hadoop_data_pipeline_spark import guards, ingestion, llm_ops

# ---------------------------------------------------------------------------
# Grid normalization
# ---------------------------------------------------------------------------


def test_fill_merged_cells():
    grid = [["A", None, "B"], [None, None, None]]
    # A spans rows 1-2 cols 1-2; B spans rows 1-2 col 3.
    out = ingestion.fill_merged_cells(grid, [(1, 1, 2, 2), (1, 3, 2, 3)])
    assert out == [["A", "A", "B"], ["A", "A", "B"]]
    assert grid[1][0] is None  # input untouched


def test_flatten_headers_joins_dedups_uniquifies():
    rows = [
        ["กองทุนทั่วไป", "กองทุนทั่วไป", None, None],
        ["ค่าตอบแทน", "ค่าตอบแทน", "Firewall", None],
        ["งบประจำ", "พิเศษ", "Firewall", None],
    ]
    out = ingestion.flatten_headers(rows)
    assert out[0] == "กองทุนทั่วไป_ค่าตอบแทน_งบประจำ"
    assert out[1] == "กองทุนทั่วไป_ค่าตอบแทน_พิเศษ"
    assert out[2] == "Firewall"  # within-column duplicate collapsed
    assert out[3] == "col_3"


def test_flatten_headers_uniquify_suffix():
    out = ingestion.flatten_headers([["x", "x", "x"]])
    assert out == ["x", "x_1", "x_2"]


def test_thai_month_to_iso_fiscal_year_split():
    # Fiscal year 67 (Buddhist) = Oct 2023 .. Sep 2024.
    assert ingestion.thai_month_to_iso("ตค66") == "2022-10"
    assert ingestion.thai_month_to_iso("ตค67") == "2023-10"
    assert ingestion.thai_month_to_iso("ธค67") == "2023-12"
    assert ingestion.thai_month_to_iso("มค67") == "2024-01"
    assert ingestion.thai_month_to_iso("กย67") == "2024-09"
    assert ingestion.thai_month_to_iso("2024-01") is None
    assert ingestion.thai_month_to_iso("nonsense") is None


def test_forward_fill():
    assert ingestion.forward_fill([None, "a", None, None, "b", None]) == [
        None, "a", "a", "a", "b", "b",
    ]


def test_normalize_workbook_end_to_end():
    grid = [
        # 2 header rows
        ["ว/ด/ป", "รายละเอียด", "Firewall", None],
        [None, None, "งบประจำ", None],
        # data: month merged over 3 type rows (already filled here),
        # one junk row to be filtered by the type domain
        ["มค67", "ยอดงบประมาณ", 100.0, None],
        [None, "ยอดใช้ไป", 40.0, None],
        [None, "ยอดคงเหลือ", 60.0, None],
        [None, "หมายเหตุ", None, None],
    ]
    pdf = ingestion.normalize_workbook(
        grid,
        header_rows=2,
        rename_map={"ว/ด/ป": "month", "รายละเอียด": "type"},
    )
    assert list(pdf.columns) == ["month", "type", "Firewall_งบประจำ"]
    assert list(pdf["type"]) == ["budget", "spent", "remaining"]
    assert list(pdf["month"]) == ["2024-01", "2024-01", "2024-01"]  # ffill
    assert list(pdf["Firewall_งบประจำ"]) == [100.0, 40.0, 60.0]


def test_normalize_workbook_spark_roundtrip(spark):
    grid = [
        ["ว/ด/ป", "รายละเอียด", "m1"],
        ["มค67", "ยอดใช้ไป", 5.0],
        ["กพ67", "ยอดใช้ไป", 7.0],
    ]
    pdf = ingestion.normalize_workbook(
        grid, header_rows=1, rename_map={"ว/ด/ป": "month", "รายละเอียด": "type"}
    )
    df = spark.createDataFrame(pdf)
    assert df.count() == 2
    assert {r["month"] for r in df.collect()} == {"2024-01", "2024-02"}


# ---------------------------------------------------------------------------
# LLM op seams (stub client; no network ever)
# ---------------------------------------------------------------------------


def _view(spark):
    spark.createDataFrame(
        [("2024-01", "spent", "cat_a", 10.0, 2024),
         ("2024-02", "spent", "cat_a", 20.0, 2024)],
        "date string, details string, category string, amount double, year int",
    ).createOrReplaceTempView("finance_long")


def test_schema_prompt_from_live_catalog(spark):
    _view(spark)
    prompt = llm_ops.schema_prompt(spark, ["finance_long"])
    assert "TABLE finance_long" in prompt
    assert "amount double" in prompt


def test_answer_question_with_stub(spark):
    _view(spark)

    def client(system, user):
        assert "NEVER SUM" in system
        assert "TABLE finance_long" in user
        return "```sql\nSELECT SUM(amount) AS s FROM finance_long WHERE details = 'spent';\n```"

    df, sql = llm_ops.answer_question(
        spark, client, "how much spent?", ["finance_long"]
    )
    assert df.collect()[0]["s"] == 30.0
    assert "```" not in sql and not sql.endswith(";")


def test_answer_question_repairs_on_error(spark):
    _view(spark)
    calls = []

    def client(system, user):
        calls.append(user)
        if "This SQL failed" in user:
            return "SELECT count(*) AS n FROM finance_long"
        return "SELECT * FROM table_that_is_missing"

    df, _ = llm_ops.answer_question(spark, client, "count rows", ["finance_long"])
    assert df.collect()[0]["n"] == 2
    assert len(calls) == 2


def test_answer_question_refuses_dml_behind_cte(spark, tmp_path):
    """The ask path runs the same pure-query guard as /sql: LLM-emitted
    DML fronted by a CTE is refused and the target table is untouched."""
    spark.sql(
        "CREATE TABLE llm_victim (x int) USING parquet "
        f"LOCATION '{tmp_path / 'victim'}'"
    )
    try:
        spark.sql("INSERT INTO llm_victim VALUES (1)")
        dml = "WITH t AS (SELECT 99 AS x) INSERT INTO llm_victim SELECT * FROM t"
        with pytest.raises(guards.NonQueryError, match="InsertIntoStatement"):
            llm_ops.answer_question(
                spark, lambda system, user: dml, "add a row", ["llm_victim"]
            )
        assert [r.x for r in spark.table("llm_victim").collect()] == [1]
    finally:
        spark.sql("DROP TABLE IF EXISTS llm_victim")


def test_summarize_translates_categories(spark):
    _view(spark)
    captured = {}

    def client(system, user):
        captured["user"] = user
        return "summary text"

    out = llm_ops.summarize_result(
        client, "q", spark.table("finance_long"),
        category_names={"cat_a": "หมวด ก"},
    )
    assert out == "summary text"
    assert "หมวด ก" in captured["user"]
    assert "cat_a" not in captured["user"]


def test_suggest_chart_domain(spark):
    _view(spark)
    df = spark.table("finance_long")
    assert llm_ops.suggest_chart(lambda s, u: "Bar", "q", df, 2) == "bar"
    assert llm_ops.suggest_chart(lambda s, u: "scatter!!", "q", df, 2) == "none"
