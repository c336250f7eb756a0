"""App-layer parity utilities: alerts (C4), structured logging (C5),
chat history (K7), CSV export (K6), MSCK repair (K2), LLM workbook
analysis / header translation (L6/L7)."""

from __future__ import annotations

import json
import logging

import pytest

from hadoop_data_pipeline_spark import ingestion, llm_ops
from hadoop_data_pipeline_spark.alerts import Alerter
from hadoop_data_pipeline_spark.fs import repair_table_partitions
from hadoop_data_pipeline_spark.history import ChatHistory
from hadoop_data_pipeline_spark.logger import get_logger

# -- alerts ------------------------------------------------------------------


def test_alerter_uses_injected_transport():
    sent = []
    a = Alerter(
        ["ops@example.org"],
        transport=lambda s, b, r: sent.append((s, b, list(r))),
    )
    a.send_dq_report("/raw/year=2024/f.csv", "ERRORS:\nnull date")
    (subject, body, recipients) = sent[0]
    assert subject.startswith("[ETL] Data quality failed")
    assert "null date" in body
    assert recipients == ["ops@example.org"]


def test_pipeline_alert_hook_fires(spark, tmp_path):
    from hadoop_data_pipeline_spark.pipeline import IncrementalPipeline

    d = tmp_path / "raw" / "year=2023"
    d.mkdir(parents=True)
    (d / "bad.csv").write_text(
        "date,total_amount,details,m1\n,1.0,spent,1.0"
    )
    sent = []
    p = IncrementalPipeline(
        spark,
        raw_root=str(tmp_path / "raw"),
        wide_path=str(tmp_path / "w"),
        long_path=str(tmp_path / "l"),
        expected_columns=["date", "total_amount", "details", "m1"],
        alert=lambda s, b: sent.append((s, b)),
    )
    p.run()
    assert sent and "2023" in sent[0][0]


# -- logging -----------------------------------------------------------------


def test_logger_structured_kv_and_json_sink(tmp_path, capsys):
    log = get_logger("test_kv_logger", log_dir=str(tmp_path))
    log.info("Partition swapped", year=2024, rows=1500)
    log.error("Step failed", step="write")
    for h in logging.getLogger("test_kv_logger").handlers:
        h.flush()
    main_lines = (tmp_path / "etl.jsonl").read_text().strip().splitlines()
    rec = json.loads(main_lines[0])
    assert rec["message"].startswith("Partition swapped")
    assert rec["year"] == 2024 and rec["rows"] == 1500
    err_lines = (tmp_path / "etl_errors.jsonl").read_text().strip().splitlines()
    assert len(err_lines) == 1  # only the ERROR record
    assert json.loads(err_lines[0])["step"] == "write"


# -- chat history ------------------------------------------------------------


def test_history_caps_entries(tmp_path):
    h = ChatHistory(str(tmp_path / "hist.json"), max_entries=3)
    for i in range(5):
        h.append({"question": f"q{i}", "sql": "SELECT 1"})
    entries = h.load()
    assert [e["question"] for e in entries] == ["q2", "q3", "q4"]
    h.clear()
    assert h.load() == []


def test_history_survives_corrupt_file(tmp_path):
    path = tmp_path / "hist.json"
    path.write_text("{not json")
    h = ChatHistory(str(path))
    assert h.load() == []
    assert len(h.append({"q": 1})) == 1


# -- CSV export --------------------------------------------------------------


def test_export_csv_utf8_sig(tmp_path):
    import pandas as pd

    out = tmp_path / "out.csv"
    ingestion.export_csv(pd.DataFrame({"หมวด": ["ก"], "v": [1]}), str(out))
    raw = out.read_bytes()
    assert raw.startswith(b"\xef\xbb\xbf")  # BOM for Excel
    assert "หมวด" in raw.decode("utf-8-sig")


# -- MSCK repair -------------------------------------------------------------


def test_repair_table_discovers_partitions(spark, tmp_path):
    loc = str(tmp_path / "ext_table")
    df = spark.createDataFrame([(1, 2023), (2, 2024)], "v int, year int")
    df.write.partitionBy("year").parquet(loc)
    spark.sql(
        f"CREATE TABLE msck_t (v int, year int) USING parquet "
        f"PARTITIONED BY (year) LOCATION '{loc}'"
    )
    try:
        assert spark.table("msck_t").count() == 0  # partitions unknown
        repair_table_partitions(spark, "msck_t")
        assert spark.table("msck_t").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS msck_t")


# -- L6/L7 LLM ingestion helpers --------------------------------------------


def test_analyze_workbook_structure_parses_json():
    def client(system, user):
        assert "Rows:" in user
        return ('Here you go:\n```json\n{"month_col": "A", "type_col": "B", '
                '"type_values": {"ยอดใช้ไป": "spent"}}\n```')

    out = llm_ops.analyze_workbook_structure(client, [["A", "B"]])
    assert out["month_col"] == "A"
    assert out["type_values"]["ยอดใช้ไป"] == "spent"


def test_analyze_workbook_structure_rejects_partial():
    with pytest.raises(ValueError, match="type_col"):
        llm_ops.analyze_workbook_structure(
            lambda s, u: '{"month_col": "A"}', [["A"]]
        )


def test_translate_headers_passthrough_unknown():
    mapping = llm_ops.translate_headers(
        lambda s, u: '{"ว/ด/ป": "month"}', ["ว/ด/ป", "already_english"]
    )
    assert mapping == {"ว/ด/ป": "month", "already_english": "already_english"}
