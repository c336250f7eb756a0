"""HTTP façade tests (reference ``hive_hdfs_api.py`` parity: list /
upload / delete, plus status/read/mkdirs/touch from the FS utility and
the guarded SQL serving endpoint) — live-server round trips with
stdlib urllib against a temp directory and a temp view."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from hadoop_data_pipeline_spark.app.http_api import PipelineHTTPServer


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    srv = PipelineHTTPServer(spark)
    port = srv.start()
    base = f"http://127.0.0.1:{port}"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "b", 5.0)],
        "id long, cat string, amount double",
    ).createOrReplaceTempView("api_rows")
    yield base, tmp_path_factory.mktemp("api_fs")
    srv.stop()


def _req(url: str, method: str = "GET", body: bytes | None = None) -> dict:
    req = urllib.request.Request(url, data=body, method=method)
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _err(url: str, method: str = "GET", body: bytes | None = None):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(url, method, body)
    return ei.value.code, json.loads(ei.value.read())


def test_health_and_unknown_routes(server):
    base, _ = server
    assert _req(f"{base}/health") == {"status": "ok"}
    code, detail = _err(f"{base}/nope")
    assert code == 404 and "unknown route" in detail["detail"]
    code, _ = _err(f"{base}/fs/list")  # missing ?path=
    assert code == 400


def test_fs_upload_list_read_delete_roundtrip(server):
    base, root = server
    target = f"file://{root}/sub/hello.txt"
    up = _req(f"{base}/fs/upload?path={target}", "POST", b"hi from the api")
    assert up["message"] == "Upload successful"
    got = _req(f"{base}/fs/status?path={target}")
    assert got["exists"] is True
    listing = _req(f"{base}/fs/list?path=file://{root}")
    assert [f for f in listing["files"] if f["path"].endswith("hello.txt")]
    assert listing["files"][0]["size"] > 0
    read = _req(f"{base}/fs/read?path={target}")
    assert read["content"] == "hi from the api"
    dele = _req(f"{base}/fs/delete?path={target}", "DELETE")
    assert dele["deleted"] is True
    assert _req(f"{base}/fs/status?path={target}")["exists"] is False
    # deleting a missing path reports deleted=False, not an error
    assert _req(f"{base}/fs/delete?path={target}", "DELETE")["deleted"] is False
    code, detail = _err(f"{base}/fs/read?path={target}")
    assert code == 404


def test_fs_mkdirs_and_touch(server):
    base, root = server
    d = f"file://{root}/markers"
    _req(f"{base}/fs/mkdirs?path={d}", "POST")
    _req(f"{base}/fs/touch?path={d}/_SUCCESS", "POST")
    assert _req(f"{base}/fs/status?path={d}/_SUCCESS")["exists"] is True


def test_sql_endpoint_guarded(server):
    base, _ = server
    body = json.dumps(
        {"sql": "SELECT cat, SUM(amount) AS total FROM api_rows "
                "GROUP BY cat ORDER BY cat"}
    ).encode()
    out = _req(f"{base}/sql", "POST", body)
    assert out["columns"] == ["cat", "total"]
    assert out["rows"] == [["a", 10.0], ["b", 25.0]]
    assert out["truncated_at"] is None
    # raw-text body is accepted too
    out2 = _req(f"{base}/sql", "POST", b"SELECT COUNT(*) AS n FROM api_rows")
    assert out2["rows"] == [[3]]
    # non-SELECT statements are refused up front
    code, detail = _err(f"{base}/sql", "POST", b"DROP TABLE api_rows")
    assert code == 400 and "SELECT" in detail["detail"]
    # execution errors surface as structured 500s, not hung sockets
    code, detail = _err(f"{base}/sql", "POST", b"SELECT * FROM no_such")
    assert code == 500


def test_sql_write_statements_refused_behind_cte(server):
    """A CTE prefix satisfies the ^WITH regex, so the parsed-plan walk
    is what must refuse write statements (the ADVICE r14 bypass)."""
    base, _ = server
    for stmt in (
        b"WITH t AS (SELECT 1 AS x) INSERT INTO api_rows "
        b"SELECT x, 'z', 0.0 FROM t",
        b"WITH t AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY "
        b"'/tmp/api_bypass' USING parquet SELECT * FROM t",
    ):
        code, detail = _err(f"{base}/sql", "POST", stmt)
        assert code == 400 and "Insert" in detail["detail"], detail
    # the table the INSERT aimed at is untouched
    out = _req(f"{base}/sql", "POST", b"SELECT COUNT(*) AS n FROM api_rows")
    assert out["rows"] == [[3]]


def test_sql_runs_parsed_plan_walk_once(server, monkeypatch):
    """One /sql request parses its statement for the write guard once."""
    from hadoop_data_pipeline_spark import guards

    base, _ = server
    calls = []
    walk = guards.non_query_nodes
    monkeypatch.setattr(
        guards, "non_query_nodes", lambda *a: calls.append(a) or walk(*a)
    )
    out = _req(f"{base}/sql", "POST", b"SELECT COUNT(*) AS n FROM api_rows")
    assert out["rows"] == [[3]]
    assert len(calls) == 1


def test_body_over_cap_refused_before_read(server, monkeypatch):
    """A body over MAX_UPLOAD_BYTES gets 413 and nothing is written."""
    from hadoop_data_pipeline_spark.app import http_api

    base, root = server
    monkeypatch.setattr(http_api, "MAX_UPLOAD_BYTES", 4)
    target = f"file://{root}/too_big.txt"
    code, detail = _err(f"{base}/fs/upload?path={target}", "POST", b"12345")
    assert code == 413 and "exceeds 4 bytes" in detail["detail"]
    assert _req(f"{base}/fs/status?path={target}")["exists"] is False
    code, _ = _err(f"{base}/sql", "POST", b"SELECT 1")
    assert code == 413


def test_sql_serializes_dates_decimals_binary(server):
    """Date / timestamp / decimal / binary columns must serialize, not
    500 (the fixture schema has date columns — ADVICE r14 #2)."""
    base, _ = server
    out = _req(
        f"{base}/sql", "POST",
        b"SELECT DATE'2024-03-01' AS d,"
        b" TIMESTAMP'2024-03-01 12:30:00' AS ts,"
        b" CAST(1.50 AS DECIMAL(10,2)) AS dec,"
        b" CAST('ab' AS BINARY) AS bin",
    )
    (row,) = out["rows"]
    assert row[0] == "2024-03-01"
    assert row[1].startswith("2024-03-01T12:30:00")
    assert row[2] == "1.50"
    assert row[3] == "YWI="  # base64("ab")


def test_fs_allowed_roots_fence(spark, tmp_path_factory):
    """With allowed_roots set, /fs requests outside the fence get 403
    — including ``..`` escapes — while inside-the-fence ops work."""
    root = tmp_path_factory.mktemp("fenced")
    srv = PipelineHTTPServer(spark, allowed_roots=[f"file://{root}"])
    port = srv.start()
    base = f"http://127.0.0.1:{port}"
    try:
        ok = f"file://{root}/a.txt"
        _req(f"{base}/fs/upload?path={ok}", "POST", b"inside")
        assert _req(f"{base}/fs/status?path={ok}")["exists"] is True
        code, detail = _err(f"{base}/fs/read?path=file:///etc/hostname")
        assert code == 403 and "allowed roots" in detail["detail"]
        # ..-escape past the fence is normalized away, then refused
        sneak = f"file://{root}/../../../etc/hostname"
        code, _ = _err(f"{base}/fs/read?path={sneak}")
        assert code == 403
        code, _ = _err(f"{base}/fs/delete?path=file:///etc", "DELETE")
        assert code == 403
        # URI scheme/authority are case-insensitive: FILE:// names the
        # same file, is normalized to file:// on BOTH sides of the
        # fence, and the FS layer receives the normalized form — so it
        # neither bypasses the fence nor gets falsely refused
        assert _req(f"{base}/fs/status?path=FILE://{root}/a.txt")[
            "exists"] is True
        code, _ = _err(f"{base}/fs/read?path=FILE:///etc/hostname")
        assert code == 403
    finally:
        srv.stop()
