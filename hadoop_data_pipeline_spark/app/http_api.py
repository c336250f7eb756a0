"""HTTP façade over the filesystem utilities and the guarded SQL
serving path — the engine's equivalent of the reference's REST API
(reference ``hive_hdfs_api.py:37-93``: ``GET /hdfs/list``,
``POST /hdfs/upload``, ``DELETE /hdfs/delete`` over ``hdfs dfs``
subprocess calls; ``hive_hdfs_api_test.py`` shows the WebHDFS
LISTSTATUS proxy variant). This was the one reference surface SURVEY
§2.1-S9 scoped out of the engine; it lands here as a thin layer so a
reference user finds every surface.

Spark-first differences from the reference:

* Filesystem operations go through :class:`fs.FS` (the Hadoop
  FileSystem JVM API, scheme-resolved per path) instead of shelling
  out to ``docker exec hdfs dfs`` — same semantics on ``hdfs://``,
  ``file://``, ``s3a://``, no subprocess parsing, and LISTSTATUS-like
  structured output instead of raw ``-ls`` text.
* The SQL endpoint reuses the engine's guarded serving path
  (``guards.run_with_repair``: clean -> lint -> pure-query check ->
  execute), with a hard row cap — the reference exposes Hive through
  the same "query in, rows out" shape. The pure-query policy lives in
  :mod:`guards`, not here: this module only maps its refusal to 400
  and an unavailable guard to 503.
* Implementation is stdlib ``http.server`` (this container ships no
  FastAPI); ``ThreadingHTTPServer`` because Spark sessions are
  thread-safe for concurrent read queries.

Scale/ops notes: every endpoint is CONTROL-PLANE (driver-side metadata
RPCs or capped result fetches) — uploads stream through the driver and
are for markers/configs/small reference files, never data-plane bulk
loads (use a distributed write for those). Binds 127.0.0.1 by default;
put real authn/z in front before exposing beyond localhost.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import posixpath
import threading
from collections.abc import Sequence
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from hadoop_data_pipeline_spark import guards
from hadoop_data_pipeline_spark.fs import FS

#: Hard cap on rows returned by /sql (the serving contract: this is a
#: result endpoint, not an export path).
MAX_SQL_ROWS = 1000

#: Request bodies above this are refused with 413 before any byte is
#: read: uploads are control-plane files, not datasets (stream those
#: with the DataFrame writers).
MAX_UPLOAD_BYTES = 64 * 1024 * 1024


def _json_default(obj: object) -> str:
    """Serialize the Spark row types ``json`` has no encoding for:
    dates/timestamps to ISO-8601, decimals to their exact string form,
    binary to base64. Anything else falls back to ``str`` rather than
    500-ing the whole response."""
    if isinstance(obj, (datetime.date, datetime.datetime)):
        return obj.isoformat()
    if isinstance(obj, decimal.Decimal):
        return str(obj)
    if isinstance(obj, (bytes, bytearray)):
        return base64.b64encode(bytes(obj)).decode("ascii")
    return str(obj)


def _normalize_fs_path(p: str) -> str:
    """Collapse ``.``/``..`` in the path component and lowercase the
    scheme + authority (DNS hostnames and URI schemes are
    case-insensitive: ``hdfs://HOST/x`` and ``hdfs://host/x`` name
    the same path) so the allowed-roots prefix check cannot be
    escaped with ``/ok/../../etc`` or case tricks. Mirrors what
    Hadoop's ``Path`` normalization does before the filesystem sees
    the path; both the configured roots and every request path go
    through this SAME function, and the normalized form (not the raw
    request string) is what reaches the FS layer."""
    parsed = urlparse(p)
    if parsed.scheme:
        path = posixpath.normpath(parsed.path or "/")
        return f"{parsed.scheme.lower()}://{parsed.netloc.lower()}{path}"
    return posixpath.normpath(p)


class _Handler(BaseHTTPRequestHandler):
    server_version = "hdp-spark-api/1.0"

    # the server instance injects these
    spark: SparkSession
    fs: FS
    allowed_roots: tuple[str, ...] = ()

    # -- plumbing ---------------------------------------------------------
    def _json(self, code: int, payload: dict) -> None:
        body = json.dumps(payload, default=_json_default).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, code: int, detail: str) -> None:
        self._json(code, {"detail": detail})

    def _params(self) -> dict[str, str]:
        q = parse_qs(urlparse(self.path).query)
        return {k: v[0] for k, v in q.items()}

    def _route(self) -> str:
        return urlparse(self.path).path

    def _body(self) -> bytes | None:
        n = int(self.headers.get("Content-Length") or 0)
        if n > MAX_UPLOAD_BYTES:
            self._error(
                413,
                f"request body exceeds {MAX_UPLOAD_BYTES} bytes; bulk "
                "data belongs to the distributed writers",
            )
            return None
        return self.rfile.read(n) if n else b""

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _need_path(self) -> str | None:
        p = self._params().get("path")
        if not p:
            self._error(400, "missing required query parameter: path")
            return None
        if self.allowed_roots:
            norm = _normalize_fs_path(p)
            if not any(
                norm == root.rstrip("/")
                or norm.startswith(root.rstrip("/") + "/")
                for root in self.allowed_roots
            ):
                self._error(
                    403, f"path outside the allowed roots: {norm}"
                )
                return None
            # hand the FS the exact string the fence approved, not
            # the raw request path — the check and the access can
            # never diverge on normalization (r15 ADVICE item).
            return norm
        return p

    # -- verbs ------------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 - http.server contract
        try:
            route = self._route()
            if route == "/health":
                self._json(200, {"status": "ok"})
            elif route == "/fs/list":
                p = self._need_path()
                if p is None:
                    return
                recursive = (
                    self._params().get("recursive", "true").lower() != "false"
                )
                files = [
                    {"path": path, "size": size}
                    for path, size in self.fs.list_file_sizes(p, recursive)
                ]
                self._json(200, {"path": p, "files": files})
            elif route == "/fs/status":
                p = self._need_path()
                if p is None:
                    return
                self._json(200, {"path": p, "exists": self.fs.exists(p)})
            elif route == "/fs/read":
                p = self._need_path()
                if p is None:
                    return
                text = self.fs.read_text(p)
                if text is None:
                    self._error(404, f"no such file: {p}")
                else:
                    self._json(200, {"path": p, "content": text})
            else:
                self._error(404, f"unknown route {route}")
        except Exception as exc:  # noqa: BLE001 - surface, never crash
            self._error(500, f"{type(exc).__name__}: {exc}"[:500])

    def do_POST(self) -> None:  # noqa: N802
        try:
            route = self._route()
            if route == "/fs/upload":
                p = self._need_path()
                if p is None:
                    return
                body = self._body()
                if body is None:
                    return
                self.fs.write_bytes(p, body)
                self._json(200, {"message": "Upload successful", "path": p})
            elif route == "/fs/mkdirs":
                p = self._need_path()
                if p is None:
                    return
                self.fs.mkdirs(p)
                self._json(200, {"message": "Created", "path": p})
            elif route == "/fs/touch":
                p = self._need_path()
                if p is None:
                    return
                self.fs.touch(p)
                self._json(200, {"message": "Touched", "path": p})
            elif route == "/sql":
                body = self._body()
                if body is None:
                    return
                raw = body.decode("utf-8", errors="replace")
                try:
                    sql = json.loads(raw).get("sql", "")
                except (json.JSONDecodeError, AttributeError):
                    sql = raw  # raw-text body is accepted too
                # guards.run_with_repair owns the pure-query policy;
                # a guard that cannot run must never mean "execute
                # unguarded" (fail closed: 503).
                try:
                    df, final_sql = guards.run_with_repair(self.spark, sql or "")
                except guards.NonQueryError as exc:
                    self._error(400, str(exc))
                    return
                except guards.GuardUnavailableError as exc:
                    self._error(503, str(exc))
                    return
                rows = df.limit(MAX_SQL_ROWS).collect()
                self._json(
                    200,
                    {
                        "sql": final_sql,
                        "columns": df.columns,
                        "rows": [[r[c] for c in df.columns] for r in rows],
                        "truncated_at": MAX_SQL_ROWS
                        if len(rows) == MAX_SQL_ROWS
                        else None,
                    },
                )
            else:
                self._error(404, f"unknown route {route}")
        except Exception as exc:  # noqa: BLE001
            self._error(500, f"{type(exc).__name__}: {exc}"[:500])

    def do_DELETE(self) -> None:  # noqa: N802
        try:
            if self._route() == "/fs/delete":
                p = self._need_path()
                if p is None:
                    return
                recursive = (
                    self._params().get("recursive", "false").lower() == "true"
                )
                deleted = self.fs.delete(p, recursive)
                self._json(200, {"message": "Deleted", "path": p,
                                 "deleted": bool(deleted)})
            else:
                self._error(404, f"unknown route {self._route()}")
        except Exception as exc:  # noqa: BLE001
            self._error(500, f"{type(exc).__name__}: {exc}"[:500])


class PipelineHTTPServer:
    """Lifecycle wrapper: serve the façade on a background thread.

    >>> srv = PipelineHTTPServer(spark)
    >>> port = srv.start()          # 127.0.0.1, ephemeral port
    >>> ...                         # requests against http://127.0.0.1:port
    >>> srv.stop()
    """

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1",
                 port: int = 0,
                 allowed_roots: Sequence[str] | None = None):
        """``allowed_roots``: optional path-prefix allowlist for every
        ``/fs/*`` endpoint. Both the roots and every request path are
        normalized by the same function (``..`` collapse + lowercased
        scheme/authority) and the FS layer receives the normalized
        string the fence approved, so dot-segments and URI-case
        tricks cannot escape it; requests outside it get 403.
        LIMITATION: the fence is a string-prefix check, not a
        canonical-path check — on a local filesystem a symlink placed
        INSIDE an allowed root can point outside it and the fence
        cannot see that; don't grant roots containing untrusted
        symlinks. Leave ``None`` only for localhost dev — one
        recursive DELETE can otherwise remove the warehouse."""
        self._spark = spark
        self._host = host
        self._port = port
        self._allowed_roots = tuple(
            _normalize_fs_path(r) for r in (allowed_roots or ())
        )
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def start(self) -> int:
        handler = type("BoundHandler", (_Handler,), {})
        handler.spark = self._spark
        handler.fs = FS(self._spark)
        handler.allowed_roots = self._allowed_roots
        self._httpd = ThreadingHTTPServer((self._host, self._port), handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return int(self._httpd.server_address[1])

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
