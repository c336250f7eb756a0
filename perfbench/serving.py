"""``sql_serving``: dashboard SQL through ``PipelineHTTPServer``'s
``/sql`` route over a seeded curated long table.

Set-up writes the long zone with pyarrow (so ETL changes cannot move
it), registers it as ``finance_long``, starts the server, sends every
shape once and runs ``WARM_ROUNDS`` untimed rounds. The timed loop is
closed: rounds of ``ROUND`` requests, each sent by one client per core
back to back, until ``--seconds`` have elapsed. ``ops_per_s`` is the
median round's requests/s (the capacity) and the latencies are each
request's send-to-answer time under that load. The traffic is dashboard
sessions (see ``traffic``) plus DML hidden behind a CTE, which must be
refused with 400. Every 200 response is compared row by row with the
answer computed from the generated data.
"""

from __future__ import annotations

import http.client
import json
import queue
import random
import re
import threading
import time

import fixtures
from common import Result, median, timing_metrics
from spans import SparkProbe, Tracer

YEARS = 24
#: Requests per closed-loop round (four sessions and one DML statement),
#: the least number of timed rounds, and the untimed warm-up rounds:
#: capacity climbs from about a quarter of its plateau over the first
#: ten or so rounds while the JVM compiles the analysis and guard paths.
ROUND = 21
MIN_ROUNDS = 5
WARM_ROUNDS = 12
MONTH = "'^[0-9][0-9][0-9][0-9]-[0-9][0-9]$'"
REQ_RE = re.compile(r"/\* req=(\d+) \*/")

TEMPLATES = {
    "available_years": "SELECT DISTINCT year FROM finance_long ORDER BY year DESC",
    "quick_stats": (
        "SELECT ROUND(COALESCE(SUM(CASE WHEN details = 'budget' AND date = "
        "'all-year-budget' THEN amount END), 0), 2) AS total_budget, "
        "ROUND(COALESCE(SUM(CASE WHEN details = 'spent' THEN amount END), 0), 2) "
        "AS total_spent FROM finance_long WHERE year = {year}"
    ),
    "negative_latest": (
        "SELECT category, amount FROM (SELECT category, amount, ROW_NUMBER() "
        "OVER (PARTITION BY category ORDER BY date DESC) AS rn FROM finance_long "
        f"WHERE year = {{year}} AND details = 'remaining' AND date RLIKE {MONTH}) "
        "WHERE rn = 1 AND amount < 0 ORDER BY amount, category"
    ),
    "top_spent": (
        "SELECT category, ROUND(SUM(amount), 2) AS spent FROM finance_long "
        "WHERE year = {year} AND details = 'spent' GROUP BY category "
        "ORDER BY spent DESC, category LIMIT 5"
    ),
    "monthly_trend": (
        "SELECT date, ROUND(SUM(amount), 2) AS spent FROM finance_long "
        f"WHERE year = {{year}} AND details = 'spent' AND date RLIKE {MONTH} "
        "GROUP BY date ORDER BY date"
    ),
    "dml_behind_cte": (
        "WITH t AS (SELECT * FROM finance_long WHERE year = {year}) "
        "INSERT INTO finance_long_copy SELECT * FROM t"
    ),
}
#: One dashboard year view: the sidebar's quick stats (A3) and negative
#: latest categories (A4+J1), then the top-spent and monthly-trend charts.
YEAR_VIEW = ("quick_stats", "negative_latest", "top_spent", "monthly_trend")
#: One DML statement after every ``DML_EVERY`` sessions: 1 request in 21.
DML_EVERY = 4


def expected(template: str, years: dict, year: int):
    """(status, rows) the server must answer, from the generated data."""
    if template == "dml_behind_cte":
        return 400, None
    if template == "available_years":
        return 200, [[y] for y in sorted(years, reverse=True)]
    rows = fixtures.long_rows(years[year])
    months = re.compile(r"^\d{4}-\d{2}$")
    if template == "quick_stats":
        budget = sum(a for d, det, _c, a in rows if det == "budget" and d == "all-year-budget")
        spent = sum(a for _d, det, _c, a in rows if det == "spent")
        return 200, [[round(budget, 2), round(spent, 2)]]
    if template == "negative_latest":
        latest: dict[str, tuple[str, float]] = {}
        for d, det, c, a in rows:
            if det == "remaining" and months.match(d) and (c not in latest or d > latest[c][0]):
                latest[c] = (d, a)
        return 200, sorted(([c, a] for c, (_d, a) in latest.items() if a < 0),
                           key=lambda r: (r[1], r[0]))
    spent: dict[str, float] = {}
    key = 2 if template == "top_spent" else 0
    for r in rows:
        if r[1] == "spent" and (template == "top_spent" or months.match(r[0])):
            spent[r[key]] = spent.get(r[key], 0.0) + r[3]
    if template == "top_spent":
        return 200, sorted(([c, round(s, 2)] for c, s in spent.items()),
                           key=lambda r: (-r[1], r[0]))[:5]
    return 200, sorted([d, round(s, 2)] for d, s in spent.items())


def same_rows(got, want) -> bool:
    if got is None or len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float):
                if not isinstance(a, (int, float)) or abs(a - b) > 0.011:
                    return False
            elif a != b:
                return False
    return True


class Client:
    """Sends requests and checks answers; thread-safe record keeping."""

    def __init__(self, port: int, years, result: Result):
        self.port = port
        self.years = years
        self.result = result
        # answers computed up front, so checking costs the server's
        # threads no interpreter time while requests are in flight
        self.answers = {(t, y): expected(t, years, y) for t in TEMPLATES for y in years}
        self.lock = threading.Lock()
        self.next_id = 0

    def request(self, template: str, year: int) -> tuple[str, float, float]:
        """One POST /sql; returns (request id, send time, done time)."""
        with self.lock:
            rid = self.next_id
            self.next_id += 1
        sql = TEMPLATES[template].format(year=year) + f" /* req={rid} */"
        body = json.dumps({"sql": sql})
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("POST", "/sql", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            status, payload = resp.status, json.loads(resp.read() or b"{}")
        except (OSError, http.client.HTTPException, ValueError) as ex:
            status, payload = -1, {"detail": repr(ex)}
        finally:
            conn.close()
        t1 = time.perf_counter()
        want_status, want_rows = self.answers[(template, year)]
        ok = status == want_status and (
            want_rows is None or same_rows(payload.get("rows"), want_rows)
        )
        with self.lock:
            self.result.attempted += 1
            if not ok:
                self.result.fail(f"req {rid} {template}({year}): status {status}, "
                                 f"{str(payload)[:200]}")
        return str(rid), t0, t1


def traffic(rng: random.Random, years: list[int], n: int) -> list[tuple[str, int]]:
    """The first ``n`` requests of a seeded stream of dashboard sessions.

    A session is what one dashboard view issues: the sidebar's available
    years (A6) once, then one request of each year shape for a seeded
    year. After every ``DML_EVERY`` sessions one DML statement hidden
    behind a CTE follows, which must be refused."""
    out: list[tuple[str, int]] = []
    sessions = 0
    while len(out) < n:
        year = rng.choice(years)
        out.append(("available_years", year))
        out.extend((t, year) for t in YEAR_VIEW)
        sessions += 1
        if sessions % DML_EVERY == 0:
            out.append(("dml_behind_cte", year))
    return out[:n]


def closed_loop(client: Client, clients: int, reqs: list[tuple[str, int]]):
    """Send ``reqs`` from ``clients`` threads, each sending back to back.
    Returns requests/s from the first send to the last answer, and per
    request (id, template, send time, done time)."""
    todo: queue.Queue = queue.Queue()
    for item in reqs:
        todo.put(item)
    out, lock = [], threading.Lock()

    def worker() -> None:
        while True:
            try:
                template, year = todo.get_nowait()
            except queue.Empty:
                return
            rid, sent, done = client.request(template, year)
            with lock:
                out.append((rid, template, sent, done))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return len(reqs) / (time.perf_counter() - t0), out


def rounds(client: Client, clients: int, rng: random.Random, seconds: float = 0.0,
           at_least: int = MIN_ROUNDS):
    """Closed-loop rounds of ``ROUND`` requests, at least ``at_least``,
    until ``seconds`` have elapsed. Returns each round's requests/s and
    every request."""
    years = sorted(client.years)
    rates, reqs = [], []
    stop = time.perf_counter() + seconds
    while time.perf_counter() < stop or len(rates) < at_least:
        rate, done = closed_loop(client, clients, traffic(rng, years, ROUND))
        rates.append(rate)
        reqs.extend(done)
    return rates, reqs


def run(ctx) -> Result:
    from hadoop_data_pipeline_spark.app.http_api import PipelineHTTPServer

    result = Result()
    ctx.start_session()
    t0 = time.perf_counter()
    root = ctx.fresh_dir("long")
    data = fixtures.finance_years(ctx.seed, YEARS, defect_every=0)
    fixtures.write_long_zone(root, data)
    years = {fy.year: fy for fy in data}
    ctx.spark.read.parquet(root).createOrReplaceTempView("finance_long")
    server = PipelineHTTPServer(ctx.spark)
    port = server.start()
    try:
        client = Client(port, years, result)
        for template in TEMPLATES:  # every shape once, checked
            client.request(template, min(years))
        rng = random.Random(ctx.seed)
        rounds(client, ctx.cpus, rng, at_least=WARM_ROUNDS)
        setup_s = ctx.session_s + (time.perf_counter() - t0)

        rates, reqs = rounds(client, ctx.cpus, rng, ctx.seconds)
        result.notes["capacity_rounds_per_s"] = rates
        if not ctx.trace:
            timing_metrics(result, setup_s, [done - sent for _r, _t, sent, done in reqs],
                           ops_per_s=median(rates))
            return result

        tracer = Tracer(SparkProbe(ctx.spark))
        install(tracer, ctx.spark)
        try:
            trates, treqs = rounds(client, ctx.cpus, rng, at_least=len(rates))
        finally:
            tracer.unpatch()
        layer_metrics(ctx, result, tracer, treqs)
        result.metrics["trace.overhead_frac"] = (1.0 - median(trates) / median(rates), "ratio")
        return result
    finally:
        server.stop()


def install(tracer: Tracer, spark) -> None:
    """Trace the two guard entry points; the first one, called on the
    handler thread, also tags the request's Spark jobs with a job group
    named after the request id carried in the SQL comment."""
    from hadoop_data_pipeline_spark import guards

    def tag(_spark, sql, *args, **kwargs):
        m = REQ_RE.search(sql)
        if m:
            tracer.op = m.group(1)
            spark.sparkContext.setJobGroup(f"perfbench-req-{m.group(1)}", "request")

    tracer.patch(guards, "non_query_nodes", "guards.non_query_nodes", before=tag)
    tracer.patch(guards, "run_with_repair", "guards.run_with_repair")


def layer_metrics(ctx, result: Result, tracer: Tracer, treqs) -> None:
    probe = tracer.probe
    probe.drain()
    by_op = tracer.by_op()
    guard_s, repair_s, reply_s, jobs, stages, tasks = [], [], [], [], [], []
    records: dict[str, list[dict]] = {}
    for rid, template, sent, done in treqs:
        spans = by_op.get(rid, [])
        g = sum(s.dur for s in spans if s.name == "guards.non_query_nodes")
        r = sum(s.dur for s in spans if s.name == "guards.run_with_repair")
        job_ids = probe.job_ids(f"perfbench-req-{rid}")
        st = probe.stage_totals(job_ids)
        guard_s.append(g)
        repair_s.append(r)
        reply_s.append(max(0.0, (done - sent) - g - r))
        jobs.append(len(job_ids))
        stages.append(st["stages"])
        tasks.append(st["tasks"])
        records.setdefault(template, []).append(
            {"jobs": len(job_ids), "stages": st["stages"], "tasks": st["tasks"]}
        )
    n = max(1, len(treqs))
    result.metrics.update({
        "guards.non_query_nodes_s": (sum(guard_s) / n, "s"),
        "guards.run_with_repair_s": (sum(repair_s) / n, "s"),
        "http_api.collect_reply_s": (sum(reply_s) / n, "s"),
        "exec.jobs": (sum(jobs) / n, "count"),
        "exec.stages": (sum(stages) / n, "count"),
        "exec.tasks": (sum(tasks) / n, "count"),
    })
    if ctx.dump:
        with open(ctx.dump, "w") as fh:
            json.dump(records, fh, indent=1, sort_keys=True)
