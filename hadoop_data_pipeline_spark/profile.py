"""One runtime profile per query: the only module that reads Spark's
status stores (``statusTracker``, ``AppStatusStore`` and the SQL status
store).

``profile(spark, build, action)`` times ``df = build()`` and
``action(df)`` separately; the clocks stop before any store is read.
Its record:

* ``build_s``, ``build_jobs``: construction, and the jobs it fired;
* ``wall_s``, ``jobs``: the action (Catalyst planning included);
* ``stages``, ``tasks``, ``run_s``, ``cpu_s``, ``shuffle_bytes``,
  ``spill_bytes`` (memory plus disk) and ``stage_ids``: summed over the
  stage attempts of the action's jobs that completed a task. A stage
  AQE skips because an earlier job already wrote its shuffle is listed
  by its job but runs nothing, so it does not count;
* ``scan_bytes``, ``python_bytes``, ``python_s``, ``fallback_tasks``
  (sort/hash aggregate fallbacks): SQL node metrics of the executions
  newer than a watermark taken after construction, each accumulator
  read once (adaptive re-planning relists it in every plan version).

``profile_catalog`` runs catalog queries under bench.py's protocol.
"""

from __future__ import annotations

import re
import sys
import time
import uuid

_GROUP = "spark.jobGroup.id"  # SparkContext.setJobGroup's local property

SQL_METRICS = {
    "size of files read": "scan_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "time to run Python workers": "python_s",
    "number of sort fallback tasks": "fallback_tasks",
    "number of hash fallback tasks": "fallback_tasks",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_metric(text: str) -> float:
    """'24.4 KiB' -> 24986, '1.2 s' -> 1.2, '1,234' -> 1234. A multi-task
    value starts with its total. Sizes are whole bytes, so sums do not
    depend on addition order."""
    m = _METRIC_RE.search(text)
    if not m:
        return int(text.split()[0].replace(",", "")) if text.strip() else 0
    value = float(m.group(1)) * _UNITS[m.group(2)]
    return round(value) if m.group(2).endswith("B") else value


def noop_sink(df) -> None:
    """Full computation, nothing collected: bench.py's action."""
    df.write.format("noop").mode("overwrite").save()


def _stage_attempts(spark, stage_id: int):
    gw = spark.sparkContext._gateway
    return spark.sparkContext._jsc.sc().statusStore().stageData(
        stage_id, False, gw.jvm.java.util.ArrayList(), False,
        gw.new_array(gw.jvm.double, 0))


def profile(spark, build, action=noop_sink) -> dict:
    """Run ``df = build()`` then ``action(df)`` and return the record
    (module docstring). An exception from either propagates."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    tag = uuid.uuid4().hex
    groups = (f"profile-build-{tag}", f"profile-run-{tag}")
    prev = sc.getLocalProperty(_GROUP)
    try:
        sc.setLocalProperty(_GROUP, groups[0])
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        execs = sql_store.executionsList()
        watermark = (execs.apply(execs.size() - 1).executionId()
                     if execs.size() else -1)
        sc.setLocalProperty(_GROUP, groups[1])
        t0 = time.perf_counter()
        action(df)
        wall_s = time.perf_counter() - t0
    finally:
        sc.setLocalProperty(_GROUP, prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    build_jobs, jobs = (tracker.getJobIdsForGroup(g) for g in groups)
    rec = {"build_s": build_s, "build_jobs": len(build_jobs),
           "wall_s": wall_s, "jobs": len(jobs), "stages": 0, "tasks": 0,
           "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
           **dict.fromkeys(SQL_METRICS.values(), 0), "stage_ids": []}
    listed: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            listed.update(info.stageIds)
    for sid in sorted(listed):
        attempts = _stage_attempts(spark, sid)
        # a skipped stage (an earlier job's shuffle was reused) has no
        # completed task
        ran = [a for a in map(attempts.apply, range(attempts.size()))
               if a.numCompleteTasks() > 0]
        if ran:
            rec["stage_ids"].append(sid)
        for s in ran:
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks()
            rec["run_s"] += s.executorRunTime() / 1e3
            rec["cpu_s"] += s.executorCpuTime() / 1e9
            rec["shuffle_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()

    execs = sql_store.executionsList()
    for ex in map(execs.apply, range(execs.size())):
        if ex.executionId() <= watermark:
            continue
        values = sql_store.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        seen: set[int] = set()
        for m in map(metrics.apply, range(metrics.size())):
            key = SQL_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                rec[key] += parse_metric(v.get())
    return rec


def task_summary(spark, stage_id: int, quantiles) -> dict | None:
    """Task-duration ``quantiles`` (ms) of a stage's first attempt, its
    completed tasks and summed executor run time (ms); ``None`` when no
    task of that attempt ran."""
    gw = spark.sparkContext._gateway
    q = gw.new_array(gw.jvm.double, len(quantiles))
    for i, v in enumerate(quantiles):
        q[i] = v
    store = spark.sparkContext._jsc.sc().statusStore()
    summary = store.taskSummary(stage_id, 0, q)
    if not summary.isDefined():
        return None
    dur = summary.get().duration()
    attempts = _stage_attempts(spark, stage_id)
    first = next(a for a in map(attempts.apply, range(attempts.size()))
                 if a.attemptId() == 0)
    return {"durations_ms": [float(dur.apply(i)) for i in range(len(quantiles))],
            "tasks": first.numCompleteTasks(),
            "run_ms": float(first.executorRunTime())}


def profile_catalog(spark, names, sf_dir: str, reps: int = 2):
    """bench.py's protocol: before each query ``clearCache`` and a JVM
    GC, then ``reps`` runs through the noop sink with ``clearCache``
    between them. Returns ``(records, failed)``: each query's fastest
    record plus ``secs``, the build-plus-action seconds of every run (3
    decimals). A query that raises, or is not in the catalog, is only
    listed in ``failed``."""
    from hadoop_data_pipeline_spark import queries_catalog as qc

    records: dict[str, dict] = {}
    failed: list[str] = []
    for name in names:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        runs = []
        try:
            fn = qc.QUERIES[name]
            for rep in range(reps):
                if rep:
                    spark.catalog.clearCache()
                runs.append(profile(spark, lambda: fn(spark, sf_dir)))
        except Exception as ex:  # noqa: BLE001 - listed, never timed
            print(f"profile: {name} failed: {ex}", file=sys.stderr)
            failed.append(name)
            continue
        secs = [round(r["build_s"] + r["wall_s"], 3) for r in runs]
        records[name] = {**runs[secs.index(min(secs))], "secs": secs}
    return records, failed
