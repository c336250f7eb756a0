"""Spans and Spark counters for the traced run.

The tracer patches the package's public entry points from outside (the
package itself is never edited) and records one span per call: name,
start, end, parent span and op id. Spark counters come from Spark's own
bookkeeping: job ids from ``statusTracker``, per-stage time, bytes and
task counts from ``AppStatusStore``, and per-node SQL metrics from the
SQL status store (deduplicated by accumulator id, because adaptive
re-planning relists the same accumulator).

Spans stay in memory; the workload aggregates them when it ends.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Reads Spark's status stores for one session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores reflect all jobs that have ended."""
        self._bus.waitUntilEmpty(30_000)

    def job_ids(self, group: str | None = None) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def stage_totals(self, job_ids) -> dict:
        """Stages that ran for ``job_ids`` and their summed task metrics;
        ``intervals`` are the (submit, complete) wall-clock seconds of
        each stage, for the driver-gap computation."""
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0, "intervals": []}
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_q
            )
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.numCompleteTasks() == 0:
                    continue  # skipped: an earlier job's shuffle was reused
                out["stages"] += 1
                out["tasks"] += int(s.numCompleteTasks())
                out["run_s"] += s.executorRunTime() / 1e3
                out["cpu_s"] += s.executorCpuTime() / 1e9
                out["shuffle_bytes"] += int(s.shuffleWriteBytes())
                out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(
                    s.diskBytesSpilled()
                )
                sub, done = s.submissionTime(), s.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["intervals"].append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        return out

    def sql_totals(self, after_execution_id: int) -> dict:
        """SQL node metrics of every execution newer than the watermark:
        scan bytes ("size of files read"), Python worker bytes and time."""
        out = {"scan_bytes": 0, "python_bytes": 0, "python_s": 0.0}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() <= after_execution_id:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            seen: set[int] = set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out


SQL_METRICS = {
    "size of files read": "scan_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "time to run Python workers": "python_s",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_metric(text: str) -> float:
    """'24.4 KiB' -> 24986; '1.2 s' -> 1.2. A multi-task value reads
    'total (min, med, max ...)\\n24.4 KiB (...)': the total comes first.
    Sizes are rounded to whole bytes, so that sums of them do not depend
    on the order they are added in."""
    m = _METRIC_RE.search(text)
    if not m:
        return 0.0
    value = float(m.group(1)) * _UNITS[m.group(2)]
    return round(value) if m.group(2).endswith("B") else value


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder with monkey-patched layer entry points.

    ``count_jobs`` makes every span record the Spark job ids that ran
    inside it (from the unnamed job group). That is exact only when one
    thread submits jobs, which holds for the catalog and ETL workloads;
    the serving workload instead tags each request's jobs with a job
    group from inside the handler thread.
    """

    def __init__(self, probe: SparkProbe | None = None, count_jobs: bool = False):
        self.spans: list[Span] = []
        self.probe = probe
        self.count_jobs = count_jobs and probe is not None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    @op.setter
    def op(self, value: str | None) -> None:
        self._local.op = value

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        before = self._jobs_now()
        sp = Span(name, 0.0, parent=stack[-1] if stack else None, op=self.op)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if before is not None:
                sp.jobs = sorted(self._jobs_now() - before)

    def _jobs_now(self) -> set[int] | None:
        if not self.count_jobs:
            return None
        self.probe.drain()
        return self.probe.job_ids(None)

    def wrap(self, fn, name: str, after=None, before=None):
        """``fn`` inside a span; ``before(*args)`` runs first (on the
        calling thread) and ``after(span, result)`` once the span ends."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
            if after is not None:
                after(sp, result)
            return result

        return traced

    # -- patching -----------------------------------------------------------
    def patch(self, owner, attr: str, name: str, after=None, before=None) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name, after, before))

    def patch_item(self, mapping: dict, key: str, name: str) -> None:
        original = mapping[key]
        self._patches.append((mapping, key, original))
        mapping[key] = self.wrap(original, name)

    def patch_everywhere(self, fn, name: str, after=None) -> None:
        """Rebind ``fn`` in every loaded module that imported it by name,
        so ``from m import f`` call sites see the traced version too."""
        traced = self.wrap(fn, name, after)
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d or not getattr(mod, "__name__", "").startswith(
                "hadoop_data_pipeline_spark"
            ):
                continue
            for attr, value in list(d.items()):
                if value is fn:
                    self._patches.append((mod, attr, value))
                    setattr(mod, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    # -- aggregation --------------------------------------------------------
    def by_op(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for sp in self.spans:
            if sp.op is not None:
                out.setdefault(sp.op, []).append(sp)
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path.replace("file:", "", 1)):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
