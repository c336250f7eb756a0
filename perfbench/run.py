"""Benchmark entry point: run one workload and print one JSON result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Workloads (see README.md):
``catalog_light``, ``catalog_heavy``, ``etl_backfill``, ``sql_serving``.

``--trace 0`` measures the end-to-end metrics with no instrumentation.
``--trace 1`` measures the same loop untraced, then again with spans and
Spark counters, and reports the per-layer metrics plus the tracing
overhead. ``--dump PATH`` (optional) writes the traced run's per-op
counters as JSON, for ``determinism.py``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Every file the run writes stays under ``.bench_work/`` in the current
directory, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hadoop_data_pipeline_spark"
WORKLOADS = ("catalog_light", "catalog_heavy", "etl_backfill", "sql_serving")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Context:
    """What every workload gets: the session, a private work directory,
    the seed and the measuring time."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dump = args.dump
        self.work = work
        self.cpus = cpu_count()
        self.spark = None
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def start_session(self) -> None:
        """Start Spark the way the package does, and run one job so the
        JVM and scheduler are up. Everything Spark and Python write to
        temp space lands in the work directory."""
        t0 = time.perf_counter()
        from hadoop_data_pipeline_spark.session import get_session

        self.spark = get_session(
            "perfbench",
            extra_conf={"spark.sql.warehouse.dir": self.path("warehouse")},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.session_s = time.perf_counter() - t0


def prepare_env(work: str, cpus: int) -> None:
    """Environment for the Spark launch: the repository root on the
    Python workers' path (media and kernel queries import the package
    inside UDFs), all temp space inside the work directory, and the
    package's own default cores setting set to this host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a bounded driver heap keeps the peak-memory metric about the work
    # rather than about how far the JVM grows an idle 8 GB default heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keeps the package's default code-cache size, adds the JVM temp dir
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp}"
    )
    import tempfile

    tempfile.tempdir = tmp


def run_workload(name: str, ctx):
    import catalog
    import etl
    import serving

    if name.startswith("catalog_"):
        return catalog.run(ctx, name)
    return {"etl_backfill": etl.run, "sql_serving": serving.run}[name](ctx)


def declared(kind: str) -> list[dict]:
    """The metrics ``BENCHMARK.json`` declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - never leave the JVM behind
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", default=None)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, cpu_count())
    ctx = Context(args, work)
    try:
        with RssSampler() as rss:
            result = run_workload(args.workload, ctx)
        if ctx.trace:
            # every per-layer metric, 0 where the workload has no such layer
            for m in declared("per_layer"):
                result.metrics.setdefault(m["name"], (0.0, m["unit"]))
        result.notes["peak_rss_mb"] = rss.peak / 2**20
        print(result.summary(args.workload), flush=True)
        print(json.dumps(result.record(), sort_keys=True), flush=True)
        return 0
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".bench_work")
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
