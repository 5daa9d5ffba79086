"""Session set-up, span tracing and Spark stage counters for the benchmark.

Tracing is a separate run from timing (``--trace 1``): with it on, each
layer call runs under the Spark job group ``<module>.<call>``, and when
the call returns the stages of the jobs it started are read from the
status store (``statusStore().lastStageAttempt``, available with the UI
off). Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager

#: Stage counters summed per span, as ``(metric, StageData getter)``.
STAGE_COUNTERS = (
    ("tasks", "numTasks"),
    ("executor_run_ms", "executorRunTime"),
    ("input_bytes", "inputBytes"),
    ("output_bytes", "outputBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
)


def new_session(work_dir: str):
    """``get_spark()`` with its defaults; only scratch locations are
    pointed inside ``work_dir`` so the run writes nowhere else."""
    from scraping_etl_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start one Python worker per core (``bench.py``'s warm-up), so the
    first Arrow stage of a pass does not pay for it."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda b: b, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status", encoding="ascii") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (``/proc/stat``); it slows every timed phase and explains spread."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_busy_s(spark) -> tuple[float, float]:
    """Cumulative driver-JVM garbage-collection and JIT-compilation time."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return gc / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


class Tracer:
    """Spans ``(name, start, end, parent, run id)`` plus the Spark work
    each one scheduled. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen_jobs: set[int] = set()
        self._t0 = time.perf_counter()
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._collect(rec)
            if self._stack:
                parent = self.spans[self._stack[-1]]["name"]
                self.sc.setJobGroup(parent, parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _collect(self, rec: dict) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(rec["name"]) if j not in self._seen_jobs]
        self._seen_jobs.update(jobs)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        rec["jobs"] = len(jobs)
        rec["stages"] = 0
        for key, _ in STAGE_COUNTERS:
            rec[key] = 0
        for s in sorted(stage_ids):
            data = store.lastStageAttempt(s)
            if data.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            for key, getter in STAGE_COUNTERS:
                rec[key] += int(getattr(data, getter)())

    def totals(self, rec: dict) -> dict:
        """Wall time and Spark work of one span, with executor run time
        in seconds and the core time left idle during the span."""
        out = {k: rec[k] for k in ("jobs", "stages") + tuple(k for k, _ in STAGE_COUNTERS)}
        out["wall_s"] = rec["end"] - rec["start"]
        out["executor_run_s"] = out.pop("executor_run_ms") / 1000.0
        out["idle_core_s"] = out["wall_s"] * self.cores - out["executor_run_s"]
        return out

    def write(self, path: str) -> None:
        """Write every span with its self time (duration minus the part
        covered by its direct children) as JSON."""
        for rec in self.spans:
            kids = [s for s in self.spans if s["parent"] == rec["id"]]
            rec["self_s"] = (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "cores": self.cores, "spans": self.spans}, fh, indent=1)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
