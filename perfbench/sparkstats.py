"""Spark counters read from outside the program.

Every counter here comes from Spark's own status store
(``SparkContext.statusStore``), which the live listener fills whether or not
the web UI is enabled. ``StatusStore.mark`` takes the next job id before an
interval; ``StatusStore.diff`` waits for the listener bus to drain and then
sums the jobs and stages that ran since the mark. Nothing is added to the
program's plans, so the counters cost no extra scan.
"""

from __future__ import annotations

import re
import time
from collections import Counter
from dataclasses import dataclass, field

# Groups jobs are attributed to, by the call site Spark records for each
# job. A job whose call site is a Python file of the program (a DataFrame
# ``collect``) goes to that file's module. Jobs started by the JVM itself,
# which are adaptive query stages and broadcast builds, go to "async".
# Actions invoked through py4j carry no Python call site, only the method
# name: "parquet" (parquet reads and writes), "write" (other writer calls)
# or "action" (count, isEmpty and the like). The list is fixed so every run
# reports the same metric names.
SITES = ("pipeline", "dedup", "curation", "windows", "async", "parquet", "write", "action", "other")

COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
SECONDS = ("executor_run_s", "gc_s")
BYTES = ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes")
FIELDS = COUNTS + SECONDS + BYTES

_PY_SITE = re.compile(r" at (?:.*/)?([A-Za-z_][A-Za-z0-9_]*)\.py:\d+")
_JVM_SITE = re.compile(r"^(\w+) at (?:NativeMethodAccessorImpl\.java|<unknown>):0")
_WRITERS = {"save", "insertInto", "saveAsTable", "csv", "json", "orc", "text"}


def site_of(call_site: str) -> str:
    """Group of a job, from the call site Spark recorded for it, e.g.
    ``collect at /x/shifts_etl_spark/operators/windows.py:194`` -> windows."""
    m = _PY_SITE.search(call_site)
    if m:
        return m.group(1) if m.group(1) in SITES else "other"
    if "CompletableFuture" in call_site:
        return "async"
    m = _JVM_SITE.match(call_site)
    if m:
        method = m.group(1)
        if method == "parquet":
            return "parquet"
        return "write" if method in _WRITERS else "action"
    return "other"


@dataclass
class Counters:
    """Sums over the jobs of one interval."""

    values: dict = field(default_factory=lambda: dict.fromkeys(FIELDS, 0))
    jobs_by_site: Counter = field(default_factory=Counter)
    run_s_by_site: Counter = field(default_factory=Counter)

    def add(self, other: "Counters") -> None:
        for k in FIELDS:
            self.values[k] += other.values[k]
        self.jobs_by_site.update(other.jobs_by_site)
        self.run_s_by_site.update(other.run_s_by_site)

    def minus(self, other: "Counters") -> "Counters":
        out = Counters()
        for k in FIELDS:
            out.values[k] = self.values[k] - other.values[k]
        out.jobs_by_site = Counter(self.jobs_by_site)
        out.jobs_by_site.subtract(other.jobs_by_site)
        out.run_s_by_site = Counter(self.run_s_by_site)
        out.run_s_by_site.subtract(other.run_s_by_site)
        return out

    def flat(self, prefix: str = "spark") -> dict[str, float]:
        """Metric name -> value, e.g. ``spark.jobs.pipeline``."""
        out = {f"{prefix}.{k}": float(v) for k, v in self.values.items()}
        for site in SITES:
            out[f"{prefix}.jobs.{site}"] = float(self.jobs_by_site.get(site, 0))
            out[f"{prefix}.executor_run_s.{site}"] = float(
                self.run_s_by_site.get(site, 0.0)
            )
        return out


class StatusStore:
    """Reads job, stage and cache state of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = spark.sparkContext._jvm
        self._no_tasks = self._jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            self._jvm.double, 0
        )
        self.other_sites: Counter = Counter()  # raw call sites sent to "other"

    def mark(self) -> int:
        """Id the next submitted job will get."""
        return int(self._sc.dagScheduler().nextJobId())

    def diff(self, since: int) -> Counters:
        """Counters of every job submitted after ``mark()`` returned
        ``since``. Waits until the listener has seen every event."""
        self._sc.listenerBus().waitUntilEmpty()
        until = self.mark()
        out = Counters()
        seen: set[int] = set()
        for job_id in range(since, until):
            job = self._store.job(job_id)
            out.values["jobs"] += 1
            site = site_of(job.name())
            if site == "other":
                self.other_sites[job.name()] += 1
            out.jobs_by_site[site] += 1
            ids = job.stageIds()
            run_ms = 0
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                run_ms += self._add_stage(out, sid)
            out.run_s_by_site[site] += run_ms / 1000.0
        return out

    def _add_stage(self, out: Counters, stage_id: int) -> int:
        attempts = self._store.stageData(
            stage_id, False, self._no_tasks, False, self._no_quantiles
        )
        run_ms = 0
        v = out.values
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            v["stages"] += 1
            v["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            v["failed_tasks"] += st.numFailedTasks()
            run_ms += st.executorRunTime()
            v["gc_s"] += st.jvmGcTime() / 1000.0
            v["shuffle_read_bytes"] += st.shuffleReadBytes()
            v["shuffle_write_bytes"] += st.shuffleWriteBytes()
            v["input_bytes"] += st.inputBytes()
            v["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        v["executor_run_s"] += run_ms / 1000.0
        return run_ms

    def cache_left(self) -> tuple[int, int]:
        """(RDDs still persisted, their bytes in memory and on disk)."""
        n = self._sc.getPersistentRDDs().size()
        infos = self._sc.getRDDStorageInfo()
        size = sum(int(r.memSize()) + int(r.diskSize()) for r in infos)
        return n, size


def live_heap_mb(spark, rounds: int = 5) -> float:
    """JVM heap in use after forced full collections, in MiB: the least of
    ``rounds`` readings, so references the Spark context cleaner releases
    after one collection are gone by the next."""
    import gc

    gc.collect()  # drop Python-side handles that keep JVM objects alive
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        readings.append(bean.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0))
    return min(readings)


def environment(spark) -> dict:
    import os

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", None),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
    }
