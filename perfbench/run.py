"""Benchmark of the shifts_etl_spark engine, one workload per process.

    python3 perfbench/run.py --workload etl_http --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``,
starts Spark on ``local[nproc]`` and the workload's servers, then runs jobs
in a closed loop with one client until ``--seconds`` seconds have passed (at
least one job; the last job is finished), checks every job's output, and
prints one JSON line per run as the last line of standard output. It exits
with 1 if an output was wrong. No warm-up job runs: the timed job is the
first in a fresh JVM, as in a batch run of the program, because a warm-up
per run does not fit the benchmark's run budget (see README.md):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, taken
from the Spark status store around every job and from spans around the
layers' public functions; every job is traced. The line before it holds the
environment and the per-job details. Everything the run writes goes under
``.perfbench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

import curate_minhash  # noqa: E402
import etl_http  # noqa: E402
import sparkstats  # noqa: E402
from spans import Tracer, job_summary  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = {"etl_http": etl_http.Workload, "curate_minhash": curate_minhash.Workload}
# Spark driver heap: fits a 15 GB machine without swap next to other processes.
DRIVER_MEM = "4g"


@dataclass
class Context:
    seed: int
    work: Path
    tracer: object = None

    def log(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


@dataclass
class Job:
    seconds: float | None = None
    ok: bool = False
    counters: object = None
    cache: tuple = (0, 0)
    spans: dict = field(default_factory=dict)


def _configure_env(work: Path) -> None:
    """Pin the engine's knobs and keep every file Spark writes in ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the SparkContext and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def run(workload_name: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    import shifts_etl_spark  # noqa: F401 - fail before any output when absent

    work = ROOT / ".perfbench_work" / f"{workload_name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    from shifts_etl_spark.session import get_spark

    ctx = Context(seed=seed, work=work)
    w = WORKLOADS[workload_name](ctx)
    spark = None
    phases: dict[str, float] = {}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - T_PROCESS

    try:
        w.prepare_inputs()
        phase("inputs")
        spark = get_spark(app_name=f"perfbench-{workload_name}")
        spark.sparkContext.setLogLevel("ERROR")
        stats = sparkstats.StatusStore(spark)
        if trace:
            ctx.tracer = Tracer(stats)
        phase("spark")
        w.start(spark)
        phase("start")
        setup_s = time.perf_counter() - T_PROCESS

        jobs: list[Job] = []
        t_loop = time.perf_counter()
        while not jobs or time.perf_counter() - t_loop < seconds:
            job = Job()
            mark = stats.mark()
            try:
                if ctx.tracer is not None:
                    ctx.tracer.enabled = True
                try:
                    job.seconds, result = w.run_job()
                finally:
                    if ctx.tracer is not None:
                        ctx.tracer.enabled = False
                if trace:
                    job.counters = stats.diff(mark)
                    root = ctx.tracer.take_root()
                    if root is not None:
                        job.spans = job_summary(root)
                job.cache = stats.cache_left()
                job.ok = w.check_job(result)
            except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
                ctx.log(f"job failed:\n{traceback.format_exc()}")
            jobs.append(job)
        heap_mb = sparkstats.live_heap_mb(spark)
        env = sparkstats.environment(spark)
    finally:
        w.stop()
        if ctx.tracer is not None:
            ctx.tracer.restore()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass

    failed = sum(1 for j in jobs if not j.ok)
    times = [j.seconds for j in jobs if j.ok]
    e2e = {
        "job_s": statistics.fmean(times) if times else 0.0,
        "setup_s": setup_s,
        "live_heap_mb": heap_mb,
    }
    summary = {
        "attempted": len(jobs),
        "failed": failed,
        "correct": failed == 0,
        "e2e": e2e,
    }
    detail = {
        "workload": workload_name,
        "seed": seed,
        "seed_changes_inputs": w.seeded,
        "seconds": seconds,
        "trace": trace,
        "env": env,
        "setup_phases_s": phases,
        "jobs": [
            {"seconds": j.seconds, "ok": j.ok, "cache_rdds_left": j.cache[0]}
            for j in jobs
        ],
    }
    if trace:
        layers = _layer_metrics(jobs, w, int(env["SPARK_GRAFT_CPUS"]))
        detail["other_call_sites"] = dict(stats.other_sites)
        summary["layers"] = layers
    return summary, detail


def _layer_metrics(jobs: list[Job], w, cores: int) -> dict[str, float]:
    """Per-layer numbers of a traced run: Spark counters as per-job means,
    span times as per-job medians."""
    done = [j for j in jobs if j.counters is not None]
    out: dict[str, float] = {"failed_frac": sum(not j.ok for j in jobs) / len(jobs)}
    total = sparkstats.Counters()
    for j in done:
        total.add(j.counters)
    n = max(len(done), 1)
    out.update({k: v / n for k, v in total.flat().items()})
    busy = sum(j.seconds for j in done) * cores
    out["spark.core_busy_frac"] = total.values["executor_run_s"] / busy if busy else 0.0
    last = jobs[-1].cache
    out["cache.rdds_left"], out["cache.bytes_left"] = float(last[0]), float(last[1])

    if done:
        out["trace.job_s"] = statistics.median(j.seconds for j in done)
    spans = [j.spans for j in done if j.spans]
    if spans:
        for name in sorted(set().union(*spans)):
            out[name] = statistics.median(s.get(name, 0.0) for s in spans)
    out.update(w.layer_metrics(out))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; expected one of {sorted(names)}")

    summary, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = summary["layers"] if args.trace else summary["e2e"]
    metrics = {}
    not_measured = []
    for m in declared:
        value = source.get(m["name"])
        if value is None:
            not_measured.append(m["name"])
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    detail["not_measured"] = not_measured
    if args.trace:
        detail["layers"] = summary["layers"]
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": summary["correct"],
                "attempted": summary["attempted"],
                "failed": summary["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
