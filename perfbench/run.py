"""The repository's benchmark of record: one seeded run of one workload.

    python3 perfbench/run.py --workload darima_many_series --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates the workload's inputs
from ``--seed`` (``gen.py``, cached under ``.perfbench_work/``), starts a
fresh Spark session (timed as ``setup_s``), runs a first job to warm it
and then runs the job in a closed loop with one client until ``--seconds``
have passed, at least ``MIN_JOBS`` times, checking every output. The
median warm job is ``job_s``.
With ``--trace 1`` it runs the traced run instead and reports per-layer
metrics. The last line of standard output is the result object; the two
lines before it are the run environment and a report with every metric.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))
WORKLOAD_NAMES = ("darima_many_series", "darima_long_series", "llm_near_dedup")
MIN_JOBS = 2


def pin_environment() -> None:
    """Environment every process of the run inherits: the package on the
    Python workers' path, one BLAS thread per worker, scratch space inside
    the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM spark-submit starts to build its command: no hsperfdata file
    # in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [HERE, ROOT]


def inputs(workload: str, seed: int) -> str:
    """The workload's generated inputs for ``seed``, generated once."""
    out = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(out, "summary.json")):
        tmp = out + ".partial"
        subprocess.run(["rm", "-rf", tmp], check=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", tmp],
            check=True, stdout=subprocess.DEVNULL,
        )
        subprocess.run(["rm", "-rf", out], check=True)
        os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- process tree


def _tree(zombies: bool = False) -> list[int]:
    """Pids of every descendant of this process; zombies only if asked."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        if state == "Z" and not zombies:
            continue
        children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the kernel's peak resident size (VmHWM) over the JVM and the
    Python workers (all live descendants)."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total_kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants. A descendant that
    ended still counts: its time moves to its parent's reaped-children
    time, or stays in its zombie until then."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_tree(zombies=True)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


class TaskCounter:
    """Cumulative Spark tasks finished, from the public status tracker.
    Stage counts are remembered once their job ends, so jobs the tracker
    later forgets still count."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.stage_tasks: dict[int, int] = {}
        self.done_jobs: set[int] = set()

    def __call__(self) -> float:
        for jid in self.tracker.getJobIdsForGroup():
            if jid in self.done_jobs:
                continue
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    self.stage_tasks[sid] = st.numCompletedTasks
            if info.status in ("SUCCEEDED", "FAILED"):
                self.done_jobs.add(jid)
        return float(sum(self.stage_tasks.values()))


# ---------------------------------------------------------------- spark


def start_spark():
    """Fresh session plus a first pandas-UDF job; returns (spark, seconds)."""
    t0 = time.perf_counter()
    import pandas as pd
    from pyspark.sql import functions as F

    from python_darima_spark import get_spark

    spark = get_spark(
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    @F.pandas_udf("double")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1.0

    spark.range(1000, numPartitions=NPROC).select(plus_one(F.col("id").cast("double"))).collect()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while _tree() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _tree():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while _tree() and time.monotonic() < deadline:
        time.sleep(0.1)


def environment(spark) -> dict:
    import numpy
    import pandas
    import pyarrow

    return {
        "nproc": NPROC,
        "loadavg": os.getloadavg(),
        "spark": spark.version,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


# ---------------------------------------------------------------- runs


def quantile_high(values: list[float]) -> dict:
    """Median and the highest whole percentile with at least ten samples
    beyond it (none below 20 samples), by the nearest-rank rule."""
    n, ordered = len(values), sorted(values)
    out = {"job_s": statistics.median(values), "job_n": n}
    if n >= 20:
        pct = int(100 * (1 - 10 / n))
        out[f"job_s_p{pct}"] = ordered[max(1, -(-pct * n // 100)) - 1]
    return out


def checked_job(w, spark, inp: str, out: str, seed: int, first: bool):
    """One job, timed, then the checks of its output; after the first job
    of a run also the once-per-run checks, untimed.
    Returns (seconds or None if the job raised, problems, quality metrics)."""
    seconds, quality = None, {}
    try:
        t = time.perf_counter()
        done = w.job(spark, inp, out)
        seconds = time.perf_counter() - t
        problems = w.check_job(inp, out, done)
        if first:
            run_problems, quality = w.check_run(spark, inp, done, seed)
            problems += run_problems
    except Exception:
        traceback.print_exc()
        problems = ["job raised"]
    spark.catalog.clearCache()
    if problems:
        print(f"check failed: {problems}", file=sys.stderr)
    return seconds, problems, quality


def timed_loop(w, spark, inp: str, out: str, seconds: float, seed: int):
    """The session's first job warms the JVM and the Python workers and is
    checked in full, untimed. Then a closed loop with one client: warm jobs
    back to back, each checked, while another job of the median time still
    ends within ``seconds`` (at least ``MIN_JOBS`` jobs). Returns (first
    job's seconds, timed job times, attempted, failed, quality metrics)."""
    first, problems, quality = checked_job(w, spark, inp, out, seed, True)
    attempted, failed, times = 1, int(bool(problems)), []
    start = time.perf_counter()
    while len(times) < MIN_JOBS or (
        time.perf_counter() - start + statistics.median(times) <= seconds
    ):
        t, problems, _ = checked_job(w, spark, inp, out, seed, False)
        attempted += 1
        failed += bool(problems)
        if t is not None:
            times.append(t)
        if attempted - len(times) > MIN_JOBS:
            raise RuntimeError(f"{w.name}: {attempted - len(times)} jobs raised")
    return first, times, attempted, failed, quality


def end_to_end(w, spark, seed: int, seconds: float, setup_s: float):
    """The untraced run: ``job_s`` is the median of the warm jobs."""
    inp = inputs(w.name, seed)
    out = os.path.join(WORK, "out", w.name)
    first, times, attempted, failed, quality = timed_loop(w, spark, inp, out, seconds, seed)
    job_s = statistics.median(times)
    report = {
        "setup_s": setup_s,
        "first_job_s": first,
        **quantile_high(times),
        "job_times": times,
        "items_per_s": w.items(inp) / job_s,
        "failed_ratio": failed / attempted,
        "peak_rss_mb": tree_peak_rss_mb(),
        **quality,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "items_per_s": (report["items_per_s"], "1/s"),
    }
    return failed == 0, attempted, failed, metrics, report


def traced_metrics(w, spark, seed: int, tracer):
    """The traced run: the checked first job, a second (warm) untraced
    job whose time is ``job_s``, then the traced pass. Returns the metrics
    every workload reports and the workload's own per-layer report."""
    inp = inputs(w.name, seed)
    out = os.path.join(WORK, "out", w.name)
    _, problems, _ = checked_job(w, spark, inp, out, seed, True)
    job_s, warm_problems, _ = checked_job(w, spark, inp, out, seed, False)
    if job_s is None:
        raise RuntimeError(f"{w.name}: the warm job raised")
    attempted, failed = 2, bool(problems) + bool(warm_problems)
    counts = w.traced(spark, inp, out + "-traced", tracer, seed)

    self_t = tracer.self_time_by_name()
    by_name = {s.name: s for s in tracer.spans}
    job = by_name["job"]
    layers = [s for s in tracer.spans if s.parent == job.span_id]
    layers_s = sum(self_t[s.name] for s in layers)

    def util(s):
        return s.counts["cpu_s"] / ((s.wall - s.probe_s) * NPROC)

    common = {
        "sources.scan_s": (self_t["sources.scan"], "s"),
        "sources.write_s": (self_t["sources.write"], "s"),
        "compute_s": (layers_s - self_t["sources.scan"] - self_t["sources.write"], "s"),
        "trace.recompute_ratio": (job_s / layers_s, "ratio"),
        "trace.wall_ratio": (job.wall / job_s, "ratio"),
        "trace.probe_s": (tracer.probe_seconds(), "s"),
        "job.tasks": (job.counts["tasks"], "count"),
        "job.cpu_util": (util(job), "ratio"),
    }
    own = {"job_s": job_s}
    for s in layers:
        own[s.name + "_s"] = self_t[s.name]
        own[s.name + ".tasks"] = s.counts["tasks"]
        own[s.name + ".cpu_util"] = util(s)
    if "windows" in counts:
        kernel_ms = 1000 * self_t["fit.kernel"] / counts["kernel_windows"]
        own.update({
            "fit.kernel_ms_per_window": kernel_ms,
            "fit.windows": counts["windows"],
            "fit.nonfinite_windows": counts["nonfinite_windows"],
            "pipeline.fit_overhead_ratio":
                self_t["pipeline.fit_windows"] * NPROC / (counts["windows"] * kernel_ms / 1000),
            "pipeline.coef_rows": counts["coef_rows"],
        })
        if "timeseries.resample" in by_name:
            own["timeseries.grid_rows_per_obs"] = counts["grid_rows_per_obs"]
    else:
        own.update({"dedup." + k: v for k, v in counts.items()})
    return failed == 0, attempted, failed, common, own


def main() -> int:
    ap = argparse.ArgumentParser(description="Seeded benchmark run of one workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the driver's string hashing (set and dict order while the engine
        # builds its plans) is fixed like the Python workers' is
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    if not os.path.isdir(os.path.join(ROOT, "python_darima_spark")):
        print(f"no python_darima_spark package next to {HERE}", file=sys.stderr)
        return 2

    pin_environment()
    inputs(a.workload, a.seed)
    spark, setup_s = start_spark()
    try:
        import jobs
        from spans import Tracer

        env = environment(spark)
        w = jobs.WORKLOADS[a.workload]
        if a.trace:
            tasks = TaskCounter(spark.sparkContext)
            tracer = Tracer(
                f"{a.workload}-{a.seed}", lambda: {"tasks": tasks(), "cpu_s": tree_cpu_s()}
            )
            correct, attempted, failed, metrics, report = traced_metrics(w, spark, a.seed, tracer)
            report = {**{k: v for k, (v, _) in metrics.items()}, **report}
            tracer.write(os.path.join(WORK, "spans", f"{a.workload}-{a.seed}.jsonl"))
        else:
            correct, attempted, failed, metrics, report = end_to_end(
                w, spark, a.seed, a.seconds, setup_s
            )
    finally:
        stop_spark(spark)
    print(json.dumps({"env": env}))
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
