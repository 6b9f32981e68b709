"""Shared plumbing: where the benchmark writes, how it starts Spark and
times set-up, how it samples memory, how it reads Spark's public
progress and status APIs, and the check of its own result line.

The benchmark observes the program only from outside: it times calls
into the package's public functions and reads Spark's progress and
status APIs. It changes nothing under ``pg_bifrost_spark/``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

T_BORN = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
CPUS = len(os.sched_getaffinity(0))


def note(text: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.monotonic() - T_BORN:7.2f}s] {text}", file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Point every scratch location of Spark and Python at the work dir
    inside the checkout and size the session to this host's cores.
    Must run before the JVM starts."""
    os.makedirs(WORK, exist_ok=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def spark_conf() -> dict[str, str]:
    return {
        # the console progress bar writes to the terminal mid-run
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def fresh_dir(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) with linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# session set-up
# ---------------------------------------------------------------------------
def start_session(warmup):
    """The cold set-up a ``replicate`` invocation pays: launch the JVM
    and start the session (``get_spark``), then ``warmup(spark)``, a
    short drain of the workload's own stream through its pipeline and
    sink, so the session's first-query costs (the data source's Python
    runner, first plans) land in set-up and not in the measurement.
    Returns ``(spark, {"setup_s", "spark_start_s", "warmup_s"})``.

    Only the first session of a process launches the JVM; a restart
    after ``spark.stop()`` reuses it and costs a fraction, so set-up is
    timed once, cold, and the run-to-run median carries its noise."""
    from pg_bifrost_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf())
    t1 = time.perf_counter()
    warmup(spark)
    t2 = time.perf_counter()
    note(f"session start {t1 - t0:.2f}s, warm-up {t2 - t1:.2f}s")
    return spark, {"setup_s": t2 - t0, "spark_start_s": t1 - t0, "warmup_s": t2 - t1}


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM this process launched and wait for it to exit (it
    would otherwise outlive us by the time it takes to notice EOF on
    its stdin)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None or proc is None:
        return
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the gateway may already be gone; the wait below decides
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss_kb) for every visible process."""
    out = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(name)] = (ppid, rss_pages * page_kb)
    return out


class RssSampler:
    """Peak combined RSS of this process and its descendants (JVM,
    Python workers), sampled from ``/proc`` every ``interval`` seconds.
    Processes listed in ``exclude`` (and their children) are left out,
    so the load generator does not count."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        table = _proc_table()
        me = os.getpid()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _rss) in table.items():
            children.setdefault(ppid, []).append(pid)
        total, stack = 0, [me]
        while stack:
            pid = stack.pop()
            if pid in self.exclude or pid not in table:
                continue
            total += table[pid][1]
            stack.extend(children.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark's progress and status APIs
# ---------------------------------------------------------------------------
def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress
    event (as a dict) and every query start, stamped on arrival with
    ``time.monotonic()``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Log(StreamingQueryListener):
        def __init__(self):
            self.started: list[tuple[float, str]] = []  # (t, runId)
            self.progress: list[dict] = []
            self.terminated: list[tuple[float, str]] = []

        def onQueryStarted(self, event):
            self.started.append((time.monotonic(), str(event.runId)))

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            p["_t"] = time.monotonic()
            self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.append((time.monotonic(), str(event.runId)))

    log = _Log()
    spark.streams.addListener(log)
    return log


def wall_to_mono(iso: str) -> float:
    """Progress ``timestamp`` (ISO-8601 UTC, ms) → monotonic seconds."""
    from datetime import datetime, timezone

    t = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return t.timestamp() - (time.time() - time.monotonic())


def batch_progress(progress: list[dict]) -> list[dict]:
    """Progress events that ran a batch (``durationMs`` has addBatch)."""
    return [p for p in progress if "addBatch" in p.get("durationMs", {})]


def job_profile(spark, run_ids: list[str]) -> dict:
    """Jobs, stages and tasks run under the streaming job groups (Spark
    tags a query's jobs with its runId), read from the public status
    tracker; executor run/CPU time of those stages read from the
    application status store over py4j (``None`` if that call fails)."""
    tracker = spark.sparkContext.statusTracker()
    jobs, stages, tasks = 0, set(), 0
    for rid in run_ids:
        for jid in tracker.getJobIdsForGroup(rid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                if sid in stages:
                    continue
                stages.add(sid)
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
    run_ms = cpu_ns = None
    try:
        jvm = spark.sparkContext._jvm
        gw = spark.sparkContext._gateway
        store = spark.sparkContext._jsc.sc().statusStore()
        seq = store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
        run_ms, cpu_ns = 0, 0
        for i in range(seq.size()):
            sd = seq.apply(i)
            if sd.stageId() in stages:
                run_ms += sd.executorRunTime()
                cpu_ns += sd.executorCpuTime()
    except Exception as exc:  # private py4j surface: degrade to null
        note(f"status store unavailable, executor times are null: {exc!r}")
        run_ms = cpu_ns = None
    return {
        "jobs": jobs,
        "stages": len(stages),
        "tasks": tasks,
        "executor_run_s": None if run_ms is None else run_ms / 1000.0,
        "executor_cpu_s": None if cpu_ns is None else cpu_ns / 1e9,
    }


# ---------------------------------------------------------------------------
# the result line
# ---------------------------------------------------------------------------
def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def validate(result: dict, trace: bool) -> list[str]:
    """Problems with ``result`` against the output contract (empty when
    it conforms): exactly the four keys, whole-number counts with at
    least one attempt, and exactly the metric set BENCHMARK.json names
    for this mode, each a finite number with its declared unit."""
    spec = load_contract()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"top-level keys {sorted(result)}")
        return errs
    if not isinstance(result["correct"], bool):
        errs.append("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool):
            errs.append(f"{k} is not a whole number")
    if isinstance(result["attempted"], int) and result["attempted"] < 1:
        errs.append("attempted < 1")
    metrics = result["metrics"]
    if set(metrics) != set(want):
        errs.append(
            f"metric names differ: missing {sorted(set(want) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(want))}"
        )
    for name, m in metrics.items():
        if set(m) != {"value", "unit"}:
            errs.append(f"{name}: keys {sorted(m)}")
            continue
        v = m["value"]
        if v is None and trace:
            continue  # a per-layer figure whose source was unavailable
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{name}: value {v!r} is not a finite number")
        if name in want and m["unit"] != want[name]:
            errs.append(f"{name}: unit {m['unit']!r} != {want[name]!r}")
    return errs
