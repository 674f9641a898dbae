"""Shared benchmark machinery: run directory and environment, host context,
Spark session set-up, the span tracer with Spark status-store counts, the
worker-package check, and small statistics helpers.

Spans are recorded here, in the benchmark, around calls into the
library's public functions; the library itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "mhealth_spark")
MASTER = "local[4]"


# ---------------------------------------------------------------------------
# run directory and environment
# ---------------------------------------------------------------------------
def prepare_run_dir(workload: str, seed: int) -> str:
    """Create a fresh run directory under ``.perfbench/runs`` in the
    checkout and point every temp location at it: Python's ``tempfile``
    (which the library's package zip, warehouse and warm-up paths use),
    Spark's local dirs and the JVMs' ``java.io.tmpdir``. ``-XX:-UsePerfData``
    keeps the JVMs from writing ``hsperfdata`` under the system temp dir."""
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs", f"{workload}-s{seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # the library's generic JVM warm-up is replaced by each workload's own
    # untimed pass of its real operations (``Setup.warm_up``)
    os.environ["SPARK_GRAFT_SKIP_WARMUP"] = "1"
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return run_dir


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def absolute_path_literals() -> list[str]:
    """Absolute-path string literals in the package source: the places the
    library writes or reads outside the directories it is given, which
    persist across runs (e.g. ``/tmp/mhealth_spark_ivf_index_*``)."""
    import re

    found = set()
    pat = re.compile(r"""["'](/(?:tmp|root|dev/shm)/[^"'{}\s]*)""")
    for base, _, files in os.walk(PKG_DIR):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(base, f), encoding="utf-8") as fh:
                    found.update(pat.findall(fh.read()))
    return sorted(found)


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------
def host_snapshot() -> dict:
    """nproc, 1-minute load average and the /proc/stat CPU tick counters
    (busy = user + nice + system + irq + softirq)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {
        "t": time.time(),
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "busy_ticks": ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6],
        "steal_ticks": ticks[7],
        "total_ticks": sum(ticks),
    }


def host_window(start: dict, end: dict) -> dict:
    dt_ticks = max(end["total_ticks"] - start["total_ticks"], 1)
    return {
        "nproc": start["nproc"],
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "steal_share": (end["steal_ticks"] - start["steal_ticks"]) / dt_ticks,
        "busy_cpu_s": (end["busy_ticks"] - start["busy_ticks"]) / os.sysconf("SC_CLK_TCK"),
        "wall_s": end["t"] - start["t"],
    }


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------
def build_session(master: str = MASTER):
    """``get_spark`` with the library's own defaults; only the status-store
    retention is raised so a traced run can read every job it labelled."""
    from mhealth_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=master,
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    if spark is not None:
        spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit (its
    Python workers die with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def force(df) -> None:
    """Materialize every row JVM-side without collecting."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# worker package check
# ---------------------------------------------------------------------------
def package_digest(pkg_dir: str = PKG_DIR) -> str:
    """sha256 over the package's ``.py`` files (relative name + bytes)."""
    h = hashlib.sha256()
    names = []
    for base, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(base, f)
                names.append((os.path.relpath(full, os.path.dirname(pkg_dir)), full))
    for rel, full in sorted(names):
        h.update(rel.replace(os.sep, "/").encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def check_worker_package(spark) -> dict:
    """Assert, through one tiny ``mapInPandas``, that Python workers import
    ``mhealth_spark`` from a zip whose sources equal the checked-out
    package. Raises ``RuntimeError`` on a stale or foreign copy."""

    def probe(batches):
        # nested, so it is shipped by value: workers need not import perfbench
        import hashlib
        import zipfile

        import pandas as pd

        import mhealth_spark

        path = mhealth_spark.__file__
        digest = ""
        if ".zip" in path:
            h = hashlib.sha256()
            with zipfile.ZipFile(path[: path.index(".zip") + 4]) as zf:
                for name in sorted(
                    n for n in zf.namelist()
                    if n.startswith("mhealth_spark/") and n.endswith(".py")
                ):
                    h.update(name.encode())
                    h.update(zf.read(name))
            digest = h.hexdigest()
        for _ in batches:
            pass
        yield pd.DataFrame({"path": [path], "digest": [digest]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "path string, digest string")
        .collect()[0]
    )
    want = package_digest()
    if ".zip" not in row["path"] or row["digest"] != want:
        raise RuntimeError(
            f"Python workers import mhealth_spark from {row['path']} "
            f"(digest {row['digest'][:12] or 'n/a'}), not from a zip of the "
            f"checked-out package (digest {want[:12]})"
        )
    return {"worker_path": row["path"], "digest": want[:16]}


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
class Tracer:
    """Spans around calls into the library, plus the Spark work each call
    caused.

    Every span sets its own Spark job group, in traced and untraced runs
    alike. Only a traced run (``enabled``) keeps the spans and, in
    ``collect_spark_counts``, reads each labelled call's jobs, tasks,
    shuffle-write and spill bytes from Spark's status tracker and status
    store. Spans stay in memory until ``write``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[tuple[dict, str]] = []
        self._sc = None
        self._next = 0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if spark is not None else None

    @contextlib.contextmanager
    def span(self, name: str, spark_counts: bool = False, **attrs):
        self._next += 1
        rec = {
            "id": self._next,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        group = f"{name}#{self._next}"
        sc = self._sc
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            if self.enabled:
                self.spans.append(rec)
                if spark_counts and sc:
                    self._pending.append((rec, group))

    def collect_spark_counts(self) -> None:
        """Attach Spark counts to every span that asked for them. Call
        before the session that ran them stops."""
        if not (self.enabled and self._pending and self._sc):
            self._pending = []
            return
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for rec, group in self._pending:
            jobs = tracker.getJobIdsForGroup(group)
            stages: set[int] = set()
            job_s: dict[str, float] = {}
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
                jd = store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    dur = (done.get().getTime() - sub.get().getTime()) / 1000.0
                    job_s[jd.name()] = job_s.get(jd.name(), 0.0) + dur
            tasks = shuffle_w = spill = 0
            for s in stages:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 - stage never ran (skipped)
                    continue
                tasks += sd.numCompleteTasks()
                shuffle_w += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
            rec.update(
                jobs=len(jobs), tasks=tasks, shuffle_write_bytes=shuffle_w,
                spill_bytes=spill, job_s=job_s,
            )
        self._pending = []

    # -- aggregation over recorded spans ---------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"context": context}) + "\n")
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def gmean(xs) -> float:
    xs = list(xs)
    return statistics.geometric_mean(xs) if xs else 0.0


class Setup:
    """A workload's set-up: one session build (JVM launch, package ship,
    warm-up), then input generation repeated ``rounds`` times in that
    session. ``setup_s`` is the session build plus the median input round;
    the state of the last round is kept."""

    def __init__(self, tracer: Tracer, rounds: int = 3):
        self.tracer = tracer
        self.rounds = rounds
        self.session_s = 0.0
        self.input_times: list[float] = []
        self.warmup_s = 0.0
        self.spark = None

    def run(self, make_inputs):
        with self.tracer.span("session.build") as s:
            self.spark = build_session()
        self.session_s = s["end"] - s["start"]
        self.tracer.bind(self.spark)
        state = None
        for r in range(self.rounds):
            t0 = time.perf_counter()
            state = make_inputs(self.spark, r)
            self.input_times.append(time.perf_counter() - t0)
        return self.spark, state

    def warm_up(self, fn) -> None:
        """One untimed pass of the workload's operation, so compile and
        cache costs land in set-up rather than in the first timed one."""
        with self.tracer.span("setup.warm_up") as s:
            fn()
        self.warmup_s = s["end"] - s["start"]

    @property
    def setup_s(self) -> float:
        return self.session_s + median(self.input_times) + self.warmup_s

    def metrics(self) -> dict:
        return {"session.build_s": self.session_s, "setup.warm_up_s": self.warmup_s}
