"""Shared machinery: environment pinning, per-layer timers, the process-tree RSS sampler,
the Spark session lifecycle and the per-job-group status-store ledger."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, 1 to 8 GiB."""
    with open("/proc/meminfo") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(8, max(1, total_kib // (4 * 1024 * 1024)))}g"


def remove_stale_work() -> None:
    """Delete work directories left by runs that were killed."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def pin_env(work: str) -> None:
    """Pin what the engine reads from the environment, before pyspark starts.

    ``get_spark`` defaults to ``local[32]`` and a 48g heap; Python workers
    need the checkout on ``PYTHONPATH`` to import the package; and every
    scratch directory Spark, the JVM or Python would create goes under
    ``work`` so nothing lands in the tree or outside the checkout.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # every other engine knob stays at its default
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM, the launcher's too: temp files under work, and no
        # hsperfdata file (HotSpot writes it to /tmp whatever the tmpdir)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
    )
    os.chdir(work)


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr (stdout is reserved for results)."""
    print(f"perfbench [{time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(values):
    return statistics.median(values) if values else 0.0


class Tracer:
    """Per-layer totals recorded around calls into the engine's modules.

    Disabled tracers record nothing. A pass groups what one unit of work
    recorded; ``end_pass`` returns its totals (span seconds summed by name,
    counts summed) and starts the next pass afresh.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self._pass: dict[str, float] = {}
        self._lock = threading.Lock()  # add() is called from writer threads

    @contextmanager
    def span(self, name: str):
        """Add the block's seconds to ``<name>_s``."""
        if not self.enabled:
            yield
            return
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.add(name + "_s", time.monotonic() - t0)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self._pass[name] = self._pass.get(name, 0.0) + value

    def end_pass(self) -> dict[str, float]:
        out, self._pass = self._pass, {}
        return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from ``/proc``. Each process
    counts its proportional set size, so pages that forked Python workers
    share with their parent count once."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss_kib = next(line for line in f if line.startswith("Pss:")).split()[1]
                total += int(pss_kib) * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        rss = self._tree_rss()
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def take_peak(self) -> int:
        """The peak since the last call (or the start), then start afresh."""
        self.sample()
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobGroupLedger:
    """Spark execution cost of everything run under one job group, read from
    the driver's status store (works with ``spark.ui.enabled=false``)."""

    FIELDS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def read(self, group: str, since: float) -> tuple[dict[str, float], float | None]:
        """Per-layer counts for ``group``, and the epoch time of the first job
        the group submitted at or after ``since`` (None when there was none).
        Jobs a query starts while it is being built come before ``since``."""
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(self.FIELDS, 0.0)
        first_submit = None
        since_ms = int(since * 1000)  # submission times are whole milliseconds
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            job = self.store.job(job_id)
            if job.submissionTime().isDefined():
                ms = job.submissionTime().get().getTime()
                if ms >= since_ms:
                    t = ms / 1000.0
                    first_submit = t if first_submit is None else min(first_submit, t)
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue  # skipped stage: never attempted
                if st.numCompleteTasks() == 0:
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1000.0
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out, first_submit
