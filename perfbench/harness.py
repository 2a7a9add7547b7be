"""Benchmark plumbing: host record, Spark session lifetime, the
status-store stage reader and the span tracer.

Nothing here imports Spark at module import time; ``run.py`` decides
when a session starts and stops.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import bench  # frozen harness at the repo root; only its /proc readers are reused


# --- host record ---------------------------------------------------------------

class HostRecord:
    """nproc, the local[N] master, load1 at start and steal % over the run."""

    def __init__(self) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.load1_start = bench._load1()
        self._ticks0 = bench._steal_ticks()

    def as_dict(self) -> dict:
        return {
            "nproc": self.nproc,
            "master": self.master,
            "load1_start": self.load1_start,
            "steal_pct": bench._steal_pct(self._ticks0, bench._steal_ticks()),
        }


# --- Spark session -------------------------------------------------------------

def start_session(root: str, work_dir: str, nproc: int):
    """A local[nproc] session whose scratch files all stay under work_dir;
    Python workers import marker_spark from root."""
    from pyspark.sql import SparkSession

    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = work_dir  # Python's tempfile, here and in the workers
    # the short launcher JVM of spark-submit would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()

    # same allocator settings as bench.build_session: they must be in
    # the environment before the JVM forks the Python worker daemon
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("marker-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        # the inputs are a few MB each: a small open cost lets Spark split
        # every scan into about one task per core
        .config("spark.sql.files.openCostInBytes", str(64 << 10))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work_dir)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        # keep the JVM's temp files inside work_dir; -XX:-UsePerfData stops
        # it writing /tmp/hsperfdata_<user>
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work_dir} -Dderby.system.home={work_dir} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then shut the gateway JVM and wait until it has exited
    (its Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
            raise


# --- status-store stage reader -----------------------------------------------------

class StageReader:
    """Per-stage task and shuffle numbers for one job group, read from
    Spark's status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Tag every job started inside the block with a fresh job group;
        yields the group id to pass to :meth:`stages`."""
        self._n += 1
        gid = f"{name}-{self._n}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, gid: str) -> dict:
        """Job count and completed stages of a job group, oldest first.
        Skipped stages (reused shuffle output) are left out."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        ids = set()
        jobs = tracker.getJobIdsForGroup(gid)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for sid in sorted(ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            p50 = tmax = 0.0
            summary = self._store.taskSummary(sid, sd.attemptId(), self._q)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                p50, tmax = run.apply(0) / 1e3, run.apply(1) / 1e3
            out.append(
                {
                    "id": sid,
                    "tasks": sd.numCompleteTasks(),
                    "input_bytes": sd.inputBytes(),
                    "output_bytes": sd.outputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "result_bytes": sd.resultSize(),
                    "task_s_p50": p50,
                    "task_s_max": tmax,
                }
            )
        return {"jobs": len(jobs), "stages": out}


def worker_rss_peak_mb() -> float:
    """Largest peak RSS (VmHWM) of this session's Python workers: the
    pyspark daemon and the workers it forks, children of the gateway JVM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    parents = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    peak = 0
    for pid in parents:
        p, depth = pid, 0
        while p in parents and p != proc.pid and depth < 16:
            p, depth = parents[p], depth + 1
        if p != proc.pid or pid == proc.pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024.0


# --- tracing -------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, op id) and counts.

    A span name's first dotted component is its layer.  When disabled,
    ``span`` and ``count`` do nothing, so the untraced run pays one
    attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.monotonic(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            name_, t0, _, parent_, op = self.spans[idx]
            self.spans[idx] = (name_, t0, time.monotonic(), parent_, op)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        child: dict[int, float] = {}
        for n, s, e, parent, _ in self.spans:
            if parent >= 0:
                child[parent] = child.get(parent, 0.0) + (e - s)
        out: dict[str, float] = {}
        for i, (n, s, e, _, _) in enumerate(self.spans):
            layer = n.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (e - s) - child.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for n, s, e, parent, op in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e, "parent": parent, "op": op}) + "\n")
            f.write(json.dumps({"counts": self.counts}) + "\n")


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Inclusive-method quantile (q in (0, 1)) of at least two samples."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))
