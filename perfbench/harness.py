"""Measurement machinery shared by the perfbench workloads.

- ``tail`` implements the tail rule: the highest percentile that still
  has at least ``TAIL_BEYOND`` samples beyond it.
- ``JobGroups`` wraps each timed call in ``setJobGroup`` and reads the
  call's stages from Spark's status store right after it returns, so
  counts are attributed by group instead of by diffing a bounded
  stage list (which goes negative once old stages are evicted).
- ``Tracer`` records spans in memory around calls into each layer and
  computes per-layer self time; it writes the spans out at the end.
- ``Session`` owns the one Spark session of a run and stops it, and
  the JVM behind it, on exit.
"""

from __future__ import annotations

import json
import os
import platform
import shlex
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_BEYOND = 10


def benchmark() -> dict:
    """``BENCHMARK.json``: the workloads and the metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """``(value, percentile, n)`` for the highest percentile with at
    least ``TAIL_BEYOND`` samples beyond it.  With ``n`` sorted samples
    that is the ``n - TAIL_BEYOND``-th smallest one.  Fewer than
    ``TAIL_BEYOND + 1`` samples support no such percentile; the
    maximum is returned with percentile 100 so the caller can see it."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - TAIL_BEYOND
    if k < 1:
        return float(s[-1]), 100.0, n
    return float(s[k - 1]), 100.0 * k / n, n


# ---------------------------------------------------------------------------
# Spark counters by job group
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes")


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        self.jobs += other.jobs
        for f in STAGE_FIELDS:
            setattr(self, f, getattr(self, f) + getattr(other, f))


class JobGroups:
    """Attribute Spark work to ``<workload>|<layer>|<op id>`` groups."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.total = StageTotals()

    def group(self, layer: str, op_id) -> str:
        return f"{self.workload}|{layer}|{op_id}"

    def set(self, layer: str, op_id) -> str:
        g = self.group(layer, op_id)
        self.sc.setJobGroup(g, g)
        return g

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> StageTotals:
        """Completed stages of every job in ``group``.  Waits for the
        listener bus first: the status store is filled asynchronously."""
        self._bus.waitUntilEmpty(10_000)
        out = StageTotals()
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out.jobs += 1
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never submitted (skipped)
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_run_s += st.executorRunTime() / 1000.0
                out.gc_s += st.jvmGcTime() / 1000.0
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def collect(self, layer: str, op_id) -> None:
        """Add the group's stages to ``total``."""
        self.total.add(self.read(self.group(layer, op_id)))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    op_id: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0


class Tracer:
    """In-memory spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, op_id):
        if not self.enabled:
            yield None
            return
        sp = Span(name, layer, str(op_id), time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  id=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, layer: str, op_id, start: float, end: float,
            parent: int | None = None) -> Span:
        """A span measured elsewhere (e.g. from streaming progress)."""
        sp = Span(name, layer, str(op_id), start, end, parent, len(self.spans))
        self.spans.append(sp)
        return sp

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part covered by children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered = _union_length(
                [(max(c.start, sp.start), min(c.end, sp.end)) for c in children[sp.id]]
            )
            out[sp.layer] += max(sp.end - sp.start - covered, 0.0)
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)

    @classmethod
    def load(cls, path: str) -> "Tracer":
        """A tracer over a written span file, for ``self_times``."""
        tracer = cls(True)
        with open(path) as f:
            tracer.spans = [Span(**sp) for sp in json.load(f)]
        return tracer


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Session and provenance
# ---------------------------------------------------------------------------


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


def prepare_env(workdir: str) -> None:
    """Environment for the one Spark session of a run: every scratch
    file inside ``workdir``, the repository importable by Python
    workers, no console progress bar on stderr."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        # no jvmstat file in the system temp directory
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])


class Session:
    """Start the session with the program's own factory; ``close``
    stops it and waits for the JVM process to exit."""

    def __init__(self, app: str):
        from akvorado_spark.session import get_spark

        self.spark = get_spark(app, cpus())
        gw = self.spark.sparkContext._gateway
        self._proc = getattr(gw, "proc", None)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the JVM plus this Python process."""
        import resource

        mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        if self._proc is not None:
            with open(f"/proc/{self._proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
        return mb

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=30)


def loadavg_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def source_digest() -> str:
    """Content hash of the program's sources — the checkout the
    benchmark runs in need not be a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "akvorado_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(spark, seed: int, load_start: float) -> dict:
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": loadavg_1m(),
        "seed": seed,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "argv": sys.argv[1:],
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size
