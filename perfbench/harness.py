"""Process-level plumbing shared by every workload: the Spark session,
host-noise records, memory sampling, the closed-loop timer, the
layer tracer and the Spark event-log reader.

Nothing here knows about a particular workload (see ``workloads.py``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

# ---------------------------------------------------------------------------
# host conditions (recorded with every run so noisy runs can be identified)
# ---------------------------------------------------------------------------


def count_other_jvms() -> int:
    """Live java processes that this run did not start (copied from the
    legacy ``bench.py``; its own driver JVM is a child of this process).
    A nonzero count means another Spark session shared the host."""
    me = os.getpid()
    n = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                if comm != "java":
                    continue
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().split()[3])
                if ppid == me:
                    continue
                n += 1
            except OSError:
                continue
    except OSError:
        return -1
    return n


def host_snapshot() -> dict:
    return {
        "cpus": os.cpu_count(),
        "load_avg_1m": round(os.getloadavg()[0], 2),
        "other_jvms": count_other_jvms(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                # comm may hold spaces; ppid is the 2nd field after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_workers_hwm_mb() -> float:
    """Peak resident memory (VmHWM) of the Python workers below the
    driver JVM, summed per process, in MB (0 when none was started)."""
    kids = _children()
    total_kb = 0
    stack = list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        if _comm(pid).startswith("python"):
            total_kb += _status_kb(pid, "VmHWM")
        stack.extend(kids.get(pid, []))
    return total_kb / 1024.0


class ManagedMemorySampler:
    """Peak of the memory Spark's memory manager has handed out in the
    driver (execution + storage, on- and off-heap: hash maps, sort
    buffers, broadcast and cached blocks), sampled every ``interval``
    seconds from a thread while the ``with`` block runs. This is what
    the program holds, independent of the heap size the JVM grew to."""

    def __init__(self, spark, interval: float = 0.01):
        import threading

        self._mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def _used(self) -> int:
        return int(self._mm.executionMemoryUsed()) + int(self._mm.storageMemoryUsed())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._used())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._used())


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def driver_memory() -> str:
    """A driver heap that fits the host: a quarter of physical memory,
    between 1 and 4 GB (other processes share the machine)."""
    total_kb = _mem_total_kb()
    gb = max(1, min(4, total_kb // (4 * 1024 * 1024))) if total_kb else 2
    return f"{gb}g"


def _mem_total_kb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def make_session(root: Path, work: Path, event_dir: Path | None):
    """``local[nproc]`` session with every scratch path inside ``work``.

    ``event_dir`` turns on Spark's event log (traced runs only)."""
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers inherit the driver's environment through the JVM;
    # the JVMs (launcher and driver) keep temp files and perf data out
    # of the system temp directory
    os.environ["PYTHONPATH"] = str(root)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    mem = driver_memory()
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", mem)
        # a fixed-size heap: no heap growth during the cold operation,
        # whose GC count would otherwise depend on resizing decisions
        .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids, out = _children(), []
    stack = list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the driver JVM and every process below
    it (Python workers) have exited; kill what outlives ``timeout``."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    left = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when the Python side hangs up
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and _comm(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                break
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


# ---------------------------------------------------------------------------
# timing
# ---------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in 0..1)."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


@dataclass
class Span:
    layer: str
    group: str
    seconds: float
    recomputes: tuple[str, ...]
    rows: int = 0


@dataclass
class Tracer:
    """Spans around calls into the engine's public functions.

    Spark is lazy, so a layer is traced by materializing its output
    (``localCheckpoint``) inside its span, in pipeline order, and the
    next layer is called on that checkpoint: each span then holds one
    layer's own work. A call that can only be made on the raw table
    (``resumable_backfill`` re-runs its plan per bucket) lists the layers
    it ``recomputes``; its self time is its span minus their self times.
    Every span runs under its own Spark job group so the event log
    attributes tasks to it.
    """

    spark: object
    spans: list[Span] = field(default_factory=list)
    spans_out: dict = field(default_factory=dict)  # layer → its last checkpoint
    stream_groups: dict[str, str] = field(default_factory=dict)

    def call(self, layer: str, fn, recomputes: tuple[str, ...] = ()):
        """Time ``fn()`` as one span of ``layer``."""
        group = f"{layer}#{len(self.spans)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, layer)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(Span(layer, group, dt, recomputes))
        return out

    def materialize(self, layer: str, df, recomputes: tuple[str, ...] = ()):
        """Compute ``df`` inside a span of ``layer``; returns the
        checkpointed result (its row count is taken outside the span)."""
        out = self.call(layer, lambda: df.localCheckpoint(eager=True), recomputes)
        self.spans[-1].rows = out.count()
        self.spans_out[layer] = out
        return out

    def rows(self, layer: str) -> int:
        return [s.rows for s in self.spans if s.layer == layer][-1]

    def span_of(self, layer: str) -> float:
        return sum(s.seconds for s in self.spans if s.layer == layer)

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - sum(
                out.get(r, 0.0) for r in s.recomputes)
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

ENGINE_KEYS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "spill_bytes",
    "gc_ms",
    "task_run_ms",
    "tasks",
    "stages",
    "failed_tasks",
)


def read_event_log(event_dir: Path) -> dict[str, dict]:
    """Task metrics summed per job group, plus the per-stage task run
    times (``_stage_runs``) for skew. Call after the session stopped."""
    # Spark 4 writes a rolling log: a directory of ``events_<n>_<app>``
    # files, read in order so job starts precede their tasks
    logs = sorted((p for p in event_dir.rglob("events_*") if p.is_file()),
                  key=lambda p: int(p.name.split("_")[1]))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_runs: dict[int, list[int]] = {}
    for path in logs:
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "(none)"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups.setdefault(
                        stage_group.get(sid, "(none)"),
                        {k: 0 for k in ENGINE_KEYS} | {"_stages": set()},
                    )
                    g["tasks"] += 1
                    g["_stages"].add(sid)
                    if ev.get("Task Info", {}).get("Failed") or (
                        ev.get("Task End Reason", {}).get("Reason") != "Success"
                    ):
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    run_ms = int(m.get("Executor Run Time", 0))
                    g["task_run_ms"] += run_ms
                    g["gc_ms"] += int(m.get("JVM GC Time", 0))
                    g["spill_bytes"] += int(m.get("Disk Bytes Spilled", 0))
                    g["input_bytes"] += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += int(sr.get("Remote Bytes Read", 0)) + int(
                        sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
                    stage_runs.setdefault(sid, []).append(run_ms)
    for g in groups.values():
        g["stages"] = len(g.pop("_stages"))
    groups["_stage_runs"] = {
        sid: (stage_group.get(sid, "(none)"), runs) for sid, runs in stage_runs.items()
    }
    return groups


def task_skew(stage_runs: dict, groups: set[str] | None = None) -> float:
    """max ÷ median task run time in the stage with the most task time."""
    best = None
    for group, runs in stage_runs.values():
        if groups is not None and group not in groups:
            continue
        if best is None or sum(runs) > sum(best):
            best = runs
    if not best:
        return 0.0
    med = statistics.median(best)
    return float(max(best)) / med if med > 0 else float(max(best) > 0)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file() and not p.name.startswith("."))
