"""Measurement plumbing shared by the workloads: run-scoped directories,
the Spark session, spans and Spark job statistics, memory and the host
block.

Spans and Spark statistics are recorded only in traced runs; untraced
runs time the same calls with ``perf_counter`` alone.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

#: Driver heap of every run, fixed from JVM start (-Xms = -Xmx): a heap
#: that G1 grows on demand made peak RSS bimodal between identical runs
#: (one more expansion step or not).
DRIVER_MEMORY = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Run directory and session
# ---------------------------------------------------------------------------


class RunDir:
    """A directory under the benchmark's own tree holding every file the
    run writes (inputs, stream state, TMPDIR, Spark local dirs); removed
    on exit."""

    def __init__(self, base: str) -> None:
        self.path = os.path.join(base, ".run", f"{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d)
        # tempfile.mkdtemp callers in the catalog and Spark's block
        # manager write here instead of /tmp
        import tempfile

        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = self.tmp

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def spark_settings() -> dict:
    n = cores()
    return {
        "spark.master": f"local[{n}]",
        "spark.shuffle_partitions": n,
        "spark.driver_memory": DRIVER_MEMORY,
    }


def build(run: RunDir):
    from storm_dynamic_spout_spark.engine import EngineConfig, build_session

    spark = build_session(
        EngineConfig(spark_settings()),
        **{
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.tmp} -Xms{DRIVER_MEMORY}",
            "spark.local.dir": run.local,
            "spark.sql.warehouse.dir": run.sub("warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active session and the JVM, and wait until the JVM and
    every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _await_exit(workers, timeout=30.0)


def _descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _await_exit(pids: list[int], timeout: float) -> None:
    """Wait for processes that are not our children (a dead JVM's
    workers are re-parented); kill any still alive at the deadline."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == pid:
            out.append(int(name))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) in MB of this process plus its
    gateway JVM.  Forked Python workers are left out: they share pages
    copy-on-write with their daemon, and their number follows how many
    Python tasks ran."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    return sum(_vm_hwm_kb(pid) for pid in pids) / 1024.0


def peak_rss_by_process() -> dict[str, float]:
    """VmHWM in MB of this process and every descendant, by process
    name and pid (written to the results file)."""
    out = {}
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[f"{name}:{pid}"] = _vm_hwm_kb(pid) / 1024.0
    return out


# ---------------------------------------------------------------------------
# Spans and Spark statistics
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine's layers, plus the Spark jobs
    each call ran (job group, then the status tracker and the status
    store, read right after the call so retention limits never drop
    them).  Disabled, ``call`` only times the call."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": op or (self.spans[self._stack[-1]]["op"] if self._stack else None),
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if self.spark is not None:
            self._seq += 1
            group = rec["group"] = f"pb-{self._seq}"
            self.spark.sparkContext.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                rec.update(self._spark_stats(group))
                parent = self.spans[self._stack[-1]] if self._stack else None
                self.spark.sparkContext.setJobGroup(
                    parent["group"] if parent else "pb-none", "benchmark"
                )
            self.overhead_s += time.perf_counter() - rec["end"]

    def call(self, name: str, layer: str, fn, *args, op: str | None = None, **kw):
        """Run ``fn`` inside a span; returns (result, wall seconds, span)."""
        with self.span(name, layer, op) as rec:
            t0 = time.perf_counter()
            out = fn(*args, **kw)
            dt = time.perf_counter() - t0
        return out, dt, rec

    def _spark_stats(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        st = dict(jobs=len(jobs), stages=0, tasks=0, cpu_ns=0, shuffle_bytes=0,
                  spill_bytes=0, input_records=0)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                try:
                    d = store.lastStageAttempt(s)
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                st["stages"] += 1
                st["tasks"] += d.numTasks()
                st["cpu_ns"] += d.executorCpuTime()
                st["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
                st["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                st["input_records"] += d.inputRecords()
        return st

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by its child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def sum_stats(spans) -> dict:
    """Totals of the Spark statistics over spans (None entries skipped)."""
    keys = ("jobs", "stages", "tasks", "cpu_ns", "shuffle_bytes", "spill_bytes",
            "input_records")
    tot = {k: 0 for k in keys}
    tot["wall"] = 0.0
    for s in spans:
        if s is None:
            continue
        for k in keys:
            tot[k] += s.get(k, 0)
        tot["wall"] += s["end"] - s["start"]
    return tot


def cpu_util(tot: dict) -> float:
    """Executor CPU / (wall x cores) over summed span statistics."""
    return tot["cpu_ns"] / 1e9 / (tot["wall"] * cores()) if tot["wall"] else 0.0


# ---------------------------------------------------------------------------
# Host block
# ---------------------------------------------------------------------------


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


#: CPU ticks when the benchmark started, for the run's steal share.
_TICKS_AT_START = _cpu_ticks()


def _cpu_probe() -> float:
    """A fixed pure-Python loop (about 0.5 s on a 2020s x86 core)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(4_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def host_block(spark) -> dict:
    import pyspark

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=cores()).selectExpr("sum(id * 3 % 7)").collect()
    spark_probe = time.perf_counter() - t0
    conf = spark.sparkContext.getConf()
    ticks = [b - a for a, b in zip(_TICKS_AT_START, _cpu_ticks())]
    return {
        "nproc": cores(),
        "cpu_model": model,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "calibration_cpu_s": round(_cpu_probe(), 4),
        "calibration_spark_job_s": round(spark_probe, 4),
        # CPU time the hypervisor gave to other guests while this run
        # was going, as a share of all CPU time
        "steal_share": round(ticks[7] / sum(ticks[:8]), 4) if sum(ticks[:8]) else 0.0,
    }
