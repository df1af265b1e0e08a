"""Measurement plumbing shared by every workload: box sizing, /proc
sampling (CPU, RSS, host steal/idle), sample statistics and the Spark
session/process lifecycle.

Nothing here imports pyspark at module load, so the statistics helpers
are testable without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")

#: percentiles considered for the tail report, highest first
TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)
#: a percentile is reported only when at least this many samples lie beyond it
MIN_SAMPLES_BEYOND = 10


# -- statistics --------------------------------------------------------------


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100): the smallest sample with at
    least q% of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest percentile in TAIL_PERCENTILES that has
    at least MIN_SAMPLES_BEYOND samples beyond it, or None when even the
    median does not (fewer than 21 samples)."""
    for q in TAIL_PERCENTILES:
        if samples_beyond(len(xs), q) >= MIN_SAMPLES_BEYOND:
            return q, percentile(xs, q)
    return None


def timing_summary(xs: list[float]) -> str:
    """'median 1.234 s (n=7); p90 2.0 s' — the tail only when it has
    enough samples beyond it to mean anything."""
    out = f"median {median(xs):.4f} s (n={len(xs)})"
    tail = tail_percentile(xs)
    if tail is not None and tail[0] > 50.0:
        out += f"; p{tail[0]:g} {tail[1]:.4f} s"
    return out


def pair_recall(truth_a, truth_b, label_of: dict) -> float:
    """Share of truth pairs (truth_a[i], truth_b[i]) whose docs share a
    label in ``label_of`` (a doc absent from it is its own cluster). An
    empty truth set is 1.0."""
    n = len(truth_a)
    if n == 0:
        return 1.0
    hit = sum(label_of.get(int(a), int(a)) == label_of.get(int(b), int(b))
              for a, b in zip(truth_a, truth_b))
    return hit / n


def write_amp(bytes_written: int, input_bytes: int) -> float:
    """State bytes written per input text byte."""
    if input_bytes <= 0:
        raise ValueError("write amplification needs input bytes > 0")
    return bytes_written / input_bytes


# -- box sizing ----------------------------------------------------------------


def box_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def box_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory_for(mem_bytes: int) -> str:
    """A quarter of the box, 1-8 GiB: local mode runs driver and executors
    in the one JVM, and the box is shared with the Python workers."""
    gib = max(1, min(8, mem_bytes // (4 * 1024**3)))
    return f"{gib}g"


# -- /proc sampling --------------------------------------------------------------


def _read_stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, cpu ticks incl. reaped children, rss pages)."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may hold spaces/parens: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    ppid = int(f[1])
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    rss = int(f[21])
    return ppid, comm, ticks, rss


def process_tree(root: int | None = None) -> dict[int, tuple[int, str, int, int]]:
    """Every live process at or below ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                procs[int(d)] = st
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, st in procs.items():
            if pid not in keep and st[0] in keep:
                keep.add(pid)
                changed = True
    return {p: procs[p] for p in keep if p in procs}


def _is_python_worker(comm: str) -> bool:
    return comm.startswith("python")


#: thread names of the JVM's JIT compilers (comm is cut to 15 chars)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads. The benchmark's JVM runs
    with a fixed compiler thread count, so no compiler thread exits and
    takes its ticks out of this sum."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return 0
    for tid in tids:
        try:
            raw = Path(f"/proc/{pid}/task/{tid}/stat").read_text()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if raw[raw.index("(") + 1 : raw.rindex(")")].startswith(JIT_THREADS):
            f = raw[raw.rindex(")") + 2 :].split()
            total += int(f[11]) + int(f[12])
    return total


def cpu_snapshot() -> tuple[float, float, float]:
    """CPU seconds of this process and every descendant, without the JVM's
    JIT compiler threads; of that, the Python workers' share; and the JIT
    compiler threads' own seconds. On a run of a minute, compiling is
    the JVM's largest CPU consumer and varies from JVM to JVM; it is
    warm-up, not work an operation does. Workers are python processes
    below the JVM; ticks include reaped children, so a worker that exits
    mid-interval keeps its CPU in its parent's count."""
    me = os.getpid()
    total = py = jit = 0
    for pid, (_, comm, ticks, _) in process_tree(me).items():
        total += ticks
        if pid != me and _is_python_worker(comm):
            py += ticks
        elif comm == "java":
            jit += _jit_ticks(pid)
    return (total - jit) / CLK_TCK, py / CLK_TCK, jit / CLK_TCK


def rss_bytes() -> int:
    return sum(st[3] for st in process_tree().values()) * PAGE_SIZE


def host_cpu_times() -> dict[str, float]:
    """Box-wide idle and steal seconds (summed over CPUs) from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return {"idle_s": int(fields[4]) / CLK_TCK, "steal_s": int(fields[8]) / CLK_TCK}


class RssSampler:
    """Background thread recording the peak combined RSS of this process
    and its descendants (JVM, Python workers) while active."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self.peak = rss_bytes()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, rss_bytes())

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes())


class Region:
    """Wall, CPU and host idle/steal over a timed region."""

    def __enter__(self) -> "Region":
        self.host0 = host_cpu_times()
        self.cpu0, _, self.jit0 = cpu_snapshot()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        cpu, _, jit = cpu_snapshot()
        self.cpu_s = cpu - self.cpu0
        self.jit_s = jit - self.jit0
        host1 = host_cpu_times()
        self.idle_s = host1["idle_s"] - self.host0["idle_s"]
        self.steal_s = host1["steal_s"] - self.host0["steal_s"]


# -- Spark session lifecycle ---------------------------------------------------------


class SessionFactory:
    """Builds sessions sized to the box through the engine's ``get_spark``
    (explicit master and shuffle partitions, never its 32-core default),
    with every scratch path inside ``work`` and, when tracing, an event
    log per session."""

    def __init__(self, work: Path, cpus: int, driver_memory: str, event_log: Path | None):
        self.work = work
        self.cpus = cpus
        self.driver_memory = driver_memory
        self.event_log = event_log

    def conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                # compiler threads never exit, so cpu_snapshot can set
                # their ticks apart (see _jit_ticks)
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        }
        if self.event_log is not None:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log.resolve().as_uri(),
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start(self):
        from lsh_forest_for_multi_vector_retrieval_spark.session import get_spark

        return get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            driver_memory=self.driver_memory,
            extra_conf=self.conf(),
        )


def _alive(pid: int) -> bool:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active SparkContext, then the gateway JVM, and wait until
    every process started below this one (the JVM, the Python worker
    daemon and its workers) has exited."""
    import subprocess

    from pyspark import SparkContext

    started = [p for p in process_tree() if p != os.getpid()]
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin pipe closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                if _alive(p):
                    try:
                        os.kill(p, 9)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)
