"""Run settings, the Spark session, and measurement helpers shared by
every workload.

Everything a run writes lives under ``<checkout>/.bench_work``: the
generated inputs, the warehouse tables, Spark's local and temp dirs,
and the trace files (``.bench_work/out``).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"
OUT_DIR = WORK_ROOT / "out"

# Deployment pinned for every run: the package default of 24g driver
# memory exceeds a 15 GB box, and a local[4] master matches nproc = 4.
CORES = 4
DRIVER_MEM = "3g"
PACKAGE = "sems_event_deduplication_spark"


def pin_environment(work: Path) -> dict:
    """Set the environment the Spark session reads at start-up; return
    the pinned settings for the run record. Must run before the JVM
    starts (driver memory and local dirs are read once)."""
    local_dirs = work / "spark-local"
    tmp = work / "tmp"
    for d in (local_dirs, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dirs)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_JVM_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)
    return {
        "master": f"local[{CORES}]",
        "spark_driver_mem": DRIVER_MEM,
        "spark_local_dirs": str(local_dirs.relative_to(ROOT)),
    }


def start_spark(app: str, work: Path):
    """The package's session factory at the pinned deployment."""
    from sems_event_deduplication_spark.session import get_spark

    spark = get_spark(
        app, cores=CORES, shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_record() -> dict:
    """Versions and machine facts recorded with every result."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for f in sorted((ROOT / PACKAGE).rglob("*.py")):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    return {
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "package_sha256": digest.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
    }


def _descendants() -> list[int]:
    """Pids of this process's descendants: the driver JVM and its
    Python worker tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by the descendants,
    including their reaped children. Unlike wall time, CPU time does not
    grow while the hypervisor runs other guests on this VM's CPUs."""
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


class Stopwatch:
    """Wall and descendant CPU seconds of a block."""

    def __enter__(self):
        self.t0, self.c0 = time.monotonic(), tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.monotonic() - self.t0
        self.cpu_s = tree_cpu_s() - self.c0


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and its Python worker tree), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _descendant_rss(self) -> int:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._descendant_rss())
            self._stop.wait(self.interval_s)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to others: context
    for a slow window, not a metric."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


# CPU seconds the speed probe took on the reference machine: the 4-vCPU
# VM in a quiet window. Scaled metrics read as CPU seconds at that speed.
REF_PROBE_CPU_S = 2.0


def _probe_work(n: int) -> float:
    import numpy as np

    t0 = time.process_time()
    x = 0
    for i in range(n):
        x = (x * 31 + i) % 1_000_003
    a = np.random.default_rng(x).random(1 << 18)
    for _ in range(n // 100_000):
        np.sort(a)
    return time.process_time() - t0


def speed_probe_cpu_s(n: int = 4_000_000) -> float:
    """CPU seconds of fixed work that involves neither the package nor
    Spark: an interpreted loop and numpy sorts, one process per core.
    On a shared host the CPU time a fixed amount of work takes drifts
    with the load of other guests (measured: 30-40% between windows ten
    minutes apart, with no steal reported), so round costs are scaled by
    this probe, taken next to the round. Plain child processes, each
    waited for (a multiprocessing pool would leave its resource tracker
    running until this process exits)."""
    code = (f"import sys; sys.path.insert(0, {str(Path(__file__).resolve().parent)!r}); "
            f"import harness; print(harness._probe_work({n}))")
    procs = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
             for _ in range(CORES)]
    try:
        return sum(float(p.communicate()[0]) for p in procs)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def become_subreaper() -> None:
    """Make this process the one that adopts its orphaned descendants
    (Linux PR_SET_CHILD_SUBREAPER), so that ``stop_descendants`` can find
    and reap them. Without it, a process whose parent exits first (the
    launcher subshell of ``spark-class`` when the JVM exits, a Python
    worker when its daemon exits) is handed to init and outlives the run."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 15.0, term_s: float = 5.0,
                     kill_s: float = 10.0) -> list[int]:
    """Wait for every descendant to end and reap it: first ``grace_s``
    for them to exit on their own, then SIGTERM, then after ``term_s``
    SIGKILL. Returns the pids that had to be signalled; raises if any
    is still there ``kill_s`` after SIGKILL."""
    import signal

    signalled: dict[int, int] = {}
    t0 = time.monotonic()
    while True:
        _reap()
        left = _descendants()
        if not left:
            return sorted(signalled)
        waited = time.monotonic() - t0
        if waited > grace_s + term_s + kill_s:
            raise RuntimeError(f"processes {left} did not end after SIGKILL")
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + term_s else signal.SIGTERM
            for pid in left:
                if signalled.get(pid) == sig:
                    continue
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                signalled[pid] = sig
        time.sleep(0.05)


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. With fewer than 11 samples no percentile has ten
    beyond it, and the maximum is reported as the 100th."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """(row count, xor of per-row xxhash64) in one job — order-free, and
    ANSI-safe (a sum over hashes would overflow)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def stable_hash(items) -> int:
    """A 64-bit digest of ``repr(items)`` that is the same in every
    process (``hash`` of a str is salted per process)."""
    return int.from_bytes(hashlib.sha256(repr(items).encode()).digest()[:8], "big")


def pair_scores(truth: dict[str, str], pred: dict[str, str]) -> tuple[float, float]:
    """Pair-counting (recall, precision) of a predicted clustering
    against planted groups, without enumerating pairs: a pair is
    planted when both ids share a truth group and predicted when they
    share a predicted cluster."""
    def pairs(counts) -> int:
        return sum(c * (c - 1) // 2 for c in counts)

    from collections import Counter

    both = Counter((truth[i], pred[i]) for i in truth)
    tp = pairs(both.values())
    planted = pairs(Counter(truth.values()).values())
    predicted = pairs(Counter(pred[i] for i in truth).values())
    return (tp / planted if planted else 1.0,
            tp / predicted if predicted else 1.0)
