"""Shared plumbing for the benchmark: work directories, the Spark session,
process-tree CPU/RSS accounting, summary statistics and host calibration.

Everything the benchmark writes lives under one work root inside the
checkout (``.perfbench_work/``, which the root ``.gitignore`` lists),
including Spark's local dirs, the SQL warehouse, the Python and JVM temp
dirs and the process's working directory, so a run leaves the tracked
tree and the library's own ``.oracle/`` untouched.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
SLOTS = 4  # local[4]: the task slots every timed session runs with
# HotSpot's JIT compiler threads, by the 15-character thread name Linux keeps
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class LibraryMissing(RuntimeError):
    """The checkout does not hold the library the benchmark drives."""


def prepare_environment(workload: str) -> str:
    """Create a fresh work dir for ``workload``, make it the working
    directory, point every temp path into it and make the library
    importable by the driver and the Python workers. Returns the work dir.
    Raises LibraryMissing when the package is not beside the benchmark."""
    if not os.path.isdir(os.path.join(REPO_ROOT, "mds_provider_spark")):
        raise LibraryMissing(f"no mds_provider_spark package in {REPO_ROOT}")
    work = os.path.join(WORK_ROOT, workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.chdir(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + path if path else "")
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    # the ledger-oracled registry queries only replay their oracle and
    # write .oracle/ when this is unset; the benchmark times the engine
    os.environ["SPARK_GRAFT_SKIP_LEDGER"] = "1"
    # keep the driver heap small on a shared host; the library's default
    # is sized for local[8]+ runs
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    return work


def start_spark(work: str, app: str, extra_conf: dict[str, str] | None = None):
    """``get_spark(parallelism=SLOTS)`` with every scratch path in ``work``."""
    from mds_provider_spark.session import ENGINE_CONF, get_spark

    tmp = os.path.join(work, "tmp")
    # fixed compiler threads: a compiler thread that exits would move its
    # CPU time into the process total that tree_cpu_s subtracts it from
    java_opts = (f"{ENGINE_CONF['spark.driver.extraJavaOptions']} -Djava.io.tmpdir={tmp}"
                 " -XX:-UseDynamicNumberOfCompilerThreads")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf or {})
    spark = get_spark(app, parallelism=SLOTS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------ process tree

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rfind(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants:
    the driver, the JVM it launched and the JVM's Python workers."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _jit_ticks(pid: int) -> int:
    """user+sys clock ticks of the JVM's JIT compiler threads in ``pid``
    (0 for a process that has none)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        fields = _stat_fields(f"{pid}/task/{tid}")
        if fields:
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(pids: list[int]) -> float:
    """user+sys seconds of ``pids``, plus what their reaped children used,
    less what the JVM's JIT compiler threads used. Compilation is the JVM
    warming up, not the op's work: on rules_dense it falls from about half
    of an op's CPU on the first op to a quarter by the tenth, on a slope
    that drifts from run to run, so it stays out of the op's CPU. The session keeps its compiler
    threads for its whole life (``start_spark``), so their time is never
    folded into the process total by a thread's exit."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15]) - _jit_ticks(pid)
    return total / _CLK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the process tree's summed RSS in a background thread; the
    peak since the last ``reset()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._pids = process_tree()
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            if n % 5 == 0:  # Python workers come and go between tasks
                self._pids = process_tree()
            n += 1
            rss = tree_rss_mb(self._pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        self._pids = process_tree()
        with self._lock:
            self._peak = tree_rss_mb(self._pids)

    @property
    def peak(self) -> float:
        with self._lock:
            return max(self._peak, tree_rss_mb(process_tree()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Clock:
    """Wall and process-tree CPU of the timed segments of one op; output
    checks run outside the segments and count toward neither."""

    def __init__(self):
        self.walls: dict[str, float] = {}
        self.cpu_s = 0.0

    def reset(self) -> None:
        self.walls, self.cpu_s = {}, 0.0

    @contextmanager
    def timed(self, name: str):
        cpu0 = tree_cpu_s(process_tree())
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.monotonic() - t0
            self.cpu_s += tree_cpu_s(process_tree()) - cpu0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and its Python workers,
    and wait until every one of those processes has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # taken before the stop, while the Python workers are still the JVM's
    # descendants; once their daemon exits they are reparented away
    kids = process_tree(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        _stop_gateway(gateway, proc)
        wait_gone(kids)


def _stop_gateway(gateway, proc) -> None:
    from pyspark import SparkContext

    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _alive(pids: list[int]) -> list[int]:
    return [p for p in pids if (f := _stat_fields(p)) and f[0] != "Z"]


def wait_gone(pids: list[int], grace_s: float = 30) -> None:
    """Wait until every one of ``pids`` has ended; SIGKILL the ones still
    running after ``grace_s`` and wait for those too. Own children are
    reaped."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        alive = _alive(pids)
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} survived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def reap_descendants() -> None:
    """Stop and wait for whatever this process started and left running:
    the exit path's safety net behind ``stop_spark``."""
    kids = [p for p in process_tree() if p != os.getpid()]
    for p in _alive(kids):
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    wait_gone(kids, grace_s=10)


# ------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (label, value); None below 20 samples, where no percentile above the
    median has ten samples past it."""
    n = len(values)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None or best == 50:
        return None
    ordered = sorted(values)
    k = min(n - 1, int(round(best / 100 * (n - 1))))
    return f"p{best:g}", float(ordered[k])


# ------------------------------------------------------------ calibration


def host_calibration() -> dict[str, float]:
    """Bare-process CPU and memory-bandwidth burns at 1 and SLOTS processes
    (bench.py's mp_calibration recipe, scaled down to about a second).
    Recorded beside the metrics so runs on a drifting host can be read
    against what the host itself delivered."""
    import multiprocessing as mp

    import bench  # the frozen harness, imported read-only for its burn kernels

    iters, passes = 1_000_000, 2
    out: dict[str, float] = {}
    # fork, not spawn: this runs before the session starts, while the
    # process has one thread, and a forked pool starts no resource-tracker
    # process that would outlive this one
    ctx = mp.get_context("fork")
    for w in (1, SLOTS):
        pool = ctx.Pool(w)
        try:
            pool.map(bench._burn, [1000] * w)  # start the workers, untimed
            t0 = time.monotonic()
            pool.map(bench._burn, [iters] * (2 * w))
            out[f"cpu_procs_{w}"] = 2 * w * iters / (time.monotonic() - t0) / 1e6
            t0 = time.monotonic()
            pool.map(bench._burn_bandwidth, [passes] * (2 * w))
            out[f"bw_procs_{w}"] = 2 * w * passes * 4 * 0.064 / (time.monotonic() - t0)
            pool.close()
        finally:
            pool.terminate()
            pool.join()
    out["cpu_efficiency_1_to_4"] = out[f"cpu_procs_{SLOTS}"] / (SLOTS * out["cpu_procs_1"])
    out["bw_efficiency_1_to_4"] = out[f"bw_procs_{SLOTS}"] / (SLOTS * out["bw_procs_1"])
    return {k: round(v, 4) for k, v in out.items()}
