"""Process hygiene for one benchmark run: the work root, the Spark
session's host-fit confs, the checkout snapshot and the RSS sampler.

Everything the run writes lives under the work root: the corpus,
pipeline outputs, ``spark.local.dir``, the warehouse dir, the JVM and
Python temp dirs, the event logs and the run records.  By default the
work root is ``.perfbench_work/`` inside the checkout (git-ignored);
``PERFBENCH_WORK`` moves it anywhere else.
"""

from __future__ import annotations

import os
import sys
import threading
import time

WORK_DIRNAME = ".perfbench_work"


def work_root(checkout: str) -> str:
    return os.path.abspath(os.environ.get("PERFBENCH_WORK") or os.path.join(checkout, WORK_DIRNAME))


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, in jiffies."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the host's CPU time between two ``cpu_jiffies`` readings
    that the hypervisor gave to other guests."""
    return (end[0] - start[0]) / max(1, end[1] - start[1])


def driver_memory() -> str:
    """A quarter of the host's RAM, capped at 1 GiB: plenty for the
    benchmark corpus (session.py's 48g default would overcommit a small
    host).  The session pre-touches the whole heap, so the JVM's share
    of ``peak_rss_mb`` follows this size, not what the program keeps
    live; the traced run's Spark memory peaks show that."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(1024, total_kb // 4096)}m"


def prepare_process_env(checkout: str, run_dir: str) -> dict[str, str]:
    """Point every writer the JVM and the Python workers inherit at the
    run dir.  Must run before the first SparkSession starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local, os.path.join(run_dir, SOCKET_DIR)):
        os.makedirs(d, exist_ok=True)
    env = {
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(p for p in (checkout, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory(),
    }
    os.environ.update(env)
    # the benchmark always runs local[nproc]
    os.environ.pop("SPARK_MASTER", None)
    # relative writers (spark-warehouse/, derby.log, metastore_db/) land here
    os.chdir(run_dir)
    return env


# Relative to the run dir, which is the working directory of the driver,
# the JVM and the Python worker daemon alike: an AF_UNIX path must stay
# under 108 bytes, and the default (java.io.tmpdir inside the checkout)
# overflows once the checkout path is longer than about 25 characters.
SOCKET_DIR = "sock"


def session_confs(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.python.unix.domain.socket.dir": SOCKET_DIR,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap committed and touched at JVM start: the JVM's
        # resident size then no longer depends on how far each run's
        # garbage happened to grow the heap before the memory peak
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:+AlwaysPreTouch "
                                          f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"),
        "spark.ui.showConsoleProgress": "false",
    }


def _passthrough(batches):
    yield from batches


class Session:
    """The benchmark's SparkSession, restartable inside one JVM.

    ``start`` times set-up: ``get_spark`` through the first completed
    action, one that starts the Python workers as every pipeline action
    does (without them the set-up is a few JVM round trips, ~0.25 s, and
    swung 25% between two sets of runs on the same host).  ``close``
    stops the context, shuts the py4j gateway and waits for the JVM
    (and with it the Python worker daemon) to exit."""

    def __init__(self, run_dir: str, cores: int):
        self.run_dir = run_dir
        self.cores = cores
        self.spark = None

    def start(self, extra: dict[str, str] | None = None) -> float:
        from logparse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cores=self.cores,
            extra={**session_confs(self.run_dir), **(extra or {})},
        )
        self.spark.range(1).mapInArrow(_passthrough, "id long").collect()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - any wait failure: force it
                proc.kill()
                proc.wait(timeout=30)

    def resolved_confs(self) -> dict[str, str]:
        return dict(self.spark.sparkContext.getConf().getAll())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    kids = _children()
    out, stack = [], [os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    forked Python workers split between them instead of counted per
    worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and
    its Python workers), summed as PSS and sampled every ``period``
    seconds on a daemon thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.peak_procs: list[tuple[int, str, float]] = []  # (pid, name, MB) at the peak
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            procs = [(p, _pss_bytes(p)) for p in descendants()]
            total = sum(r for _, r in procs)
            with self._lock:
                if total > self.peak:
                    self.peak = total
                    self.peak_procs = [(p, _comm(p), r / (1 << 20)) for p, r in procs]

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
            self.peak_procs = []

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak / (1 << 20)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def pss_split(peak_procs: list[tuple[int, str, float]]) -> dict[str, float]:
    """The JVM's and the Python workers' shares of an ``RssSampler``
    peak, in MB."""
    return {
        "memory.jvm_at_peak_mb": sum(mb for _, name, mb in peak_procs if name == "java"),
        "memory.python_at_peak_mb": sum(mb for _, name, mb in peak_procs if name.startswith("python")),
    }


def wait_children_gone(timeout: float = 30.0) -> list[int]:
    """Wait until no descendant process is left; kill stragglers."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = descendants()
        if not left:
            return []
        time.sleep(0.2)
    left = descendants()
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    return left


def tree_snapshot(root: str, exclude: str | None = None) -> dict[str, tuple]:
    """(kind, size, mtime_ns) for every path under ``root``: the record
    that proves a run left the checkout as it found it."""
    snap: dict[str, tuple] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) != exclude]
        st = os.lstat(dirpath)
        snap[os.path.relpath(dirpath, root)] = ("d", 0, st.st_mtime_ns)
        for name in filenames:
            p = os.path.join(dirpath, name)
            st = os.lstat(p)
            snap[os.path.relpath(p, root)] = ("f", st.st_size, st.st_mtime_ns)
    return snap


def snapshot_diff(before: dict, after: dict) -> list[str]:
    changed = [p for p in before.keys() & after.keys() if before[p] != after[p]]
    return sorted(
        [f"added {p}" for p in after.keys() - before.keys()]
        + [f"removed {p}" for p in before.keys() - after.keys()]
        + [f"changed {p}" for p in changed]
    )

