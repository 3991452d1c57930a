"""Run-time plumbing: the Spark session, the process tree, host notes and
the closed-loop timer. Nothing here knows about a particular workload."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def driver_memory() -> str:
    """A quarter of the host's RAM, 2-8 GiB (bench.py's 48g assumes a big box)."""
    gib = mem_total_bytes() // (1 << 30)
    return f"{max(2, min(8, gib // 4))}g"


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the package
    importable by Python workers whatever the caller's cwd."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, cpus: int):
    """bench.make_spark's configuration, sized to this host."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("s2geo_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until every one of those processes has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            if _is_zombie(pid):
                break
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of a process tree, sampled from /proc. ``at_peak``
    splits the peak into the root (the JVM) and its descendants (the
    Python workers)."""

    def __init__(self, root_pid: int | None, interval: float = 0.2):
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        if self.root is None:
            return
        tree = process_tree(self.root)
        rss = [_rss_bytes(p) for p in tree]
        if sum(rss) > self.peak:
            self.peak = sum(rss)
            self.at_peak = {
                "jvm_mb": rss[0] / (1 << 20),
                "workers_mb": sum(rss[1:]) / (1 << 20),
                "workers": len(rss) - 1,
            }

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


class HostWindow:
    """Steal% and load average over a timed window (annotation, not gated)."""

    def __enter__(self):
        self._s0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc):
        s1 = _cpu_jiffies()
        dt = s1[1] - self._s0[1]
        self.steal_pct = 100.0 * (s1[0] - self._s0[0]) / dt if dt > 0 else 0.0
        with open("/proc/loadavg") as f:
            self.loadavg_1m = float(f.read().split()[0])


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_gib": round(mem_total_bytes() / (1 << 30), 2),
        "driver_memory": driver_memory(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def closed_loop(seconds: float, one_op, min_ops: int = 1) -> int:
    """Run ``one_op(n)`` back to back until ``seconds`` have elapsed and at
    least ``min_ops`` operations are done. One client: the next operation
    starts only when the previous one has finished. Returns the op count."""
    t0 = time.perf_counter()
    n = 0
    while n < min_ops or time.perf_counter() - t0 < seconds:
        one_op(n)
        n += 1
    return n
