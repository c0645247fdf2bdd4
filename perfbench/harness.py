"""Shared pieces of the benchmark: host settings, the Spark session, the
output digest, timing statistics and the memory sampler.

Everything the benchmark writes (staged inputs, Spark's local and temp
directories) lives in one work directory inside the checkout, removed
when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gtfs_osm_sync_spark"

# get_spark's default heap is 24g; 2g keeps a run small on a shared host
DRIVER_MEM = "2g"


def host_settings(workdir: str) -> dict[str, str]:
    """Set the environment get_spark and the Python workers read, and
    return it so every result can record it."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old_path = os.environ.get("PYTHONPATH", "")
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers start from the JVM's cwd, not this script's
        # directory: without the checkout on their path they cannot
        # unpickle the package's UDFs
        "PYTHONPATH": ROOT + (os.pathsep + old_path if old_path else ""),
        "TMPDIR": tmp,
    }
    os.environ.update(settings)
    return settings


def start_spark(workdir: str, cpus: int):
    from gtfs_osm_sync_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    return get_spark(
        cpus=cpus,
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status store drops old jobs and stages at the default
            # 1000, which makes per-op stage sums go negative mid-run
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            # a fixed-size heap: G1 resizing it mid-run moved both op
            # times and resident memory from run to run
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            proc.kill()
            proc.wait()


def jvm_gc(spark) -> dict[str, float]:
    """Garbage-collection time and count of the driver JVM so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    out = {}
    for i in range(beans.size()):
        b = beans.get(i)
        out[b.getName()] = {"s": b.getCollectionTime() / 1e3, "count": b.getCollectionCount()}
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def digest(df, round_doubles: int | None = None) -> tuple[int, str]:
    """(row count, order-free hash sum) over every output column. Maps
    hash as their sorted entries; columns hash in name order. A count()
    alone would let Catalyst prune the columns nobody reads."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, T.MapType):
            c = F.array_sort(F.map_entries(c))
        elif round_doubles is not None and isinstance(f.dataType, T.DoubleType):
            c = F.round(c, round_doubles)
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it; with
    fewer than 40 samples, the 75th (a quarter of the samples beyond)."""
    if n >= 40:
        return 1.0 - 10.0 / n
    return 0.75


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc in a background thread."""

    def __init__(self, pid: int, interval_s: float = 0.25):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
            todo.extend(children.get(p, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 1e6
