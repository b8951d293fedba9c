"""Shared plumbing: host posture, Spark session lifetime, memory and
summary statistics, and the order-insensitive result comparison."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import signal
import statistics
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark's task slots: half the cores. The other half runs what a
    Spark job needs beside its tasks (the JVM's JIT compiler and GC
    threads, the Python driver, py4j), so those do not queue behind
    the tasks. On a 4-vCPU guest both workloads ran no slower as
    ``local[2]`` than as ``local[4]`` (figures in ``README.md``)."""
    return max(1, nproc() // 2)


def set_posture(work: str) -> None:
    """Environment for this host, set before pyspark is imported.

    ``session.get_spark`` defaults to ``local[32]``; the benchmark runs
    ``local[spark_cpus()]``. Spark's scratch space, Python's temp files,
    the warehouse and Derby all go under ``work`` instead of the
    checkout root."""
    for sub in ("local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str, traced: bool):
    """``get_spark()`` with its engine defaults; the extra confs only
    place files, silence the console progress bar and, when traced,
    keep enough jobs and stages in the status store between harvests."""
    from kfai_pipeline_spark.session import get_spark

    java_opts = (
        f"-Dderby.system.home={os.path.join(work, 'derby')} "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.ui.retainedJobs"] = "5000"
        conf["spark.ui.retainedStages"] = "5000"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, then wait until every process
    this run started (the JVM, PySpark's daemon and its workers) is gone."""
    from pyspark import SparkContext

    started = [p for p in _proc_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for pid in filter(_alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def _proc_tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        fields = _stat(int(name)) if name.isdigit() else None
        if fields is not None:
            parent[int(name)] = int(fields[1])
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, p in parent.items() if p == pid)
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process (``driver``), the JVM (``jvm``) and
    every other descendant alive now (``workers``: PySpark's daemon and
    the Python workers it forked), and their sum (``total``)."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue  # exited while listing
        role = "driver" if pid == os.getpid() else "jvm" if comm == "java" else "workers"
        out[role] += kb / 1024.0
    out["total"] = sum(out.values())
    return out


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: wall times stretch with it."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def median(xs) -> float:
    return float(statistics.median(xs))


def gmean_of_medians(walls: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median wall.
    Every kind weighs the same, so a slowdown of any one of them moves
    it: by 2% for a 20% slowdown of one kind in nine."""
    return float(statistics.geometric_mean(median(w) for w in walls.values()))


def tail(xs) -> dict[str, float]:
    """The highest percentile with at least ten samples above it, its
    value and the sample count. Below eleven samples no percentile
    qualifies and the minimum is reported as percentile 0."""
    xs = sorted(xs)
    idx = max(0, len(xs) - 11)
    return {
        "percentile": math.floor(100 * idx / len(xs)),
        "value": xs[idx],
        "samples": len(xs),
    }


class Deadline:
    """A time budget for one measured loop: it runs until ``seconds``
    have passed and at least ``min_ops`` operations are done."""

    def __init__(self, seconds: float, min_ops: int):
        self.end = time.perf_counter() + seconds
        self.min_ops = min_ops

    def more(self, done: int) -> bool:
        return done < self.min_ops or time.perf_counter() < self.end


# ------------------------------------------------------------ comparison
def _cell(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, "true" if v else "false")
    if isinstance(v, (int, float, decimal.Decimal)):
        v = float(v)
        return (1, "nan" if math.isnan(v) else repr(round(v, 9)))
    if isinstance(v, datetime.datetime):
        return (1, v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    if isinstance(v, (list, tuple)):
        return (1, repr([_cell(x) for x in v]))
    return (1, str(v))


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Name-sorted columns and sorted canonical rows: equal for two
    results that hold the same rows in any order. Numbers compare as
    floats, because the two engines may type a column differently."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(tuple(_cell(r[i]) for i in order) for r in rows),
    )
