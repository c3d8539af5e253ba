"""Pins the engine from outside the program, starts and stops it, and reads
the CPU time of the benchmark's process tree.

The engine is pinned only through ``session.get_spark``'s arguments and
environment variables:

* ``local[n]`` and ``n`` shuffle partitions, ``n`` one less than the usable
  CPUs and at most 3: on a 4-CPU host one CPU is left to the Python process
  and the JVM's compiler and GC threads, which otherwise preempt task
  threads and make op latency noisy;
* 2 GB of Spark driver memory, and local, warehouse and event-log
  directories inside the run's work directory;
* no console progress bar, and the checkout on ``PYTHONPATH`` so that
  Python workers can import the package.

Everything else, Spark's reference-tracking cleaner included, keeps the
package's defaults.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import time

MAX_CORES = 3
DRIVER_MEMORY = "2g"
CLK_TCK = os.sysconf("SC_CLK_TCK")
# settle(): poll interval, how long an unchanged count of shuffle files
# counts as done, and the most it waits
SETTLE_POLL_S = 0.05
SETTLE_QUIET_S = 0.15
SETTLE_MAX_S = 10.0


def settings(root: str, work: str, trace: bool) -> tuple[int, dict[str, str], dict[str, str]]:
    """(cores, environment, Spark conf) for one run."""
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))
    env = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in [root, os.environ.get("PYTHONPATH", "")] if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return cores, env, conf


def start(cores: int, env: dict[str, str], conf: dict[str, str]):
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    if "spark.eventLog.dir" in conf:
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    from fortune_500_financial_insights_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shuffle_files(local_dir: str) -> int:
    return sum(n.startswith("shuffle_") for _, _, names in os.walk(local_dir) for n in names)


def settle(spark, local_dir: str) -> tuple[float, int]:
    """Between ops, outside their timing: free the last op's Python and JVM
    objects, then wait until Spark's cleaner has deleted their shuffle
    files (none left, or none deleted for ``SETTLE_QUIET_S``), so that the
    deletes land here rather than inside a later op. Returns the seconds
    waited and the shuffle files left."""
    t0 = time.perf_counter()
    gc.collect()
    spark._jvm.System.gc()
    last, since = -1, t0
    while True:
        n, now = shuffle_files(local_dir), time.perf_counter()
        if n != last:
            last, since = n, now
        if n == 0 or now - since >= SETTLE_QUIET_S or now - t0 >= SETTLE_MAX_S:
            return now - t0, n
        time.sleep(SETTLE_POLL_S)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def descendants(pid: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds used so far by ``pid`` (default: this process) and every
    live descendant, including what they reaped from exited children."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(pid or os.getpid(), table) if p in table) / CLK_TCK


def stop(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process it started
    (Python workers included) has exited."""
    from pyspark import SparkContext

    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while alive := [p for p in children if _running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            if time.monotonic() > deadline + 10:
                raise RuntimeError(f"processes {alive} did not exit")
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
