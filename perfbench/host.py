"""Host fit, session start and host steal accounting.

The driver heap is sized from ``MemTotal`` and the master is
``local[<cores>]``, both passed to ``session.get_spark``. Every scratch
directory Spark, the JVM and Python use is placed under the run's work
directory, and the package is put on the Python workers' path.
"""

from __future__ import annotations

import os
import sys

# heap share of physical memory, and its clamp: the host is shared and
# the inputs are small, so a modest heap is enough
HEAP_SHARE = 0.1
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 4096


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
    return int(min(max(total_mb * HEAP_SHARE, HEAP_MIN_MB), HEAP_MAX_MB))


def cpu_stat() -> list[int]:
    """Host-wide CPU time counters: user nice system idle iowait irq
    softirq steal (the first eight fields of /proc/stat's cpu line)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of CPU time between two ``cpu_stat`` readings that the
    hypervisor gave to other guests (steal)."""
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else 0.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants
    (the driver JVM and the Python workers); a descendant that has ended
    counts once its parent has reaped it."""
    used: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        used[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        kids.setdefault(int(f[1]), []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def prepare_env(repo_root: str, work_dir: str) -> None:
    """Environment the driver JVM and the Python workers inherit."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark(work_dir: str):
    from fec_cn_support_etl_spark.session import get_spark

    n = cores()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=f"{heap_mb()}m",
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def describe(spark) -> dict:
    import pyspark

    return {
        "cores": cores(),
        "heap_mb": heap_mb(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
