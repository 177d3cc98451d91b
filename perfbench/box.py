"""The box the benchmark runs on: a Spark session sized from it, and /proc
readings of the benchmark's own process tree (CPU-seconds, peak RSS).

Nothing here touches ``validr_spark``: the session is the one a user job
on this box would open, and the /proc readings see the driver, the JVM
and every ``pyspark.daemon`` worker the JVM forks.
"""

from __future__ import annotations

import os
import subprocess

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    """Usable cores, as ``env -u OMP_NUM_THREADS nproc`` reports them (an
    inherited OMP_NUM_THREADS would make ``nproc`` print that instead)."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(["nproc"], env=env, capture_output=True,
                         text=True, check=True).stdout
    return int(out.strip())


def driver_memory_mb() -> int:
    """A quarter of MemAvailable, clamped to [1, 4] GiB: the box is shared,
    and the largest workload peaks near 3 GiB of JVM RSS at 1M rows."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
                return max(1024, min(4096, avail_mb // 4))
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def build_session(work: str, n_cores: int, memory_mb: int,
                  event_dir: str | None = None):
    """A ``local[n_cores]`` session whose scratch space (shuffle, spill,
    JVM temp files, warehouse) lies under ``work``.  ``event_dir`` turns
    on an uncompressed, unrolled event log there (traced runs only)."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{n_cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{memory_mb}m")
         # no /tmp/hsperfdata_<user> file: the run writes only under work;
         # the heap starts at its full size, so no pass pays for growing it
         .config("spark.driver.extraJavaOptions",
                 f"-XX:-UsePerfData -Xms{memory_mb}m -Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir",
                 "file://" + os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(2 * n_cores))
         .config("spark.sql.adaptive.enabled", "true")
         # inputs are tens of MB in 16 files: 8 MB splits give every core
         # several scan tasks
         .config("spark.sql.files.maxPartitionBytes", "8m")
         .config("spark.sql.files.openCostInBytes", "1m")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- /proc -------------------------------------------------------------------

def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks), or None if it exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces or parens: fields start after the LAST ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st[0]
    children: dict[int, list[int]] = {}
    for pid, ppid in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU-seconds (user+system, own and reaped children) of the tree under
    ``root``.  Steal is not in these counters, so a co-tenant taking the
    cores shows in wall time but not here."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / CLOCK_TICKS


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def jvm_pid(root: int) -> int | None:
    """The java process under ``root`` (the Spark driver JVM)."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except FileNotFoundError:
            continue
    return None


def peak_rss_mb(pid: int) -> float:
    """VmHWM of one process, in MiB."""
    return _status_kb(pid, "VmHWM") / 1024.0
