"""The machine the benchmark runs on: fingerprint, CPU steal, memory, session.

Everything here reads ``/proc`` directly (``psutil`` is not a dependency).
The Spark session is fitted to the box: ``local[nproc]``, one shuffle
partition per core, a driver heap derived from ``/proc/meminfo``, spill and
scratch space inside the benchmark's work directory, no UI, and the event
log on only for traced runs.
"""

from __future__ import annotations

import os
import platform
import threading


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            out[key] = int(rest.split()[0])
    return out


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return 100.0 * (end[1] - start[1]) / total if total > 0 else 0.0


def driver_memory_mb() -> int:
    """Driver heap: an eighth of MemTotal, clamped to [1, 4] GiB.

    In local mode the driver JVM is the only executor, and it shares the
    box with one Python worker per core plus this process."""
    total_mb = meminfo_kb()["MemTotal"] // 1024
    return max(1024, min(4096, total_mb // 8))


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    """``extra_conf`` for ``webgraph_spark.session.get_spark``."""
    tmp = os.path.join(work, "tmp")
    heap_mb = driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, touched in full at start, keeps the JVM's
        # resident size from depending on when the collector grows or first
        # reaches a region, so peak RSS moves with memory held outside the
        # heap budget; no perf-data file in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the status store keeps every job and stage of a run, so the
        # repetition's job and shuffle counts are complete
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def fingerprint() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.partition(":")[2].strip()
                break
    return {
        "nproc": nproc(),
        "mem_total_mb": meminfo_kb()["MemTotal"] // 1024,
        "cpu_model": model,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
    }


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """``(pid, /proc/pid/stat fields after the command name)`` for ``root``
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        stats[int(name)] = stat[stat.rfind(")") + 2:].split()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            stack.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid, _ in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and all its descendants: the JVM and the Python workers."""
    ticks = sum(
        sum(int(x) for x in fields[11:15]) for _, fields in _tree(os.getpid())
    )
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread sampling the process tree's RSS every ``interval``.

    ``peak_mb`` covers samples taken while ``active`` is set, so set-up and
    oracle work outside the timed part of a repetition do not count. It is
    the highest size held over two consecutive samples: a child the JVM
    spawns (Hadoop's local file system runs shell commands) shares the JVM's
    pages until it execs, and a sample taken in that instant would count
    the JVM twice."""

    def __init__(self, active: threading.Event, interval: float = 0.1):
        self.interval = interval
        self.active = active
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        last = 0
        while not self._stop.wait(self.interval):
            if not self.active.is_set():
                last = 0
                continue
            rss = _tree_rss_bytes(root)
            self._peak = max(self._peak, min(last, rss))
            last = rss

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self._peak / (1 << 20)
