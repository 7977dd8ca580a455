"""Process environment for a benchmark run, pinned before Spark starts.

Everything the engine reads from the environment is fixed here so a run
is sized to the machine it runs on and writes only under the checkout:
``local[nproc]`` with ``nproc`` shuffle partitions, a driver heap that
fits in RAM, Spark and Python scratch under ``perfbench/.work``, and a
``PYTHONPATH`` the Python workers can import the engine from.
"""

from __future__ import annotations

import os
import resource
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of RAM, between 1 and 4 GiB: the runs hold a few
    hundred MB of data, and the box is shared."""
    return f"{max(1, min(4, int(_mem_total_gb() // 4)))}g"


def pin(run_dir: Path) -> None:
    """Set every variable the engine and Spark read, before any import
    of pyspark launches the JVM."""
    local = run_dir / "spark-local"
    tmp = run_dir / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    path = os.environ.get("PYTHONPATH", "")
    if str(ROOT) not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), path) if p)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def spark_conf(run_dir: Path, event_log: Path | None = None) -> dict[str, str]:
    """``extra_conf`` for ``session.get_spark``; with ``event_log``, the
    uncompressed single-file event log ``trace.parse_event_log`` reads."""
    tmp = run_dir / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class HostShares:
    """Shares of all CPU time the hypervisor took (steal) and that sat
    waiting on I/O (iowait) between construction and :meth:`read`, from
    ``/proc/stat``: what the host did to a slow run."""

    def __init__(self) -> None:
        self._start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]

    def read(self) -> dict[str, float]:
        d = [b - a for a, b in zip(self._start, self._read())]
        total = sum(d) or 1
        return {"cpu_steal_share": d[7] / total, "cpu_iowait_share": d[4] / total}


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
