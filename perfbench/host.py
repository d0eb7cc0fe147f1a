"""Host-sized Spark session, work directory and process lifetime.

Cores come from the CPU affinity mask (what ``nproc`` reports without
``OMP_NUM_THREADS``), the driver heap is a quarter of host memory
capped at 4 GB, and every file Spark or Python writes lands under the
work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

WORK_DIR = ".perfbench_work"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    return f"{max(1, min(4, int(host_mem_gb() // 4)))}g"


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({type(e).__name__})"
    lines = [x for x in out.stderr.splitlines() if " version " in x]
    return lines[0] if lines else "unknown"


def host_info() -> dict:
    import pyspark

    return {
        "nproc": cores(),
        "mem_gb": round(host_mem_gb(), 1),
        "driver_mem": driver_mem(),
        "java": java_version(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


class Work:
    """Directories of one run under ``<root>/.perfbench_work``.

    ``run/`` holds this run's fixtures and outputs and is deleted on
    entry and exit; ``cache/`` keeps per-seed reference results;
    ``out/`` keeps the last trace and host record per workload."""

    def __init__(self, root: str):
        self.base = os.path.join(root, WORK_DIR)
        self.run = os.path.join(self.base, "run")
        self.cache = os.path.join(self.base, "cache")
        self.out = os.path.join(self.base, "out")
        self.tmp = os.path.join(self.run, "tmp")
        self.events = os.path.join(self.run, "events")

    def __enter__(self):
        shutil.rmtree(self.run, ignore_errors=True)
        for d in (self.run, self.cache, self.out, self.tmp, self.events):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run, "spark-local")
        # every JVM (launcher, driver, ``java -version``): temp files here,
        # and no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.run, ignore_errors=True)
        return False

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)


class Session:
    """One JVM for the whole run; ``start`` may be called again after
    ``stop`` to measure a fresh SparkContext in the same JVM."""

    def __init__(self, work: Work, event_log: bool = False):
        self.work = work
        self.event_log = event_log
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from gfp_gdal_spark.session import get_spark

        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": self.work.path("warehouse"),
        }
        if self.event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": self.work.events,
                }
            )
        self.spark = get_spark(app="perfbench", cores=cores(), extra_conf=conf)
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def rss_after_gc_mb(self) -> float:
        """Resident memory of the JVM after two full collections: what
        the run left behind (caches, broadcasts, leaks), without the
        heap-growth timing noise a high-water mark carries."""
        for _ in range(2):
            self.spark._jvm.java.lang.System.gc()
            time.sleep(0.5)
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024 / 1e6
        raise RuntimeError("VmRSS missing")

    def shutdown(self):
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)
