"""Session hygiene owned by the benchmark: its own work, local, temp and
event-log directories under the checkout, an explicit `local[nproc]`
master, block cleanup between operations, and process memory probes."""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(workload: str) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # children (the JVM, Python workers, git under run_command) inherit
    # these: Spark block/shuffle files and temp files stay in the work
    # dir, and git never discovers a repository above it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["GIT_CEILING_DIRECTORIES"] = work
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (spark-submit's launcher and Spark's own): temp files in
    # the work dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    return work


def start_session(work: str, event_log: bool):
    """Start the package's tuned session on `local[nproc]`; returns
    (spark, seconds). `get_spark` would otherwise default to 32 threads."""
    from blq_cli_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{ncpu()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


class BlockJanitor:
    """Frees the persistent RDD blocks an operation created, and only
    those: ids present before `mark()` are left alone, so a user's
    caches survive. Blocking unpersist, so the next timed operation
    starts with the memory back."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._before: set[int] = set()

    def _ids(self) -> set[int]:
        return {int(k) for k in self._jsc.getPersistentRDDs().keySet().toArray()}

    def mark(self) -> None:
        self._before = self._ids()

    def release(self) -> None:
        rdds = self._jsc.getPersistentRDDs()
        for rid in self._ids() - self._before:
            rdds.get(rid).unpersist(True)


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, skipping Spark's hidden and
    checksum files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
