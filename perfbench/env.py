"""Process environment, Spark session start and shutdown, memory readings.

The benchmark pins everything a result depends on and records it:
``local[nproc]``, shuffle partitions = nproc, a driver heap that fits the
machine, Spark's scratch directories inside the checkout, and a
``PYTHONPATH`` that lets Python workers import the package from any
working directory (workers run the datamart reader, ``mapInPandas`` and
the multimodal UDFs).
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
DRIVER_HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``:
    steal is time a virtual CPU waited for the host."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def prepare(work: Path) -> None:
    """Fresh scratch tree and the environment the JVMs and Python workers
    inherit; temporary files stay inside the checkout too."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "spark-local").mkdir(parents=True)
    (work / "tmp").mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (the launcher too): temp files in the checkout, and no
    # hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(":"))]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_spark(app: str, trace: bool):
    """The program's own session factory with the pinned settings.  A
    traced run keeps every job, stage and SQL execution in the status
    store, so none is evicted before the tracer reads it."""
    from nr_rfc_dischargeobs_spark.session import get_spark

    n = nproc()
    retain = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    } if trace else {}
    spark = get_spark(
        app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            # JVM unified logging and the progress bar both write to
            # stdout.  The heap is fixed and touched at start, so resident
            # memory does not depend on when G1 happened to grow it: peak
            # RSS then moves with off-heap and Python memory, and heap
            # pressure shows as GC time
            "spark.driver.extraJavaOptions": (
                f"-Xlog:disable -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            **retain,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _children(pid: int) -> list[int]:
    kids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            kids.append(int(entry.name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Restart this process's peak resident set from its current size, so
    the benchmark's fixture generation does not count in it."""
    try:
        with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus the driver JVM."""
    kb = _hwm_kb(os.getpid())
    pid = jvm_pid(spark) if spark is not None else None
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def old_gen_peak_mb(spark) -> float:
    """Peak used size of the driver JVM's old generation.  The heap is
    pre-touched, so ``peak_rss_mb`` cannot see heap use; this can."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            peak += pool.getPeakUsage().getUsed()
    return peak / 1024.0 / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    pid = jvm_pid(spark)
    workers = _children(pid) if pid else []
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            spark.sparkContext._gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    for w in workers:
        while Path(f"/proc/{w}").exists() and time.time() < deadline:
            try:
                os.kill(w, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        if Path(f"/proc/{w}").exists():
            try:
                os.kill(w, 9)
            except ProcessLookupError:
                pass


def describe(spark, seed: int) -> dict:
    """The pinned environment, recorded with every result."""
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "seed": seed,
        "nproc": nproc(),
        "ram_gb": ram_gb(),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty(
            "java.version"
        ),
        "python_version": platform.python_version(),
    }
