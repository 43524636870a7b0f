"""Spark session lifetime: build it inside the benchmark's own state
directory, measure its memory, and stop it so that no JVM or Python
worker outlives the benchmark process."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def start_session(state: str, trace: bool):
    """``local[$SPARK_GRAFT_CPUS]`` with the program's recommended conf.
    Temp files, Spark local dirs (unless ``SPARK_LOCAL_DIRS`` is set) and
    the warehouse stay under ``state``."""
    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import recommended_session_conf

    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and its Python workers
    n = cpus()
    b = SparkSession.builder.master(f"local[{n}]").appName("lakebench")
    for k, v in recommended_session_conf(n).items():
        b = b.config(k, v)
    b = (
        b.config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(state, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        b = b.config("spark.local.dir", os.path.join(state, "spark-local"))
    if trace:
        # harvesting is per operation; the higher limits only guard
        # against an operation that runs more jobs than the defaults keep
        b = b.config("spark.ui.retainedJobs", "100000").config("spark.ui.retainedStages", "100000")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_seconds() -> tuple[float, float, float]:
    """(busy, stolen, total) CPU seconds over all CPUs since boot, from
    /proc/stat.  Busy counts every process on the machine, so it includes
    the JVM's compiler and GC threads and the Python workers; stolen is
    time the hypervisor ran someone else while this machine had work,
    which busy leaves out."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, stolen = v
    return (user + nice + system + irq + softirq) / hz, stolen / hz, sum(v) / hz


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)
    except OSError:
        return {}


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0 when it is gone."""
    v = _status(pid).get("VmHWM", "0 kB").split()[0]
    return int(v) / 1024.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` in the parent tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    st = _status(pid).get("State", "")
    return bool(st) and not st.startswith("Z")


def _stop_spark(spark) -> None:
    try:
        spark.stop()
    except Exception as ex:  # the JVM may already be gone on an interrupt
        print(f"# spark.stop: {type(ex).__name__}: {ex}", file=sys.stderr)


def stop(spark) -> None:
    """Stop Spark, then the py4j gateway and its JVM, then any worker the
    JVM left behind.  Returns only when all of them have exited."""
    from pyspark import SparkContext

    below = descendants(os.getpid())
    if spark is not None:
        # an interrupt can leave a py4j call half done, and spark.stop()
        # behind it may never return: give it a deadline, then go on to
        # end the JVM, which also ends the stuck call
        t = threading.Thread(target=_stop_spark, args=(spark,), daemon=True)
        t.start()
        t.join(30)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception as ex:
            print(f"# gateway.shutdown: {type(ex).__name__}: {ex}", file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()  # spark-submit exits when its parent's pipe closes
        except OSError:
            pass
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=15)
    SparkContext._gateway = SparkContext._jvm = None
    # workers exit once the JVM is gone; a JVM interrupted before its
    # gateway connected is not known to SparkContext and needs a signal
    for sig, grace in ((None, 5), (signal.SIGTERM, 5), (signal.SIGKILL, 5)):
        live = [p for p in below if _alive(p)]
        for pid in live if sig else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if _alive(p)]
        if not live:
            return
