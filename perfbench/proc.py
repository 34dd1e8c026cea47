"""Process hygiene shared by the measured run and ``prepare.py``: keep every
file a Spark session writes inside the checkout, and stop the session, its
JVM and its Python workers before the process exits."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: str) -> dict[str, str]:
    """Point temp files at ``tmp``; returns the Spark settings that do the
    same for the JVM.

    The driver heap is ``$SPARK_DRIVER_MEM``, 2g unless set (the session's
    own default is 8g; 2g is ample for these workloads and keeps the run
    small on a shared host), with ``-Xms`` equal to it: heap growth
    decisions otherwise move peak RSS by a fifth between identical runs."""
    os.environ.update(TZ="UTC", TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, PYSPARK_PYTHON=sys.executable)
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    time.tzset()
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def shutdown(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    spawned = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = {p for p in spawned if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
